package graft.sources

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem graft writes its artifacts through: Hadoop's
  * checksummed [[LocalFileSystem]] (`.crc` sidecars and all) over a raw
  * local FS whose `setPermission` sets the bits with a `chmod` syscall
  * instead of starting a process.
  *
  * Hadoop's local FS sets the permission of every file, `.crc` sidecar
  * and directory it creates. Without the native libhadoop, that call
  * forks `chmod` through `Shell.execCommand`: one process per file, which
  * is most of the cost of writing a batch-sized index append (one small
  * file per touched `key=v` dir). The bits set here are the ones the
  * forked `chmod` sets — the permission's mode, plus a directory's
  * set-user/group-id bits, which `chmod` keeps for a directory given a
  * four-digit mode — so the files, sidecars and modes on disk are the
  * same. With libhadoop loaded, the native call runs as before.
  *
  * Only writes use it: [[Tables.writeArtifact]] names it in the write's
  * own options (the session's configuration is never changed), and the
  * driver-side marker and staging creates take it from [[of]]. Other
  * schemes are untouched.
  */
class ArtifactFs extends LocalFileSystem(new ArtifactFs.ForkFreeRawFs) {
  /** A rename onto an existing FILE fails, as on HDFS and in Hive's
    * `ProxyLocalFileSystem` (the `file:` FS whenever Spark's Hive jars
    * are on the classpath). Hadoop's own local FS would replace the
    * file; graft's writes never rename onto one. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object ArtifactFs {
  /** Files and directories whose permission was set without a fork, in
    * this JVM. */
  private[graft] val forkFreeSets = new AtomicLong()

  /** The raw local FS under [[ArtifactFs]]. */
  final class ForkFreeRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (org.apache.hadoop.io.nativeio.NativeIO.isAvailable) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        val keep = if (java.nio.file.Files.isDirectory(file))
            java.nio.file.Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 06000
          else 0
        java.nio.file.Files.setAttribute(file, "unix:mode",
          Integer.valueOf((permission.toShort & 07777) | keep))
        forkFreeSets.incrementAndGet()
      }
  }

  /** True for Hadoop's local FS, Hive's `ProxyLocalFileSystem` over it,
    * or this one: the `file:` filesystems whose writes [[ArtifactFs]]
    * takes over byte for byte. A `file:` FS of any other class is left
    * to itself. */
  private def isLocal(fs: FileSystem): Boolean = fs.isInstanceOf[ArtifactFs] ||
    fs.getClass == classOf[LocalFileSystem] ||
    fs.getClass.getName == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"

  /** The options that make a Spark write to `fs` create its files through
    * [[ArtifactFs]] — in its task writers and its committer, which build
    * their filesystems from the write's Hadoop conf. The FS cache is off
    * for that conf, as a cached `file:` instance would be Hadoop's own.
    * Empty for any other filesystem. */
  private[graft] def writeOptions(fs: FileSystem): Map[String, String] =
    if (isLocal(fs)) Map("fs.file.impl" -> classOf[ArtifactFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    else Map.empty

  /** `fs` as an [[ArtifactFs]] over the same URI and conf, for the
    * driver-side creates of a commit (markers, staging records); any
    * other filesystem is returned as it is. */
  def of(fs: FileSystem): FileSystem = fs match {
    case a: ArtifactFs => a
    case _ if isLocal(fs) =>
      val a = new ArtifactFs
      a.initialize(fs.getUri, fs.getConf)
      a
    case _ => fs
  }

  /** Create (or replace) the small file `p` holding `bytes` through
    * [[of]]`(fs)`: the driver-side marker, manifest and staging-record
    * write. */
  def writeFile(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = of(fs).create(p, true)
    try out.write(bytes) finally out.close()
  }
}
