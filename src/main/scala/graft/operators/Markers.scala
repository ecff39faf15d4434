package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Commit-marker tokens for the persisted-artifact lifecycle (r15,
  * ADVICE r14): every index commit writes a MONOTONIC UNIQUE token into
  * its `_DONE` marker's CONTENTS, and every commit-state memo keys off
  * that token instead of the marker's modification time. Mtime keying
  * is unsound on filesystems with coarse timestamp granularity (1 s on
  * several object-store/HDFS-compat layers): two mutations landing in
  * one tick leave a stale memoized row/match count that silently
  * mis-prices probe widths and brute-vs-probed branches. The token is
  * `nanotime_counter_uuid` — unique across processes (UUID), ordered
  * within one (nanotime+counter) — so any recreate changes the key even
  * when the clock does not move.
  *
  * Legacy markers (written empty before r15) fall back to the mtime in
  * [[token]], so an existing deployment's indexes stay readable and
  * upgrade to token keying at their next mutation.
  */
object Markers {
  private val ctr = new java.util.concurrent.atomic.AtomicLong()

  private def freshToken(): String =
    s"${System.nanoTime()}_${ctr.incrementAndGet()}_${java.util.UUID.randomUUID()}"

  /** Create (or recreate) the commit marker at `p` bearing a fresh
    * unique token — the one write every build/extend/compact/forget/
    * retrain commit path runs. Overwrites: the marker's job is to
    * CHANGE on every commit.
    *
    * The token is written to a sibling temp path and renamed over `p`
    * (ADVICE r15): `fs.create(p, true)` truncates in place, so a
    * concurrent [[token]] reader in the create→write window would see a
    * zero-length marker and take the legacy-mtime branch — briefly
    * reintroducing the coarse-mtime collision the tokens exist to
    * remove. `FileContext.rename(OVERWRITE)` is the atomic-overwrite
    * API on HDFS-compat filesystems, so readers observe either the
    * previous complete token or the new one — never a truncated,
    * partial, or absent marker.
    */
  def commit(fs: FileSystem, p: Path): Unit = commitValue(fs, p, freshToken())

  /** Write a CALLER-supplied token into the marker at `p` with the same
    * atomic temp+rename publish as [[commit]] — the idempotence-marker
    * write (`_BATCH`): streaming extend loops record the last-applied
    * batch token so an at-least-once foreachBatch replay can recognize
    * an already-committed batch (ADVICE r15). The value must stay out of
    * [[token]]'s reserved ranges so marker states remain disjoint.
    */
  def commitValue(fs: FileSystem, p: Path, value: String): Unit = {
    require(value.nonEmpty && value != "absent" && !value.startsWith("mtime:"),
      s"marker value '$value' collides with a reserved token range")
    val tmp = new Path(p.getParent,
      s".${p.getName}.${ctr.incrementAndGet()}_${System.nanoTime()}.tmp")
    graft.sources.ArtifactFs.writeFile(fs, tmp, value.getBytes("UTF-8"))
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The marker's commit token: its contents when non-empty (r15+
    * markers), the mtime for legacy empty markers, `"absent"` when the
    * marker does not exist — three disjoint ranges, so a memo keyed on
    * this can never confuse the states.
    */
  def token(fs: FileSystem, p: Path): String =
    if (!fs.exists(p)) "absent"
    else {
      val st = fs.getFileStatus(p)
      if (st.getLen == 0) s"mtime:${st.getModificationTime}"
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    }
}
