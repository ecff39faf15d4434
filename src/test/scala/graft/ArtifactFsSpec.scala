package graft

import java.nio.file.{Files => JFiles, Paths}
import org.apache.hadoop.fs.{FileSystem, FileUtil, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HashFunctions.portableHash31
import graft.functions.TextFunctions.tokenize
import graft.operators.{Dedup, EmbeddingSearch, Forget, Markers, TextAnalysis}
import graft.sources.{ArtifactFs, Tables}

/** The fork-free artifact filesystem: what it creates on disk is what
  * Hadoop's local FS creates, the artifact write paths go through it, and
  * a partitioned extend writes one file per touched dir on all cores.
  */
class ArtifactFsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val conf = spark.sparkContext.hadoopConfiguration
  private val local = FileSystem.getLocal(conf)

  private def mode(p: String): Int =
    JFiles.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 07777

  /** ArtifactFs's fork-free permission sets made while `body` runs. */
  private def forkFree(body: => Unit): Long = {
    val before = ArtifactFs.forkFreeSets.get()
    body
    ArtifactFs.forkFreeSets.get() - before
  }

  /** 460 generated docs of 12 words over a 12-word vocabulary, and 460
    * 16-d vectors with a label. */
  private val vocab = Seq("spark", "join", "order", "window", "index", "forget", "vector",
    "shard", "batch", "token", "query", "cell")
  private def docs = spark.range(0, 460).select(col("id").as("doc_id"),
    concat_ws(" ", (1 to 12).map(i => element_at(typedLit(vocab),
      (pmod(col("id") * (7 * i + 3) + i, lit(vocab.size)) + 1).cast("int"))): _*).as("text"))
  private def emb = spark.range(0, 460).select(col("id").as("vec_id"),
    transform(sequence(lit(0), lit(15)), i => sin(col("id").cast("double") * (i + 1)))
      .cast("array<float>").as("embedding"),
    pmod(col("id"), lit(10)).cast("int").as("label"))

  private def tmp(name: String): String = JFiles.createTempDirectory(s"graft_afs_$name").toString

  test("files, .crc sidecars and dirs get the bits Hadoop's local FS gives them") {
    val root = tmp("bits")
    // a setgid parent: chmod keeps a directory's set-id bits, so must we
    JFiles.setAttribute(Paths.get(root), "unix:mode", Integer.valueOf(02775))
    for (umask <- Seq("022", "027")) {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      c.set("fs.permissions.umask-mode", umask)
      val hadoop = FileSystem.newInstance(local.getUri, c)
      val ours = ArtifactFs.of(hadoop)
      assert(ours.isInstanceOf[ArtifactFs])
      def write(fs: FileSystem, side: String): Unit = {
        val out = fs.create(new Path(s"$root/$side$umask/d/f"), true)
        try out.write("graft".getBytes("UTF-8")) finally out.close()
        fs.mkdirs(new Path(s"$root/$side$umask/e"), new FsPermission("750"))
      }
      assert(forkFree(write(hadoop, "h")) == 0)
      // the top dir, d, f, f's sidecar and e
      assert(forkFree(write(ours, "a")) >= 5)
      for (rel <- Seq("", "/d", "/d/f", "/d/.f.crc", "/e")) {
        val (h, a) = (s"$root/h$umask$rel", s"$root/a$umask$rel")
        assert(mode(h) == mode(a), f"$rel%s under umask $umask: ${mode(h)}%o vs ${mode(a)}%o")
      }
      assert((mode(s"$root/a$umask/d") & 02000) != 0, "the setgid bit of a new dir was dropped")
      assert(JFiles.readAllBytes(Paths.get(s"$root/h$umask/d/.f.crc")).sameElements(
        JFiles.readAllBytes(Paths.get(s"$root/a$umask/d/.f.crc"))))
      hadoop.close()
    }
  }

  test("seam writes create through ArtifactFs; plain writes, other filesystems and the session conf do not") {
    val other = new FilterFileSystem(local) { override def getScheme: String = "graftother" }
    assert(ArtifactFs.of(other) eq other)
    assert(ArtifactFs.writeOptions(other).isEmpty)
    val raw = new RawLocalFileSystem
    raw.initialize(local.getUri, conf)
    assert(ArtifactFs.of(raw) eq raw, "a file: FS of another class is not taken over")
    assert(ArtifactFs.writeOptions(raw).isEmpty)
    assert(ArtifactFs.writeOptions(local).get("fs.file.impl").contains(classOf[ArtifactFs].getName))
    // a seam write creates its task files, their sidecars, dirs and
    // _SUCCESS through ArtifactFs; a plain write, and the session conf
    // after the seam write, do not name it
    val before = conf.get("fs.file.impl")
    val df = spark.range(0, 100).select(col("id"), (col("id") % 4).cast("int").as("k"))
    val root = tmp("seam")
    assert(forkFree(Tables.writeArtifact(df.repartition(1), s"$root/t", "overwrite", Seq("k"))) >= 8)
    assert(forkFree(df.repartition(1).write.partitionBy("k").parquet(s"$root/u")) == 0)
    assert(spark.read.parquet(s"$root/t").count() == 100)
    assert(conf.get("fs.file.impl") == before)
    assert(!new Path(s"$root/x").getFileSystem(conf).isInstanceOf[ArtifactFs])
  }

  test("an extend, a forget and a marker commit create their files through ArtifactFs") {
    val root = tmp("paths")
    val (dd, bm, ivf) = (s"$root/dd", s"$root/bm", s"$root/ivf")
    val vecs = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    assert(forkFree {
      Dedup.buildDedupIndex(docs.where(col("doc_id") < 300), dd)
      TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 300), bm)
      EmbeddingSearch.buildIvfIndex(vecs.where(col("vec_id") < 300), ivf)
    } > 0, "the builds")
    val batch = docs.where(col("doc_id") >= 300 && col("doc_id") < 340)
    assert(forkFree(Dedup.extendDedupIndex(dd, batch)) > 0, "extendDedupIndex")
    assert(forkFree(TextAnalysis.extendBm25Index(bm, batch)) > 0, "extendBm25Index")
    assert(forkFree(EmbeddingSearch.extendIvfIndex(ivf,
      vecs.where(col("vec_id") >= 300 && col("vec_id") < 340))) > 0, "extendIvfIndex")
    val ids = spark.range(300, 304).select(col("id").as("doc_id"), col("id").as("vec_id"))
    assert(forkFree(Forget.forgetEverywhere(spark, s"$root/_MANIFEST", ids,
      Seq(Forget.textDedupTarget(dd), Forget.bm25Target(bm), Forget.ivfTarget(ivf)))) > 0,
      "forgetEverywhere")
    // a commit creates its temp file and that file's sidecar
    assert(forkFree(Markers.commit(local, new Path(s"$root/_M"))) == 2, "Markers.commit")
    assert(Markers.token(local, new Path(s"$root/_M")).nonEmpty)
  }

  /** Data files of a table, by parent dir name. */
  private def filesByDir(table: String): Map[String, Set[String]] =
    Tables.dataFiles(table).groupBy(_.getPath.getParent.getName)
      .map { case (d, fs) => d -> fs.map(_.getPath.getName).toSet }

  private def rowsOf(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
  }

  test("a many-partition extend adds one file per touched dir and the rows the plain appends add") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val root = tmp("layout")
      val (bm, ivf, bmOld, ivfOld) = (s"$root/bm", s"$root/ivf", s"$root/bm_old", s"$root/ivf_old")
      val emb = this.emb
      val vecs = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"),
        col("label"))
      TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 400), bm)
      EmbeddingSearch.buildIvfIndex(vecs.where(col("vec_id") < 400), ivf, nClusters = 16,
        meta = Seq("label"))
      for ((a, b) <- Seq(bm -> bmOld, ivf -> ivfOld))
        require(FileUtil.copy(local, new Path(a), local, new Path(b), false, conf))
      val bDocs = docs.where(col("doc_id") >= 400).repartition(4)
      val bVecs = vecs.where(col("vec_id") >= 400).repartition(4)
      assert(bVecs.rdd.getNumPartitions >= 4)
      val parted = Seq(s"$bm/postings", s"$bm/fwd", s"$ivf/ivf", s"$ivf/idmap")
      val before = parted.map(filesByDir)
      TextAnalysis.extendBm25Index(bm, bDocs, autoCompact = false)
      EmbeddingSearch.extendIvfIndex(ivf, bVecs, autoCompact = false)

      // the same batch appended the way the extends appended it before:
      // BM25 as a plain partitioned write of the batch's partitions, IVF
      // clustered by a bare repartition on the key
      val tf = bDocs.select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      tf.withColumn("bucket", pmod(portableHash31(col("term")),
          lit(TextAnalysis.Bm25IndexBuckets)).cast("int"))
        .write.mode("append").partitionBy("bucket").parquet(s"$bmOld/postings")
      tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        .write.mode("append").parquet(s"$bmOld/doclens")
      tf.select(col("doc_id"), col("term"),
          pmod(col("doc_id"), lit(TextAnalysis.Bm25FwdBuckets)).cast("int").as("db"))
        .write.mode("append").partitionBy("db").parquet(s"$bmOld/fwd")
      val assigned = EmbeddingSearch.assignWithIndex(emb.where(col("vec_id") >= 400),
        EmbeddingSearch.loadKmeansIndex(spark, s"$ivfOld/cent"))
      val rows = assigned.join(bVecs, "vec_id")
      rows.select(col("cl"), col("vec_id"), col("v"), col("label")).repartition(col("cl"))
        .write.mode("append").partitionBy("cl").parquet(s"$ivfOld/ivf")
      rows.select(col("vec_id"), col("cl"),
          pmod(col("vec_id"), lit(EmbeddingSearch.IvfIdBuckets)).cast("int").as("ib"))
        .repartition(col("ib")).write.mode("append").partitionBy("ib").parquet(s"$ivfOld/idmap")
      val radiiOld = spark.read.parquet(s"$ivfOld/radii")
        .union(assigned.groupBy("cl").agg(min(col("centrality")).as("mincos")))
        .groupBy("cl").agg(min(col("mincos")).as("mincos"))

      val oldParted = Seq(s"$bmOld/postings", s"$bmOld/fwd", s"$ivfOld/ivf", s"$ivfOld/idmap")
      for (((t, old), b) <- parted.zip(oldParted).zip(before)) {
        def addedIn(table: String) = filesByDir(table)
          .map { case (d, fs) => d -> (fs -- b.getOrElse(d, Set.empty)) }.filter(_._2.nonEmpty)
        val (added, oldAdded) = (addedIn(t), addedIn(old))
        assert(added.nonEmpty, s"$t: the extend added nothing")
        assert(added.values.forall(_.size == 1),
          s"$t: dirs with more than one new file: ${added.filter(_._2.size > 1).keys}")
        assert(added.keySet == oldAdded.keySet, s"$t: the extend touched other dirs")
        if (t.startsWith(bm)) assert(oldAdded.values.exists(_.size > 1),
          s"$t: the plain append wrote one file per dir too, so this batch shows nothing")
        assert(rowsOf(spark.read.parquet(t)) == rowsOf(spark.read.parquet(old)), s"$t rows")
      }
      assert(rowsOf(spark.read.parquet(s"$bm/doclens")) ==
        rowsOf(spark.read.parquet(s"$bmOld/doclens")), "doclens rows")
      assert(rowsOf(spark.read.parquet(s"$ivf/radii")) == rowsOf(radiiOld), "radii rows")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
