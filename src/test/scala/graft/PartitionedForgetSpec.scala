package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, EmbeddingSearch, Forget, TextAnalysis}
import graft.sources.Tables

/** The partition-scoped forget: a request small enough to collect
  * rewrites only the `key=v` dirs of the BM25 and IVF tables that can hold
  * a forgotten id, and must leave exactly the rows the whole-table rewrite
  * leaves — on every table of the dedup, BM25 and IVF targets, through
  * crashes between dir swaps, and when a routing table cannot place a key.
  */
class PartitionedForgetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
  private val vecs = Tables.embeddings(spark, dir)
    .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"), col("label"))
  /** Extra records of the extend batch: a negative id, an empty text, and
    * (never forgotten) a doc whose words no other doc uses, so some
    * postings buckets hold no forgotten doc. */
  private val extraDocs = Seq((-5L, "a negative id document about spark joins"), (900L, ""),
    (901L, "zzqx quuxly frobnicate wibble")).toDF("doc_id", "text")
  private def extraVecs = vecs.where(col("vec_id").isin(5L, 6L, 8L))
    .withColumn("vec_id", when(col("vec_id") === 5L, lit(-5L))
      .when(col("vec_id") === 6L, lit(900L)).otherwise(lit(901L)))

  /** (doc index, bm25 index, ivf index) under `root`. */
  private def paths(root: String) = (s"$root/dd", s"$root/bm", s"$root/ivf")

  private def targets(root: String) = {
    val (dd, bm, ivf) = paths(root)
    Seq(Forget.textDedupTarget(dd), Forget.bm25Target(bm), Forget.ivfTarget(ivf))
  }

  /** The eight per-record tables of the three targets. */
  private def tables(root: String): Seq[String] = targets(root).flatMap(t => t.tables.map(x => s"${t.indexPath}/$x"))

  /** Build all three indexes over ids < `split` (and < `limit`), then
    * extend them with ids in [split, limit) plus the extra records. */
  private def buildAll(root: String, split: Long, limit: Long, extras: Boolean): Unit = {
    val (dd, bm, ivf) = paths(root)
    val corpus = docs.where(col("doc_id") < split)
    TextAnalysis.buildBm25Index(corpus, bm)
    EmbeddingSearch.buildIvfIndex(vecs.where(col("vec_id") < split), ivf,
      nClusters = math.min(32L, split).toInt, meta = Seq("label"))
    Dedup.buildDedupIndex(corpus, dd)
    if (limit > split) {
      val batch = docs.where(col("doc_id") >= split && col("doc_id") < limit)
      val bDocs = if (extras) batch.union(extraDocs) else batch
      val bVecs0 = vecs.where(col("vec_id") >= split && col("vec_id") < limit)
      val bVecs = if (extras) bVecs0.union(extraVecs) else bVecs0
      Dedup.extendDedupIndex(dd, bDocs)
      TextAnalysis.extendBm25Index(bm, bDocs, autoCompact = false)
      EmbeddingSearch.extendIvfIndex(ivf, bVecs, autoCompact = false)
    }
  }

  /** One set of indexes, built once; every test forgets from a copy. */
  private lazy val pristine: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_pfgt").toString + "/pristine"
    buildAll(root, split = 400, limit = 450, extras = true)
    root
  }

  private def copyOf(src: String, name: String): String = {
    val dst = java.nio.file.Files.createTempDirectory(s"graft_pfgt_$name").toString + "/idx"
    require(FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, spark.sparkContext.hadoopConfiguration))
    dst
  }

  /** A table's rows as sorted strings, columns in name order. */
  private def rowsOf(table: String): Seq[String] = {
    val df = spark.read.parquet(table)
    df.select(df.columns.sorted.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted
  }

  private def keyCol(table: String): String =
    if (table.endsWith("/ivf") || table.endsWith("/idmap")) "vec_id" else "doc_id"

  /** name → (length, mtime) of each data file, per `key=v` dir. */
  private def filesByDir(table: String): Map[String, Set[(String, Long, Long)]] =
    Tables.dataFiles(table).groupBy(_.getPath.getParent.getName).map { case (d, fs) =>
      d -> fs.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet }

  private val idSchema = StructType(Seq(StructField("doc_id", LongType), StructField("vec_id", LongType)))

  /** A request frame that is not a LocalRelation (collecting it is a job). */
  private def request(ids: Seq[java.lang.Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(i => Row(i, i)), 1), idSchema)

  /** Build-side ids, extend-side ids, the negative and the empty-text
    * record, absent ids, a null, and every id of bucket 3 (so `fwd/db=3`
    * and `idmap/ib=3` empty). */
  private val forgotten: Seq[java.lang.Long] =
    (Seq(7L, 130L, 257L, 410L, 433L, -5L, 900L, 123456L, -777L) ++ (3L until 450L by 64L))
      .map(java.lang.Long.valueOf) :+ null
  private val forgottenSet = forgotten.filter(_ != null).map(_.longValue).toSet

  /** The over-cap twin of a request: absent padding ids push it past
    * [[EmbeddingSearch.LocalBatchCap]], so every table is rewritten whole. */
  private def overCap(ids: Seq[java.lang.Long]): DataFrame =
    request(ids ++ (0 until EmbeddingSearch.LocalBatchCap + 10).map(i => java.lang.Long.valueOf(10000000L + i)))

  /** The clean result: the routed forget on one copy, the whole-table
    * forget on another, with the untouched dirs' files recorded. */
  private lazy val clean: (String, String, Map[String, Map[String, Set[(String, Long, Long)]]]) = {
    val (routed, whole) = (copyOf(pristine, "routed"), copyOf(pristine, "whole"))
    val before = tables(routed).map(t => t -> filesByDir(t)).toMap
    Forget.forgetEverywhere(spark, s"$routed/_M", request(forgotten), targets(routed))
    Forget.forgetEverywhere(spark, s"$whole/_M", overCap(forgotten), targets(whole))
    (routed, whole, before)
  }

  test("routed forget leaves the rows of the whole-table forget on all eight tables") {
    val (routed, whole, _) = clean
    assert(tables(routed).size == 8)
    for ((r, w) <- tables(routed).zip(tables(whole))) {
      val got = rowsOf(r)
      assert(got == rowsOf(w), s"$r differs from the whole-table forget")
      val k = keyCol(r)
      assert(spark.read.parquet(r).where(col(k).isin(forgottenSet.toSeq: _*)).isEmpty,
        s"a forgotten $k survived in $r")
    }
    // the request did remove rows: the negative, the empty-text record and
    // a build-side doc were all indexed before it
    val p = paths(pristine)
    assert(spark.read.parquet(s"${p._2}/doclens").where(col("doc_id") === -5L).count() == 1)
    assert(spark.read.parquet(s"${p._3}/ivf").where(col("vec_id") === 900L).count() == 1)
    assert(spark.read.parquet(s"${p._1}/exact").where(col("doc_id") === 900L).count() == 1)
    // every id of bucket 3 was forgotten: the dirs are gone in both
    for (root <- Seq(routed, whole); t <- Seq("bm/fwd/db=3", "ivf/idmap/ib=3"))
      assert(!fs.exists(new Path(s"$root/$t")), s"$root/$t survived the forget that emptied it")
    // the forget left no staging behind and recommitted every index
    for (root <- Seq(routed, whole); (ix, t) <- targets(root).flatMap(x => x.tables.map(x.indexPath -> _))) {
      assert(!fs.exists(new Path(s"$ix/${t}__forgetting_dirs")) && !fs.exists(new Path(s"$ix/${t}__forgetting")))
      assert(fs.exists(new Path(ix, "_DONE")) && !fs.exists(new Path(ix, "_FORGET_IDS")))
    }
  }

  test("routed forget keeps the files of untouched dirs and writes one file per rewritten dir") {
    val (routed, _, before) = clean
    for (t <- tables(routed) if !filesByDir(t).keySet.forall(_ == new Path(t).getName)) {
      val after = filesByDir(t)
      val k = keyCol(t)
      val holding = spark.read.parquet(pristine + t.stripPrefix(routed))
        .where(col(k).isin(forgottenSet.toSeq: _*)).select(input_file_name()).as[String]
        .collect().map(f => new Path(f).getParent.getName).toSet
      assert(holding.nonEmpty, s"$t: no dir held a forgotten id")
      // fwd and idmap route each id by arithmetic, absent ids included
      val bucketOf = new Path(t).getName match {
        case "fwd" => forgottenSet.map(i => s"db=${TextAnalysis.fwdBucketOf(i)}")
        case "idmap" => forgottenSet.map(i => s"ib=${EmbeddingSearch.idmapBucketOf(i)}")
        case _ => Set.empty[String]
      }
      val untouched = before(t).keySet -- holding -- bucketOf
      assert(untouched.nonEmpty, s"$t: every dir held a forgotten id")
      untouched.foreach(d => assert(after.get(d).contains(before(t)(d)),
        s"$t/$d holds no forgotten id but its files changed"))
      (holding & after.keySet).foreach(d =>
        assert(after(d).size == 1, s"$t/$d was rewritten into ${after(d).size} files"))
    }
  }

  test("a forget that empties a whole table falls back to the flat empty table, as the whole-table forget does") {
    val base = java.nio.file.Files.createTempDirectory("graft_pfgt_all").toString
    buildAll(s"$base/src", split = 12, limit = 12, extras = false)
    val (routed, whole) = (copyOf(s"$base/src", "all_r"), copyOf(s"$base/src", "all_w"))
    val all = (0L until 12L).map(java.lang.Long.valueOf)
    Forget.forgetEverywhere(spark, s"$routed/_M", request(all), targets(routed))
    Forget.forgetEverywhere(spark, s"$whole/_M", overCap(all), targets(whole))
    for ((r, w) <- tables(routed).zip(tables(whole))) {
      assert(rowsOf(r).isEmpty && rowsOf(w).isEmpty, s"$r kept rows")
      assert(spark.read.parquet(r).schema.fieldNames.sorted.sameElements(
        spark.read.parquet(w).schema.fieldNames.sorted), s"$r schema differs")
    }
  }

  /** Crash the routed swap of `table` after `k` dirs (the (k+1)-th dir's
    * live copy is already deleted when `midDir`), then rerun the request. */
  private def crashAndResume(table: String, k: Int, midDir: Boolean): Unit = {
    val (routed, _, _) = clean
    val root = copyOf(pristine, s"crash_${table}_$k")
    val swapped = new AtomicInteger(0)
    Dedup.beforeDirSwap = (staged, target) =>
      if (staged.getParent.getName == s"${table}__forgetting_dirs" && swapped.getAndIncrement() == k) {
        if (midDir) fs.delete(target, true)
        throw new IllegalStateException("simulated crash")
      }
    try {
      val e = intercept[IllegalStateException] {
        Forget.forgetEverywhere(spark, s"$root/_M", request(forgotten), targets(root))
      }
      assert(e.getMessage == "simulated crash")
    } finally Dedup.beforeDirSwap = (_, _) => ()
    val ix = targets(root).find(_.tables.contains(table)).get.indexPath
    val stage = new Path(ix, s"${table}__forgetting_dirs")
    assert(fs.exists(new Path(stage, "_STAGED")), "the crash must leave the committed stage")
    assert(fs.listStatus(stage).count(_.getPath.getName.contains("=")) > 0)
    assert(!fs.exists(new Path(ix, "_DONE")) && fs.exists(new Path(ix, "_FORGET_IDS")))
    assert(fs.exists(new Path(s"$root/_M")), "the manifest must survive the crash")
    // extends refuse the half-swapped index
    val refused = intercept[IllegalArgumentException] {
      if (table == "idmap") EmbeddingSearch.extendIvfIndex(ix, vecs.limit(1), autoCompact = false)
      else TextAnalysis.extendBm25Index(ix, docs.limit(1), autoCompact = false)
    }
    assert(refused.getMessage.contains("incomplete"), refused.getMessage)
    Forget.forgetEverywhere(spark, s"$root/_M", request(forgotten), targets(root))
    assert(!fs.exists(stage) && !fs.exists(new Path(s"$root/_M")))
    for ((got, want) <- tables(root).zip(tables(routed)))
      assert(rowsOf(got) == rowsOf(want), s"$got did not converge after the crash at dir $k")
  }

  test("a crash after k of n dir swaps, rerun with the same ids, converges to the clean result") {
    crashAndResume("postings", k = 0, midDir = false)
    crashAndResume("postings", k = 5, midDir = true)
    crashAndResume("idmap", k = 1, midDir = true)
  }

  test("a routing table that cannot place a key falls back to the whole-table rewrite") {
    // fwd lost one term row of doc 7: the routed dirs would miss that
    // term's postings row, and Σ tf removed ≠ doclens.dl shows it
    val root = copyOf(pristine, "fallback")
    val (_, bm, ivf) = paths(root)
    val terms = spark.read.parquet(s"$bm/fwd").where(col("doc_id") === 7L)
      .select("term").as[String].collect().toSeq
    val lone = terms.find(t => terms.count(u =>
      TextAnalysis.termBucketOf(u) == TextAnalysis.termBucketOf(t)) == 1).get
    def rewriteDir(dirPath: String, keep: org.apache.spark.sql.Column): Unit = {
      val tmp = s"$root/_tmp_${new Path(dirPath).getName}"
      spark.read.parquet(dirPath).where(keep).write.parquet(tmp)
      fs.delete(new Path(dirPath), true)
      fs.delete(new Path(tmp, "_SUCCESS"), false)
      require(fs.rename(new Path(tmp), new Path(dirPath)))
    }
    rewriteDir(s"$bm/fwd/db=${TextAnalysis.fwdBucketOf(7L)}",
      !(col("doc_id") === 7L && col("term") === lone))
    // idmap lost vec 7's row: its cell cannot be looked up
    rewriteDir(s"$ivf/idmap/ib=${EmbeddingSearch.idmapBucketOf(7L)}", col("vec_id") =!= 7L)
    val unrelated = Seq(s"$bm/postings", s"$ivf/ivf").map(t => t -> filesByDir(t)).toMap
    def dirsOf(t: String, k: String, pk: String) = spark.read.parquet(t)
      .where(col(k).isin(7L, 8L)).select(col(pk)).as[Int].collect().toSet
    val postingsOf7 = dirsOf(s"$bm/postings", "doc_id", "bucket")
    val cellOf7 = dirsOf(s"$ivf/ivf", "vec_id", "cl")
    assert(postingsOf7(TextAnalysis.termBucketOf(lone)) && cellOf7.nonEmpty)
    Forget.forgetEverywhere(spark, s"$root/_M", request(Seq(7L, 8L).map(java.lang.Long.valueOf)),
      Seq(Forget.bm25Target(bm), Forget.ivfTarget(ivf)))
    for (t <- Seq("postings", "doclens", "fwd"))
      assert(spark.read.parquet(s"$bm/$t").where(col("doc_id").isin(7L, 8L)).isEmpty, s"doc 7/8 survived in $t")
    for (t <- Seq("ivf", "idmap"))
      assert(spark.read.parquet(s"$ivf/$t").where(col("vec_id").isin(7L, 8L)).isEmpty, s"vec 7/8 survived in $t")
    // the whole table was rewritten: a dir holding neither doc changed too
    for ((t, key, held) <- Seq((s"$bm/postings", "bucket", postingsOf7), (s"$ivf/ivf", "cl", cellOf7))) {
      val other = unrelated(t).keySet.find(d => !held(d.stripPrefix(s"$key=").toInt)).get
      assert(!filesByDir(t).get(other).contains(unrelated(t)(other)), s"$t/$other was not rewritten")
    }
  }

  test("the driver fingerprint twin equals idSetFingerprint, duplicates and null keys included") {
    val frames = Seq(
      Seq[java.lang.Long](3L, 1L, 2L, 2L, 1L).toDF("k"),
      Seq[java.lang.Long](3L, null, 1L, null, -7L).toDF("k"),
      Seq[java.lang.Long]().toDF("k"),
      Seq[String]("a", "b", null, "a", "").toDF("k"),
      spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(5L), Row(null), Row(5L), Row(-1L)), 2), StructType(Seq(StructField("k", LongType)))))
    for (f <- frames)
      assert(Forget.Request(f, Seq("k")).fingerprint("k") == Forget.idSetFingerprint(f, "k"),
        s"twin differs on ${f.collect().mkString(",")}")
    assert(Forget.localIdSetFingerprint(Seq("1", null, "1", null)) ==
      Forget.idSetFingerprint(Seq[java.lang.Long](1L, null).toDF("k"), "k"))
  }

  test("forgetEverywhere over the three perfbench-shaped targets runs at most 19 Spark jobs") {
    val root = copyOf(pristine, "jobs")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      Forget.forgetEverywhere(spark, s"$root/_M",
        request(Seq(20L, 140L, 300L, 420L).map(java.lang.Long.valueOf)), targets(root))
      GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    // one collect of the request; two per table, the rebalance and the
    // write, for the four flat tables (exact, sets, bands, doclens) and
    // the four routed ones (postings, fwd, ivf, idmap); one lookup each
    // for the postings and ivf routes
    assert(jobs.get() <= 19, s"forgetEverywhere ran ${jobs.get()} Spark jobs")
  }
}
