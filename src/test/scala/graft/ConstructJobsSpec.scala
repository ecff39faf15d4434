package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BookQuery, Dedup, EmbeddingSearch, TextAnalysis}
import graft.sources.Tables

/** The standing-index reads build their frames from driver-side values:
  * on a warm, committed index, constructing the frame runs at most the
  * Spark jobs counted here. A change that brings back a directory
  * listing, a schema inference or a prune-list collect at construct time
  * fails this spec.
  */
class ConstructJobsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs started while `construct` runs (building a frame, or
    * building and running one). */
  private def constructJobs(construct: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      construct
      GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.get()
  }

  test("warm standing-index reads construct with ≤ 1 / 0 / ≤ 1 Spark jobs (lexical / hybrid / vector)") {
    val root = java.nio.file.Files.createTempDirectory("graft_construct").toString
    val (bm, ivf) = (s"$root/bm", s"$root/ivf")
    val emb = Tables.embeddings(spark, dir)
    TextAnalysis.buildBm25Index(Tables.documents(spark, dir), bm)
    EmbeddingSearch.buildIvfIndex(
      emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")), ivf)
    val qv = emb.where(col("vec_id") === 5).select(col("embedding")).head().getSeq[Float](0)
    // the hybrid batch is a LocalRelation; the vector batch is not
    val hybridBatch = spark.createDataFrame(
      java.util.List.of(Row(5L, "spark join order window", qv)),
      StructType(Seq(StructField("query_id", LongType), StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType)))))
    val vecBatch = spark.createDataFrame(spark.sparkContext.parallelize(
        (0L until 8L).map(i => Row(i, qv)), 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val reads = Seq[(String, Int, () => DataFrame)](
      ("bm25TopDocsWithIndex", 1, () => TextAnalysis.bm25TopDocsWithIndex(spark, bm, 5L)),
      ("hybridServeBatch nprobe 2", 0, () => TextAnalysis.hybridServeBatch(hybridBatch, bm, ivf, nprobe = 2)),
      ("hybridServeBatch nprobe 0", 0, () => TextAnalysis.hybridServeBatch(hybridBatch, bm, ivf)),
      ("knnBatchAgainstIvfIndex", 1, () => EmbeddingSearch.knnBatchAgainstIvfIndex(vecBatch, ivf, k = 10)))
    // warm: the first read after a commit fills the per-commit memos
    reads.foreach { case (_, _, read) => assert(read().collect().nonEmpty) }
    reads.foreach { case (name, bound, read) =>
      val n = constructJobs(read())
      assert(n <= bound, s"$name ran $n Spark jobs while building its frame (bound $bound)")
    }
  }

  test("dedupAgainst builds its frame with 0 Spark jobs, right after an extend") {
    val root = java.nio.file.Files.createTempDirectory("graft_construct_dd").toString
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    Dedup.buildDedupIndex(docs.where(col("doc_id") < 300), root)
    // the extend rewrites the tables' fingerprints, so no schema memo is warm
    Dedup.extendDedupIndex(root, docs.where(col("doc_id") >= 300 && col("doc_id") < 340))
    val batch = spark.createDataFrame(java.util.List.of(Row(9001L, "spark join order window")),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val n = constructJobs(Dedup.dedupAgainst(root, batch, 0.8))
    assert(n == 0, s"dedupAgainst ran $n Spark jobs while building its frame")
    assert(Dedup.dedupAgainst(root, batch, 0.8).collect().length == 1)
  }

  test("metadata-scale loops run on the driver: dedupClusters and trainKmeansIndex within ≤ 3 Spark jobs") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 9L), (9L, 12L), (20L, 21L), (30L, 39L))
      .map { case (a, b) => (a, b, 1L, 1L, 1.0) }
      .toDF("doc_a", "doc_b", "inter_len", "union_len", "jaccard")
    assert(org.apache.spark.sql.GraftShim.isLocalRelation(pairs))
    val n = constructJobs(Dedup.dedupClusters(docs, pairs))
    assert(n <= 3, s"dedupClusters ran $n Spark jobs before returning (bound 3)")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val k = constructJobs(EmbeddingSearch.trainKmeansIndex(emb, 8, 2))
    assert(k <= 3, s"trainKmeansIndex ran $k Spark jobs before returning (bound 3)")
  }

  test("the paper's query runs in ≤ 3 Spark jobs, construct plus exec (single and batch)") {
    val docs = Tables.documents(spark, dir)
    val single = () => BookQuery.topK(BookQuery.referenceScoresFor(docs, lit(5L)), "score", 10).collect()
    val batch = () => BookQuery.referenceScoresBatch(docs).collect()
    // warm: the first read of the table fills the session's file caches
    assert(single().nonEmpty && batch().nonEmpty)
    val s = constructJobs(single())
    assert(s <= 3, s"topK(referenceScoresFor) ran $s Spark jobs (bound 3)")
    val b = constructJobs(batch())
    assert(b <= 3, s"referenceScoresBatch ran $b Spark jobs (bound 3)")
  }

  test("a bounded read is one Spark job over a 4-partition frame, none over a LocalRelation") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    assert(!org.apache.spark.sql.GraftShim.isLocalRelation(df))
    // 30 rows span two of the 25-row partitions: executeTake would run two jobs
    var rows = Array.empty[Row]
    val n = constructJobs { rows = Tables.firstRows(df, 30) }
    assert(n == 1, s"firstRows ran $n Spark jobs over a 4-partition frame")
    assert(rows.toSeq == df.limit(30).collect().toSeq, "firstRows must return limit(n)'s rows")
    import spark.implicits._
    val local = (0 until 5).toDF("id")
    assert(org.apache.spark.sql.GraftShim.isLocalRelation(local))
    var localRows = Array.empty[Row]
    assert(constructJobs { localRows = Tables.firstRows(local, 3) } == 0)
    assert(localRows.toSeq.map(_.getInt(0)) == Seq(0, 1, 2))
  }

  test("a forgotten doc's lexical read is empty and lists no postings dir") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_construct_fg").toString
    val bm = s"$root/bm"
    TextAnalysis.buildBm25Index(Tables.documents(spark, dir), bm)
    val victim = 7L
    graft.operators.Forget.forgetEverywhere(spark, s"$root/_MANIFEST",
      Seq(victim).toDF("doc_id"), Seq(graft.operators.Forget.bm25Target(bm)))
    val postingsDirs = new java.io.File(s"$bm/postings").listFiles().count(_.getName.startsWith("bucket="))
    // the small fixture has fewer postings dirs than the default listing
    // threshold (32), so lower it: a full read of postings then lists its
    // dirs with a Spark job of one task per dir, as at corpus scale
    val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val saved = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "4")
    assert(postingsDirs > 4, s"$postingsDirs postings dirs: the fixture cannot show a listing job")
    val sc = spark.sparkContext
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tasks.add(e.stageInfos.map(_.numTasks).sum)
    }
    try {
      // warm: the first read after the commit fills the per-commit stats memo
      assert(TextAnalysis.bm25TopDocsWithIndex(spark, bm, victim).collect().isEmpty)
      GraftTestBus.drain(sc)
      sc.addSparkListener(l)
      assert(TextAnalysis.bm25TopDocsWithIndex(spark, bm, victim).collect().isEmpty)
      GraftTestBus.drain(sc)
    } finally {
      sc.removeSparkListener(l)
      saved.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))
    }
    // the one probed dir: the victim's fwd bucket
    assert(tasks.toArray.forall(_.asInstanceOf[Int] <= 1),
      s"jobs with more tasks than probed dirs: ${tasks.toArray.mkString(",")}")
  }
}
