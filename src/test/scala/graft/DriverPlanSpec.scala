package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HashFunctions.portableHash31
import graft.functions.TextFunctions.tokenize
import graft.functions.TopKByScoreAggregator.topKByScore
import graft.operators.{EmbeddingSearch, Forget, TextAnalysis}
import graft.sources.Tables

/** The driver-planned index reads: the scalar twins that compute their
  * small values on the driver, pinned against the Column kernels they
  * replace, and each read's driver plan pinned against its in-plan
  * fallback across an index's lifecycle (build, extend, forget).
  */
class DriverPlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("termBucketOf ≡ pmod(portableHash31(term), 64), fuzzed over non-ASCII and empty strings") {
    val rnd = new scala.util.Random(61)
    val alphabet = "abcXYZ09 _-.éßжλ中文́ ".toSeq ++ Seq("😀")
    val terms = Seq("", " ", "the", "naïve", "東京") ++ Seq.fill(400) {
      Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val inPlan = terms.zipWithIndex.toDF("term", "i")
      .select(col("i"),
        pmod(portableHash31(col("term")), lit(TextAnalysis.Bm25IndexBuckets)).cast("int"))
      .as[(Int, Int)].collect().toMap
    terms.zipWithIndex.foreach { case (t, i) =>
      assert(TextAnalysis.termBucketOf(t) == inPlan(i), s"bucket of '$t'")
    }
  }

  test("queryTermsOf ≡ explode(array_distinct(tokenize(text))) where term != \"\"") {
    val rnd = new scala.util.Random(62)
    val words = Seq("spark", "Spark", "naïve", "café", "東京", "a_b", "x", "")
    val delims = Seq(" ", ", ", "--", "!!", "\t", "é", "  ")
    val texts: Seq[String] = Seq(null, "", "   ", "!!! ,,, ---", " leading space",
      "dup dup DUP dup", "trailing, ") ++ Seq.fill(200) {
      Seq.fill(rnd.nextInt(10))(words(rnd.nextInt(words.length)) +
        delims(rnd.nextInt(delims.length))).mkString
    }
    val inPlan = texts.zipWithIndex.toDF("text", "i")
      .select(col("i"), explode(array_distinct(tokenize(col("text")))).as("term"))
      .where(col("term") =!= "")
      .as[(Int, String)].collect().groupBy(_._1).map { case (i, ts) => i -> ts.map(_._2).toSeq }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(TextAnalysis.queryTermsOf(t) == inPlan.getOrElse(i, Nil), s"terms of '$t'")
    }
  }

  test("probedPairsLocal ≡ the in-plan topKByScore probe: exact ties, zero-norm and NaN queries") {
    // cells 1, 3 and 7 tie at round6 cosine 1.0 against [1, 0]
    val cent = Array((3, Array(1.0, 0.0)), (1, Array(2.0, 0.0)), (7, Array(1.0, 0.0000001)),
      (2, Array(0.0, 1.0)), (5, Array(-1.0, 0.0)))
    // query 11 has zero norm (cosine 0 everywhere), query 12 a NaN
    // component (cosine NaN, which the aggregator ranks above every
    // number); the two rows of query 10 pool their scores
    val qs = Seq[(Any, Array[Double])]((10L, Array(1.0, 0.0)), (11L, Array(0.0, 0.0)),
      (12L, Array(Double.NaN, 1.0)), (13L, Array(0.0, 1.0)), (10L, Array(0.0, -1.0)))
    val qVecs = qs.map { case (id, v) => (id.asInstanceOf[Long], v.toSeq) }.toDF("query_id", "qv")
    val centDf = cent.toSeq.map { case (cl, cv) => (cl, cv.toSeq) }.toDF("cl", "cv")
    for (np <- 1 to 6) {
      val inPlan = qVecs.crossJoin(broadcast(centDf))
        .select(col("query_id"), col("cl").cast("long").as("cl_l"),
          round(EmbeddingSearch.cosine(col("qv"), col("cv")), 6).as("csim"))
        .groupBy(col("query_id"))
        .agg(topKByScore(np)(col("csim"), col("cl_l")).as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t._2").cast("int").as("cl"))
        .as[(Long, Int)].collect().toSeq.sorted
      val local = EmbeddingSearch.probedPairsLocal(qs, cent, np)
        .map { case (q, cl) => (q.asInstanceOf[Long], cl) }.sorted
      assert(local == inPlan, s"nprobe $np")
    }
  }

  private def hybridRows(df: DataFrame): Set[(Long, Long, Option[Long], Option[Long], Double, Long)] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getDouble(4), r.getLong(5))
    }.toSet

  private def knnRows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.select("query_id", "vec_id", "cosine", "rank").as[(Long, Long, Double, Long)]
      .collect().toSet

  test("each read's driver plan ≡ its in-plan fallback, nprobe 0 and 2, after an extend and a forget") {
    val root = java.nio.file.Files.createTempDirectory("graft_driverplan").toString
    val (bm, ivf) = (s"$root/bm", s"$root/ivf")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val embV = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 400), bm)
    EmbeddingSearch.buildIvfIndex(embV.where(col("vec_id") < 400), ivf)
    val cap = EmbeddingSearch.LocalBatchCap
    val qIds = Seq(0L, 7L, 123L)
    val qRows = docs.join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .where(col("doc_id").isin(qIds: _*))
      .select(col("doc_id"), col("text"), col("embedding")).collect()
    val hybridSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))
    // the small batch is a LocalRelation; the big one holds the same
    // queries plus text-less fillers, one row past the driver cap
    val small = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), hybridSchema)
    val fillers = (1 to cap + 1 - qRows.length).map(i =>
      Row(100000L + i, null, qRows(0).getSeq[Float](2)))
    val big = spark.createDataFrame(spark.sparkContext.parallelize(qRows.toSeq ++ fillers, 4),
      hybridSchema)
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val knnSmall = spark.createDataFrame(spark.sparkContext.parallelize(
      qRows.toSeq.map(r => Row(r.getLong(0), r.getSeq[Float](2))), 1), vecSchema)
    val knnBig = big.select(col("query_id").as("vec_id"), col("embedding"))
    def check(state: String, live: DataFrame): Unit = {
      for (np <- Seq(0, 2)) {
        val driver = hybridRows(TextAnalysis.hybridServeBatch(small, bm, ivf, nprobe = np))
        val inPlan = hybridRows(TextAnalysis.hybridServeBatch(big, bm, ivf, nprobe = np)
          .where(col("query_id").isin(qIds: _*)))
        assert(driver.nonEmpty && driver == inPlan, s"hybrid, nprobe $np, $state")
        val kDriver = knnRows(EmbeddingSearch.knnBatchAgainstIvfIndex(knnSmall, ivf, k = 5, nprobe = np))
        val kInPlan = knnRows(EmbeddingSearch.knnBatchAgainstIvfIndex(knnBig, ivf, k = 5, nprobe = np)
          .where(col("query_id").isin(qIds: _*)))
        assert((np == 0 || kDriver.nonEmpty) && kDriver == kInPlan, s"knn, nprobe $np, $state")
      }
      // the lexical read has no batch; its in-plan reference is the
      // full-scan BM25 over the corpus the index holds
      for (q <- qIds) {
        val got = TextAnalysis.bm25TopDocsWithIndex(spark, bm, q).collect().toSet
        assert(got == TextAnalysis.bm25TopDocs(live, q).collect().toSet, s"lexical q$q, $state")
      }
    }
    check("built", docs.where(col("doc_id") < 400))
    TextAnalysis.extendBm25Index(bm, docs.where(col("doc_id") >= 400))
    EmbeddingSearch.extendIvfIndex(ivf, embV.where(col("vec_id") >= 400))
    check("extended", docs)
    val gone = Seq(3L, 8L, 450L)
    Forget.forgetEverywhere(spark, s"$root/manifest", gone.map(i => (i, i)).toDF("doc_id", "vec_id"),
      Seq(Forget.bm25Target(bm), Forget.ivfTarget(ivf)))
    check("forgotten", docs.where(!col("doc_id").isin(gone: _*)))
  }

  test("the quantizer memo holds across an extend and refreshes after a retrain") {
    val root = java.nio.file.Files.createTempDirectory("graft_centmemo").toString
    val ivf = s"$root/ivf"
    val embV = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    EmbeddingSearch.buildIvfIndex(embV.where(col("vec_id") < 400), ivf)
    val built = EmbeddingSearch.cachedCentRows(spark, ivf)
    EmbeddingSearch.extendIvfIndex(ivf, embV.where(col("vec_id") >= 400))
    assert(EmbeddingSearch.cachedCentRows(spark, ivf) eq built,
      "an extend leaves cent/ alone, so the memo must hold")
    EmbeddingSearch.retrainIvfIndex(spark, ivf, nClusters = 6)
    val retrained = EmbeddingSearch.cachedCentRows(spark, ivf)
    assert(!(retrained eq built), "a retrain rewrites cent/, so the memo must refresh")
    assert(retrained.map(_._1).toSeq == (0 until 6),
      "the refreshed memo holds the retrained quantizer")
  }
}
