package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** One run of one workload: its inputs, the run-private artifact root, the
  * tracer and the tallies every workload reports.
  */
final class Run(val spark: SparkSession, val in: Inputs, val dataDir: String,
    val root: String, val tracer: Tracer, val seconds: Double, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val failures = new ArrayBuffer[String]()
  /** Request latencies (ms) by request type; traced ones kept apart. */
  val latencies = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val tracedLatencies = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Seconds from the first set-up step to the first timed request. */
  var setup = Double.NaN
  val recalls = new ArrayBuffer[Double]()
  var dupsInjected = 0L
  var dupsFound = 0L
  /** Docs pushed through the workload's bulk path, and its wall seconds. */
  val bulk = new ArrayBuffer[(Long, Double)]()
  /** Output pairs of the traced calls of each pair-producing operator. */
  val pairsFound = LinkedHashMap.empty[String, Long]
  /** Spans before this index belong to set-up, not to the timed phase. */
  var timedFrom = 0

  /** Ends set-up. The collection here keeps set-up garbage from pausing
    * the few timed requests.
    */
  def startTimed(): Unit = {
    timedFrom = tracer.spans.length
    System.gc()
  }
  val rnd = new java.util.Random(seed * 31 + 7)
  val tau = 0.7
  val vecTau = 0.95

  /** One operation: counts it, and counts it failed if it throws or its
    * output check returns false.
    */
  def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        return failed += 1
    }
    if (!ok) { failed += 1; failures += s"$what: wrong output" }
  }

  /** Records a request latency; call right after the request returns. */
  def record(kind: String, ms: Double): Unit =
    (if (tracer.enabled) tracedLatencies else latencies).getOrElseUpdate(kind, new ArrayBuffer) += ms

  def docs: DataFrame = Tables.documents(spark, dataDir)
}

/** Paths of the indexes one set-up built. */
final case class Indexes(bm25: String, ivf: String, dedup: String)

/** The four read types. Each returns its rows, checked by the caller. */
object Reads {
  val Types: Seq[String] = Seq("doc", "lexical", "vector", "hybrid")

  def doc(r: Run, qid: Long): Seq[(Long, Double)] =
    r.tracer.df("BookQuery.referenceScoresFor")(
      BookQuery.topK(BookQuery.referenceScoresFor(r.docs, lit(qid)), "score", 10))(
      _.collect().toSeq.map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("score"))))

  def lexical(r: Run, ix: Indexes, qid: Long): Seq[Row] =
    r.tracer.df("TextAnalysis.bm25TopDocsWithIndex")(
      TextAnalysis.bm25TopDocsWithIndex(r.spark, ix.bm25, qid))(_.collect().toSeq)

  /** One call for a small batch of query vectors; ids per query. */
  def vector(r: Run, ix: Indexes, qs: Seq[Vec]): Map[Long, Seq[Long]] =
    r.tracer.df("EmbeddingSearch.knnBatchAgainstIvfIndex")({
      val batch = r.spark.createDataFrame(r.spark.sparkContext.parallelize(
        qs.map(q => Row(q.id, q.v.toSeq, q.label)), 1), Gen.VecSchema)
      EmbeddingSearch.knnBatchAgainstIvfIndex(batch.select("vec_id", "embedding"), ix.ivf, k = 10)
    })(_.collect().toSeq.map(x => x.getAs[Long]("query_id") -> x.getAs[Long]("vec_id"))
      .groupBy(_._1).map { case (q, v) => q -> v.map(_._2) })

  def hybrid(r: Run, ix: Indexes, q: (Long, String, Array[Float])): Seq[Row] =
    r.tracer.df("TextAnalysis.hybridServeBatch")({
      val schema = org.apache.spark.sql.types.StructType(Seq(Gen.VecSchema("vec_id").copy(name = "query_id"),
        Gen.DocSchema("text"), Gen.VecSchema("embedding")))
      val qs = r.spark.createDataFrame(java.util.List.of(Row(q._1, q._2, q._3.toSeq)), schema)
      TextAnalysis.hybridServeBatch(qs, ix.bm25, ix.ivf, nprobe = 2)
    })(_.collect().toSeq)
}

/** Shared pieces of the workloads: index set-up, the read mix with
  * its checks, and the end-to-end metrics every workload reports.
  */
object Workloads {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Build the workload's indexes over the corpus in a fresh directory. */
  def buildIndexes(r: Run, dir: String, withDedup: Boolean, timings: LinkedHashMap[String, ArrayBuffer[Double]]): Indexes = {
    val ix = Indexes(s"$dir/bm25", s"$dir/ivf", s"$dir/dedup")
    def note(k: String, s: Double): Unit = timings.getOrElseUpdate(k, new ArrayBuffer) += s
    note("bm25.build", r.tracer.unit("index.bm25.build")(TextAnalysis.buildBm25Index(r.docs, ix.bm25)))
    note("ivf.build", r.tracer.unit("index.ivf.build")(EmbeddingSearch.ensureStandingIvfIndex(r.spark, r.dataDir, ix.ivf)))
    if (withDedup)
      note("dedup.build", r.tracer.unit("index.dedup.build")(Dedup.buildDedupIndex(r.docs, ix.dedup)))
    ix
  }

  /** The live corpus the reads are checked against. */
  final class Live(var docs: Vector[Doc], var vecs: Vector[Vec]) {
    def vecIds: Set[Long] = vecs.iterator.map(_.id).toSet
  }

  /** One read of `kind` with the given queries, checked against its slower
    * reference unless it is a set-up warm-up (`timed = false`).
    */
  def read(r: Run, ix: Indexes, live: Live, kind: String, qid: Long, qs: Seq[Vec],
      hq: (Long, String, Array[Float]), timed: Boolean = true): Unit = {
    r.attempt(s"read.$kind") {
      kind match {
        case "doc" =>
          // the doc query scans the dataset's documents table, which the
          // workloads never write
          val (rows, ms) = r.tracer.request("read.doc")(Reads.doc(r, qid))
          if (timed) r.record(kind, ms)
          !timed || r.tracer.check(rows == Oracle.docTopK(r.in.docs, qid))
        case "lexical" =>
          val (rows, ms) = r.tracer.request("read.lexical")(Reads.lexical(r, ix, qid))
          if (timed) r.record(kind, ms)
          !timed || r.tracer.check(lexicalMatches(r, live, qid, rows))
        case "vector" =>
          val (ids, ms) = r.tracer.request("read.vector")(Reads.vector(r, ix, qs))
          if (timed) {
            r.record(kind, ms)
            qs.foreach(q => r.recalls += (ids.getOrElse(q.id, Nil).toSet & Oracle.exactKnn(live.vecs, q.v)).size / 10.0)
          }
          val known = live.vecIds
          qs.forall(q => ids.get(q.id).exists(_.nonEmpty)) && ids.values.flatten.forall(known.contains)
        case "hybrid" =>
          val (rows, ms) = r.tracer.request("read.hybrid")(Reads.hybrid(r, ix, hq))
          if (timed) r.record(kind, ms)
          rows.nonEmpty && rows.map(_.getAs[Long]("rank")) == (1L to rows.length)
      }
    }
  }

  /** Rounds of one read per type after each curate pass or ingest batch.
    * In the traced run the set-up warm-up read of each type is traced, so
    * three rounds run untraced, traced, untraced (see [[Tracer.request]]):
    * warming across rounds does not pass for tracing overhead.
    */
  def readRounds(r: Run): Int = if (r.tracer.tracing) 3 else 1

  /** The `i`-th read of `kind` with queries drawn from the seeded pools. */
  def pooledRead(r: Run, ix: Indexes, live: Live, kind: String, i: Int, timed: Boolean = true): Unit = {
    val in = r.in
    read(r, ix, live, kind, in.docQueries(i % in.docQueries.length),
      vectorBatch(in.vecQueries, i), in.hybridQueries(i % in.hybridQueries.length), timed)
  }

  /** Query vectors per `vector` read: one call serves a small batch, so
    * `recall_at_10` averages over enough queries to be steady.
    */
  val VectorBatch = 8

  def vectorBatch(pool: Seq[Vec], i: Int): Seq[Vec] =
    (0 until VectorBatch).map(j => pool((i * VectorBatch + j) % pool.length))

  /** One warm-up read per type, untimed (counted in set-up). */
  def warmUp(r: Run, ix: Indexes, live: Live): Unit =
    Reads.Types.foreach(k => pooledRead(r, ix, live, k, 0, timed = false))

  /** The index-served BM25 rows must equal the full-scan rows over the
    * live corpus (graft documents the two as identical).
    */
  def lexicalMatches(r: Run, live: Live, qid: Long, rows: Seq[Row]): Boolean = {
    val corpus = r.spark.createDataFrame(
      r.spark.sparkContext.parallelize(Gen.docRows(live.docs), 4), Gen.DocSchema)
    rows.toSet == TextAnalysis.bm25TopDocs(corpus, qid).collect().toSet
  }

  /** Index sizes on disk ÷ bytes of the input they index (text bytes plus
    * 4 bytes per vector component).
    */
  def spaceAmp(ix: Indexes, live: Live): Double = {
    val idx = Seq(ix.bm25, ix.ivf, ix.dedup).map(p => Files.treeBytes(new java.io.File(p))).sum
    val input = live.docs.iterator.map(_.text.length.toLong).sum + live.vecs.length.toLong * Gen.Dim * 4
    idx.toDouble / input
  }

  /** The end-to-end metrics, from a finished run. */
  def endToEnd(r: Run, spaceAmp: Double): Seq[(String, Double, String)] = {
    Seq(
      ("setup_s", r.setup, "s"),
      ("docs_per_s", median(r.bulk.map { case (n, s) => n / s }.toSeq), "docs/s"),
      ("dup_recall", r.dupsFound.toDouble / r.dupsInjected, "ratio"),
      ("doc_p50_ms", median(r.latencies.getOrElse("doc", Nil).toSeq), "ms"),
      ("lexical_p50_ms", median(r.latencies.getOrElse("lexical", Nil).toSeq), "ms"),
      ("vector_p50_ms", median(r.latencies.getOrElse("vector", Nil).toSeq), "ms"),
      ("hybrid_p50_ms", median(r.latencies.getOrElse("hybrid", Nil).toSeq), "ms"),
      ("recall_at_10", r.recalls.sum / r.recalls.length, "ratio"),
      ("space_amp", spaceAmp, "ratio"))
  }
}
