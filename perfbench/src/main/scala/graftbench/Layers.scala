package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.HashFunctions._
import graft.functions.TopKByScoreAggregator.topKByScore
import graft.operators.EmbeddingSearch
import graft.sources.Tables
import Workloads.median

/** The per-layer metrics of the traced run. Layers are graft's modules:
  * functions, sources, operators, the index lifecycle, storage and the JVM.
  * Every traced run reports every name; a layer a workload never calls
  * reads 0.
  */
object Layers {
  val Ops: Seq[String] = Seq("Dedup.exactGroups", "Dedup.minhashLshPairs", "Dedup.dedupClusters",
    "SimilarityJoin.allPairsJaccard", "TextAnalysis.curatedCorpus",
    "EmbeddingSearch.cosineNearDupPairsAuto", "BookQuery.referenceScoresBatch",
    "BookQuery.referenceScoresFor", "TextAnalysis.bm25TopDocsWithIndex",
    "EmbeddingSearch.knnBatchAgainstIvfIndex", "TextAnalysis.hybridServeBatch", "Dedup.dedupAgainst")
  val OpFields: Seq[(String, String)] = Seq("construct_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms",
    "construct_jobs" -> "count", "tasks" -> "count", "shuffle_mb" -> "MB", "core_util" -> "ratio")
  val Funnels: Seq[String] = Seq("Dedup.minhashLshPairs", "SimilarityJoin.allPairsJaccard")
  val Kernels: Seq[String] = Seq("tokenize", "shingleSet", "hashSet", "minhashFromHashes",
    "minhashBandKeys", "EmbeddingSearch.cosine", "topKByScore")
  val IndexFields: Seq[(String, String)] = Seq("build_s" -> "s", "extend_s" -> "s", "compact_s" -> "s",
    "files" -> "count", "mb" -> "MB")
  val IndexKinds: Seq[String] = Seq("bm25", "ivf", "dedup")
  val SelfLayers: Seq[String] = Seq("request", "operators", "construct", "plan", "exec", "index", "check")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Kernels.map(k => s"functions.$k.rows_per_core_s" -> "rows/core-s") ++
      Seq("sources.table.construct_ms" -> "ms", "sources.artifactParquet.construct_ms" -> "ms") ++
      Reads.Types.map(t => s"sources.input_mb.$t" -> "MB") ++
      Ops.flatMap(o => OpFields.map { case (f, u) => s"operators.$o.$f" -> u }) ++
      Funnels.map(f => s"$f.shuffle_records_per_pair" -> "ratio") ++
      IndexKinds.flatMap(k => IndexFields.collect {
        case (f, u) if !(k == "dedup" && f == "compact_s") => s"index.$k.$f" -> u
      }) ++
      Seq("index.forget_s" -> "s", "storage.residue_mb" -> "MB", "jvm.gc_ms" -> "ms") ++
      SelfLayers.map(l => s"self.${l}_ms" -> "ms") ++
      Seq("trace.overhead_pct" -> "%")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  private def med0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** rows / (Σ task run time) of one kernel over its input column, with a
    * trivial aggregate as the sink. Inputs are cached first, so the scan is
    * not what is measured.
    */
  private def kernelRate(r: Run, name: String, input: DataFrame, kernel: DataFrame => DataFrame): Double = {
    val rows = input.count().toDouble
    val g = s"kernel-$name"
    r.spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    val runs = (0 until 3).map { _ =>
      val before = Option(r.tracer.listener.byGroup.get(g)).map(_.runMs).getOrElse(0L)
      kernel(input).collect()
      org.apache.spark.BenchBus.drain(r.spark.sparkContext)
      r.tracer.listener.byGroup.get(g).runMs - before
    }
    r.spark.sparkContext.clearJobGroup()
    rows / (math.max(1L, runs.min) / 1e3)
  }

  private def kernels(r: Run): Seq[(String, Double)] = {
    val spark = r.spark
    val copies = explode(sequence(lit(1), lit(8)))
    val text = Tables.documents(spark, r.dataDir).select(col("doc_id"), col("text"), copies.as("c"))
      .cache()
    val sets = text.select(col("doc_id"), shingleSet(col("text"), 3).as("sh")).cache()
    val hashes = sets.select(col("doc_id"), hashSet(col("sh")).as("h")).cache()
    val sigs = hashes.select(col("doc_id"), minhashFromHashes(col("h"), 64).as("sig")).cache()
    val vecs = Tables.embeddings(spark, r.dataDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"), copies.as("c")).cache()
    val q = typedLit(r.in.vecQueries.head.v.map(_.toDouble))
    val scored = vecs.select(col("vec_id"), (col("vec_id") % 64).as("g"),
      (col("vec_id") * 7919 % 10007).cast("double").as("s")).cache()
    def sink(c: Column): DataFrame => DataFrame = _.select(size(c).as("n")).agg(sum("n"))
    val out = Seq(
      "tokenize" -> kernelRate(r, "tokenize", text, sink(tokenize(col("text")))),
      "shingleSet" -> kernelRate(r, "shingleSet", text, sink(shingleSet(col("text"), 3))),
      "hashSet" -> kernelRate(r, "hashSet", sets, sink(hashSet(col("sh")))),
      "minhashFromHashes" -> kernelRate(r, "minhashFromHashes", hashes, sink(minhashFromHashes(col("h"), 64))),
      "minhashBandKeys" -> kernelRate(r, "minhashBandKeys", sigs, sink(minhashBandKeys(col("sig"), 16, 4))),
      "EmbeddingSearch.cosine" -> kernelRate(r, "cosine", vecs,
        _.select(EmbeddingSearch.cosine(col("v"), q).as("x")).agg(sum("x"))),
      "topKByScore" -> kernelRate(r, "topKByScore", scored,
        _.groupBy("g").agg(topKByScore(10)(col("s"), col("vec_id")).as("t")).select(size(col("t"))).agg(count(lit(1)))))
    Seq(text, sets, hashes, sigs, vecs, scored).foreach(_.unpersist(true))
    out
  }

  private def constructMs(body: => Any): Double =
    median((0 until 10).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 })

  def metrics(r: Run, ix: Indexes, timings: LinkedHashMap[String, ArrayBuffer[Double]],
      gcMs: Double): Seq[(String, Double, String)] = {
    val t = r.tracer
    val m = LinkedHashMap.empty[String, Double]
    kernels(r).foreach { case (k, v) => m(s"functions.$k.rows_per_core_s") = v }
    m("sources.table.construct_ms") = constructMs(Tables.documents(r.spark, r.dataDir))
    m("sources.artifactParquet.construct_ms") = constructMs(Tables.artifactParquet(r.spark, s"${ix.bm25}/doclens"))
    t.finish()
    val spans = t.spans.toSeq.drop(r.timedFrom).filter(_.end >= 0)
    val requests = spans.filter(_.layer == "request")
    Reads.Types.foreach { k =>
      m(s"sources.input_mb.$k") = mean(requests.filter(_.name == s"read.$k").map(s => t.countersOf(s).bytesRead / 1e6))
    }
    val kids = spans.groupBy(_.parent)
    def phase(s: Span, p: String): Option[Span] = kids.getOrElse(s.id, Nil).find(_.name == p)
    def ms(s: Span): Double = (s.end - s.start) / 1e6
    for (o <- Ops) {
      val calls = spans.filter(c => c.layer == "operators" && c.name == o)
      val cs = calls.map(t.countersOf)
      m(s"operators.$o.construct_ms") = med0(calls.flatMap(phase(_, "construct")).map(ms))
      m(s"operators.$o.plan_ms") = med0(calls.flatMap(phase(_, "plan")).map(ms))
      m(s"operators.$o.exec_ms") = med0(calls.flatMap(phase(_, "exec")).map(ms))
      m(s"operators.$o.construct_jobs") = med0(calls.flatMap(phase(_, "construct")).map(s => t.countersOf(s).jobs.toDouble))
      m(s"operators.$o.tasks") = med0(cs.map(_.tasks.toDouble))
      m(s"operators.$o.shuffle_mb") = med0(cs.map(_.shuffleBytes / 1e6))
      m(s"operators.$o.core_util") = med0(calls.zip(cs).map { case (s, c) => c.runMs / (4 * ms(s)) })
    }
    for (f <- Funnels) {
      val calls = spans.filter(c => c.layer == "operators" && c.name == f)
      val pairs = r.pairsFound.getOrElse(f, 0L).toDouble
      m(s"$f.shuffle_records_per_pair") =
        if (calls.isEmpty || pairs == 0) 0.0 else calls.map(t.countersOf(_).shuffleRecords).sum / pairs
    }
    for (k <- IndexKinds; (f, _) <- IndexFields if !(k == "dedup" && f == "compact_s")) {
      val dir = new java.io.File(k match { case "bm25" => ix.bm25; case "ivf" => ix.ivf; case _ => ix.dedup })
      m(s"index.$k.$f") = f match {
        case "files" => Files.dataFiles(dir).toDouble
        case "mb" => Files.treeBytes(dir) / 1e6
        case _ => med0(timings.getOrElse(s"$k.${f.stripSuffix("_s")}", Nil).toSeq)
      }
    }
    m("index.forget_s") = med0(timings.getOrElse("forget", Nil).toSeq)
    m("storage.residue_mb") = t.residuePeakBytes / 1e6
    m("jvm.gc_ms") = gcMs
    val nReq = math.max(1, requests.length)
    for (l <- SelfLayers) {
      val of = spans.filter(s => if (l == "construct" || l == "plan" || l == "exec") s.name == l
        else s.layer == l && s.layer != "phase")
      m(s"self.${l}_ms") = of.map(t.selfNs).sum / 1e6 / nReq
    }
    val ratios = r.tracedLatencies.keys.toSeq.flatMap { k =>
      val (a, b) = (r.tracedLatencies(k), r.latencies.getOrElse(k, ArrayBuffer.empty[Double]))
      if (a.isEmpty || b.isEmpty) None else Some(median(a.toSeq) / median(b.toSeq) - 1)
    }
    m("trace.overhead_pct") = 100 * mean(ratios)
    names.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
