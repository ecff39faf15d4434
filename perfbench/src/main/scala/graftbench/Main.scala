package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <work dir> <input cache dir>
  *
  * Generates the workload's inputs from the seed (cached per seed and
  * shape), runs the workload on local[4] with a run-private artifact root
  * under the work dir, checks outputs, and prints one info line and then
  * the result line (JSON). `Main selftest` runs the benchmark's own tests.
  */
object Main {
  /** Input sizes per workload. Documented in perfbench/README.md. */
  val Shapes: Map[String, Shape] = Map(
    "curate" -> Shape(baseDocs = 500, replicas = 2, nearDups = 20, exactDups = 5, vecDups = 10, queries = 64),
    "ingest" -> Shape(baseDocs = 500, replicas = 2, heldOut = 2, nearDups = 20, exactDups = 5, vecDups = 10,
      batches = 12, batchDocs = 80, batchDups = 4, queries = 64))

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { sys.exit(SelfTest.run()) }
    val Array(workload, seedS, secondsS, traceS, work, cache) = args
    val seed = seedS.toLong
    val tracing = traceS == "1"
    val shape = Shapes(workload)

    val genT0 = System.nanoTime()
    val in = Gen.generate(shape, seed)
    val digest = in.digest
    val genS = (System.nanoTime() - genT0) / 1e9

    val root = s"$work/root"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.artifactRoot", root)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dataDir = s"$cache/$workload-${shapeKey(shape)}-s$seed"
    Gen.writeDataset(spark, in, dataDir, digest)

    // JVM and Spark warm-up on synthetic rows, touching no benchmark input
    // and no graft code (the graft.Bench precedent): set-up then measures
    // graft's work, not Spark's class loading
    spark.range(200000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    spark.range(1000).selectExpr("id", "cast(id as string) s").repartition(2)
      .write.mode("overwrite").parquet(s"$work/warm.parquet")
    spark.read.parquet(s"$work/warm.parquet").groupBy("s").count().collect()

    val gc0 = gcMs()
    val tracer = new Tracer(spark, tracing)
    val r = new Run(spark, in, dataDir, root, tracer, secondsS.toDouble, seed)
    val timings = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val (ix, live) = workload match {
      case "curate" => Curate.run(r, timings)
      case "ingest" => Ingest.run(r, timings)
    }
    val e2e = Workloads.endToEnd(r, Workloads.spaceAmp(ix, live))
    val metrics = if (tracing) {
      val layers = Layers.metrics(r, ix, timings, gcMs() - gc0)
      tracer.write(new java.io.File(s"$cache/../traces/$workload-s$seed.jsonl"))
      layers
    } else e2e
    val reads = Reads.Types.map(k => k -> r.latencies.getOrElse(k, Nil).length)
    println(Json.obj(Seq("info" -> RawJson(Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> tracing, "input_sha256" -> digest,
      "docs" -> in.docs.length, "text_mb" -> in.textMb, "vectors" -> in.vecs.length,
      "batches_available" -> in.batches.length, "batches_run" -> r.latencies.getOrElse("batch", Nil).length,
      "passes_run" -> r.latencies.getOrElse("pass", Nil).length, "generate_s" -> genS,
      "reads" -> RawJson(Json.obj(reads)), "setup_s" -> r.setup,
      "index_s" -> RawJson(Json.obj(timings.toSeq.map { case (k, v) => k -> v.toSeq })),
      "latencies_ms" -> RawJson(Json.obj(r.latencies.toSeq.map { case (k, v) => k -> v.toSeq })),
      "end_to_end" -> RawJson(Json.obj(e2e.map(m => m._1 -> m._2))),
      "failures" -> r.failures.take(20).toSeq))))))
    val bad = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite }.map(_._1)
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (r.failed == 0 && bad.isEmpty),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> RawJson(Json.obj(metrics.map { case (n, v, u) =>
        n -> RawJson(Json.obj(Seq("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> u)))
      })))))
  }

  private def shapeKey(s: Shape): String =
    Seq(s.baseDocs, s.replicas, s.heldOut, s.nearDups, s.exactDups, s.vecDups, s.batches,
      s.batchDocs, s.batchDups, s.queries).mkString("-")

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }
}
