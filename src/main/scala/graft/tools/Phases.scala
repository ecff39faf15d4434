package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query phase split: each registered query's wall time decomposed
  * into construct (the registry function itself — artifact probes,
  * fingerprint walks, any memo jobs), plan (analysis + optimization +
  * physical planning via executedPlan) and exec (the count). Two passes
  * in sorted-name order like [[graft.Bench]]; each phase reports its MIN
  * across passes, so pass-1 JIT noise is not misattributed.
  *
  * Usage: `runMain graft.tools.Phases <sfDir> [name,name,...]`, on
  * `local[$SPARK_GRAFT_CPUS]` (default 4). Prints one `PHASES` line per
  * query and a closing `PHASES-SUM` line.
  */
object Phases {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.parquet is TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val named = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Array[Double]]
    for (_ <- 1 to 2; (name, fn) <- named) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      val phases = Array(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
      best(name) = best.get(name).fold(phases)(_.zip(phases).map(p => math.min(p._1, p._2)))
    }
    best.foreach { case (name, Array(c, p, e)) =>
      println(f"PHASES $name%-36s construct=$c%7.3f plan=$p%7.3f exec=$e%7.3f total=${c + p + e}%7.3f")
    }
    val Seq(sc, sp, se) = (0 until 3).map(i => best.values.map(_(i)).sum)
    println(f"PHASES-SUM n=${best.size} construct=$sc%8.2f plan=$sp%8.2f exec=$se%8.2f total=${sc + sp + se}%8.2f")
    spark.stop()
  }
}
