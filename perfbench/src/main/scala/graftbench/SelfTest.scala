package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.operators.{BookQuery, TextAnalysis}

/** The benchmark's own tests (`Main selftest`): the generator is seeded, and
  * the output checks pass on graft's real output and fail on a wrong
  * expected value. Returns the process exit code.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "PASS" else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def run(): Int = {
    val shape = Shape(baseDocs = 200, replicas = 2, heldOut = 1, nearDups = 6, exactDups = 2, vecDups = 3,
      batches = 2, batchDocs = 50, batchDups = 2, queries = 8)
    val a = Gen.generate(shape, 11)
    expect("same seed gives identical inputs", a.digest == Gen.generate(shape, 11).digest)
    expect("another seed gives other inputs", a.digest != Gen.generate(shape, 12).digest)
    expect("every injected near-duplicate has Jaccard >= 0.8", a.nearDups.forall { p =>
      val byId = a.docs.map(d => d.id -> d).toMap
      Gen.jaccard(Gen.shingles(byId(p.src).text), Gen.shingles(byId(p.dup).text)) >= Gen.MinDupJaccard
    })
    expect("doc ids are distinct", (a.docs ++ a.batches.flatMap(_.docs)).map(_.id).distinct.length ==
      a.docs.length + a.batches.map(_.docs.length).sum)

    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "selftest").toString
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.graft.artifactRoot", s"$work/root").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val docs = spark.createDataFrame(spark.sparkContext.parallelize(Gen.docRows(a.docs), 2), Gen.DocSchema)
      val q = a.docQueries.head
      val got = BookQuery.topK(BookQuery.referenceScoresFor(docs, lit(q)), "score", 10).collect()
        .map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("score"))).toSeq
      val want = Oracle.docTopK(a.docs, q)
      expect("doc check passes on graft's output", got == want)
      val wrong = want.updated(0, (want.head._1, want.head._2 + 1e-6))

      TextAnalysis.buildBm25Index(docs, s"$work/bm25")
      val tracer = new Tracer(spark, tracing = false)
      val r = new Run(spark, a, work, s"$work/root", tracer, 1.0, 11)
      val live = new Workloads.Live(a.docs.toVector, a.vecs.toVector)
      val rows = TextAnalysis.bm25TopDocsWithIndex(spark, s"$work/bm25", q).collect().toSeq
      r.attempt("lexical")(Workloads.lexicalMatches(r, live, q, rows))
      expect("lexical check passes on graft's output", r.failed == 0)
      val wrongRows = rows.updated(0, Row.fromSeq(rows.head.toSeq.updated(3, rows.head.getDouble(3) + 1.0)))
      r.attempt("lexical")(Workloads.lexicalMatches(r, live, q, wrongRows))
      expect("lexical check fails on a wrong expected row, counted as a failed operation",
        r.failed == 1 && r.attempted == 2)
      r.attempt("doc")(got == wrong)
      expect("doc check fails on a wrong expected score, counted as a failed operation", r.failed == 2)
      val (groups, copies) = Oracle.exactDupGroups(a.docs)
      r.attempt("exact groups")(Oracle.exactDupGroups(a.docs) == ((groups + 1, copies)))
      expect("exact-group check fails on a wrong expected count", r.failed == 3)
    } finally {
      spark.stop()
      Files.deleteTree(new java.io.File(work))
    }
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
