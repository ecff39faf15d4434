package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.BookQuery

/** Golden end-to-end tests of the flagship pipeline on the FIXTURES.md §B
  * micro-corpora, asserting both the reference-exact formula and true
  * Jaccard. Hand-computed expectations documented inline.
  */
class BookQuerySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // FIXTURES.md B.1: query(0) "a b c d" -> Q = {a b c, b c d}, |Q| = 2.
  // doc1 "a b c x": ∩ = {a b c} (len 1); doc2 "a b c d e": ∩ = both (len 2);
  // doc3 "z z z z": ∩ = ∅ -> absent. n = 4, no df==n shingle.
  private val corpus1 = Seq(
    (0L, "a b c d"), (1L, "a b c x"), (2L, "a b c d e"), (3L, "z z z z")
  ).toDF("doc_id", "text")

  test("reference-exact scores on known corpus (B.1)") {
    val got = BookQuery.referenceScores(corpus1)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // doc1: sum=1, len=1, |Q|=2 -> 1/(1+2-1) = 0.5
    // doc2: sum=2, len=2, |Q|=2 -> 2/(2+2-2) = 1.0
    assert(got == Map(1L -> 0.5, 2L -> 1.0))
  }

  test("true Jaccard on known corpus (B.1)") {
    val got = BookQuery.jaccardScores(corpus1)
      .select("doc_id", "jaccard").as[(Long, Double)].collect().toMap
    // doc1: 1/(2+2-1) = 1/3; doc2: 2/(3+2-2) = 2/3
    assert(got == Map(1L -> 0.333333, 2L -> 0.666667))
  }

  // FIXTURES.md B.2: a shingle present in ALL n docs must be dropped
  // (df==n stop filter, BookQuery.java:105).
  test("df==n stop-shingle is dropped (B.2)") {
    // Every doc starts "s t u" -> shingle "s t u" has df == n == 4.
    // Q = sh("s t u a b c") = {s t u, t u a, u a b, a b c}, |Q| = 4.
    val corpus = Seq(
      (0L, "s t u a b c"),
      (1L, "s t u x y z"),   // ∩ = {s t u} only -> all terms pruned -> absent
      (2L, "s t u a b c"),   // ∩ = Q; "s t u" pruned -> sum=3, len=4
      (3L, "s t u p q r")    // ∩ = {s t u} -> absent
    ).toDF("doc_id", "text")
    val got = BookQuery.referenceScores(corpus)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // doc2: sum=3, len=4, |Q|=4 -> 3/(4+4-3) = 0.6
    assert(got == Map(2L -> 0.6))
  }

  // FIXTURES.md B.3: a shingle only in the query (df==1) contributes nothing.
  test("df==1 query-only shingle contributes nothing (B.3)") {
    val corpus = Seq(
      (0L, "a b c z z z"),   // Q = {a b c, b c z, c z z, z z z}
      (1L, "a b c x"),       // ∩ = {a b c}
      (2L, "q r s t")        // ∩ = ∅
    ).toDF("doc_id", "text")
    val got = BookQuery.referenceScores(corpus)
      .select("doc_id", "len", "sum_shared", "score").as[(Long, Long, Long, Double)].collect()
    // only doc1 appears; "b c z"/"c z z"/"z z z" never emitted (df_nq=0)
    assert(got.toSeq == Seq((1L, 1L, 1L, 0.25))) // 1/(1+4-1)
  }

  test("batch scoring equals a standalone reference run per query") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = BookQuery.referenceScoresBatch(docs, nQueries = 3)
      .select("query_id", "doc_id", "len", "sum_shared", "score")
      .as[(Long, Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4, r._5)).toSet).toMap
    assert(batch.keySet == Set(0L, 1L, 2L))
    for (q <- 0L to 2L) {
      val solo = BookQuery.referenceScores(docs, queryDocId = q)
        .select("doc_id", "len", "sum_shared", "score")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch(q) == solo,
        s"query $q: missing=${solo -- batch(q)} extra=${batch(q) -- solo}")
    }
  }

  /** Same schema (nullability included) and the same multiset of rows. */
  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val (g, w) = (got.collect().map(_.toString).sorted.toSeq, want.collect().map(_.toString).sorted.toSeq)
    assert(g == w, s"$what: missing=${w.diff(g)} extra=${g.diff(w)}")
  }

  private def singleCases(docs: DataFrame, q: Column, what: String): Unit =
    assertSame(BookQuery.referenceScoresFor(docs, q), BookQuery.inPlanScores(docs, q), what)

  private def batchCases(docs: DataFrame, nQueries: Int, what: String): Unit =
    assertSame(BookQuery.referenceScoresBatch(docs, nQueries), BookQuery.inPlanBatch(docs, nQueries), what)

  test("driver plan ≡ in-plan DAG: sf0.001, string ids, null texts and ids, fallbacks, empty Q") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    for (q <- Seq(0L, 7L, 42L)) singleCases(docs, lit(q), s"sf0.001 query $q")
    assert(BookQuery.referenceScores(docs, 7L).count() > 0)
    for (nq <- Seq(1, 3, 8)) batchCases(docs, nq, s"sf0.001 batch of $nq")
    // string ids: the wholetext form's basename keys
    val byName = docs.select(col("doc_id").cast("string").as("doc_id"), col("text"))
    singleCases(byName, lit("3"), "string ids")
    assert(BookQuery.referenceScoresFor(byName, lit("3")).count() > 0)
    // a null text (query and corpus side) and a null id, which counts in n
    val withNulls = Seq[(Option[Long], Option[String])](
      (Some(0L), Some("a b c d")), (Some(1L), Some("a b c x")), (Some(2L), Some("a b c d e")),
      (Some(3L), None), (None, Some("a b c d")), (Some(4L), Some("b c d a b c"))
    ).toDF("doc_id", "text")
    singleCases(withNulls, lit(0L), "null text and id")
    singleCases(withNulls, lit(3L), "null query text")
    batchCases(withNulls, 5, "batch over null text and id")
    // absent and duplicated query ids take the in-plan DAG
    singleCases(withNulls, lit(99L), "absent query id")
    val dup = corpus1.union(Seq((0L, "a b c x y")).toDF("doc_id", "text"))
    singleCases(dup, lit(0L), "duplicated query id")
    batchCases(dup, 3, "batch with a duplicated query id")
    // a query with an empty shingle set (fewer than k tokens)
    val short = Seq((0L, "a b"), (1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    singleCases(short, lit(0L), "empty query shingle set")
    batchCases(short, 3, "batch with an empty query shingle set")
  }

  test("driver plan ≡ in-plan DAG at the df ≤ n−2 boundary") {
    // n = 5; Q = {s t u, t u a, u a b, a b c}. "s t u" is in every non-query
    // doc (df_nq = 4 = n−1: dropped); "a b c" is in three (df_nq = 3 = n−2:
    // kept)
    val corpus = Seq(
      (0L, "s t u a b c"), (1L, "s t u a b c"), (2L, "s t u x a b c"),
      (3L, "s t u y a b c"), (4L, "s t u q r")
    ).toDF("doc_id", "text")
    singleCases(corpus, lit(0L), "boundary")
    batchCases(corpus, 5, "boundary batch")
    val got = BookQuery.referenceScores(corpus)
      .select("doc_id", "len", "sum_shared", "score").as[(Long, Long, Long, Double)].collect().toSet
    // doc1: t = Q, sum = 3 → 3/(4+4−3); docs 2, 3: t = {s t u, a b c},
    // sum = 1 → 1/(2+4−1); doc4: t = {s t u} only → no row
    assert(got == Set((1L, 4L, 3L, 0.6), (2L, 2L, 1L, 0.2), (3L, 2L, 1L, 0.2)))
  }

  test("top-k ranks by score with doc_id tie-break") {
    val ranked = BookQuery.topK(BookQuery.referenceScores(corpus1), "score", 1)
      .select("doc_id").as[Long].collect()
    assert(ranked.toSeq == Seq(2L))
  }
}
