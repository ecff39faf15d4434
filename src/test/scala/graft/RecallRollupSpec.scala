package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EmbeddingSearch

/** The shared recall rollup ([[EmbeddingSearch.recallOf]]) and the
  * collected ground-truth memo ([[EmbeddingSearch.memoizedPairs]]) every
  * recall twin goes through.
  */
class RecallRollupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // query 1: 3 true neighbors, 2 retrieved (+1 false positive);
  // query 2: 1 true neighbor, missed; query 3: approx-only
  private val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
    .toDF("query_id", "vec_id")
  private val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), (3L, 30L))
    .toDF("query_id", "vec_id")

  test("recallOf: misses count in n_exact only; an empty exact side yields no row") {
    val rows = EmbeddingSearch.recallOf(exact, approx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, 3L, 2L, 0.666667), (2L, 1L, 0L, 0.0)))
  }

  test("recallOf: schema is (key, n_exact: long, n_hit: long, recall: double)") {
    val out = EmbeddingSearch.recallOf(
      exact.toDF("vec_id", "nbr_id"), approx.toDF("vec_id", "nbr_id"),
      "vec_id", "nbr_id")
    assert(out.schema.map(f => (f.name, f.dataType)) == Seq(
      "vec_id" -> LongType, "n_exact" -> LongType, "n_hit" -> LongType,
      "recall" -> DoubleType))
    assert(out.where($"vec_id" === 1L).select($"recall").as[Double].head() == 0.666667)
  }

  test("memoizedPairs serves the cached pairs under one fingerprint and recomputes on a new one") {
    var computes = 0
    def pairs(rows: (Long, Long)*) = { computes += 1; rows.toDF("query_id", "vec_id") }
    def read(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSeq.sorted
    val key = ("RecallRollupSpec", "memo")
    assert(read(EmbeddingSearch.memoizedPairs(spark, key, "fp1")(pairs(1L -> 10L))) ==
      Seq(1L -> 10L))
    assert(read(EmbeddingSearch.memoizedPairs(spark, key, "fp1")(pairs(1L -> 99L))) ==
      Seq(1L -> 10L))
    assert(computes == 1)
    assert(read(EmbeddingSearch.memoizedPairs(spark, key, "fp2")(pairs(1L -> 99L))) ==
      Seq(1L -> 99L))
    assert(computes == 2)
  }
}
