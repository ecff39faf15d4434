package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EmbeddingSearch
import graft.operators.EmbeddingSearch.{Cos, Ip}

/** The shared candidate → score → rank core every kNN family ends in:
  * the rank rule ([[EmbeddingSearch.rankTopK]]) and the probe rule
  * ([[EmbeddingSearch.probeCells]]) with its driver-side twin
  * ([[EmbeddingSearch.probedCellIdsLocal]]), on small in-memory frames.
  */
class RankCoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // one query (id 0, qv = [1, 0]) against five candidates: itself, three
  // vectors whose cosines all ROUND to 1.0 (vec 1's raw cosine is
  // 0.9999995000..., below the other two), and an orthogonal one
  private val qv = Seq(1.0, 0.0)
  private val cand = Seq(
    (0L, 0L, Seq(1.0, 0.0)),
    (0L, 5L, Seq(1.0, 0.0)),
    (0L, 3L, Seq(2.0, 0.0)),
    (0L, 1L, Seq(1.0, 0.001)),
    (0L, 9L, Seq(0.0, 1.0))
  ).map { case (q, id, v) => (q, id, v, qv) }.toDF("query_id", "vec_id", "v", "qv")

  test("rankTopK: equal rounded scores rank by vec_id asc, the self-match is dropped") {
    val rows = EmbeddingSearch.rankTopK(cand, Cos, 3)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq
    assert(rows == Seq((0L, 1L, 1.0, 1L), (0L, 3L, 1.0, 2L), (0L, 5L, 1.0, 3L)))
  }

  test("rankTopK: rank is a long and never exceeds k") {
    for (k <- 1 to 5) {
      val out = EmbeddingSearch.rankTopK(cand, Cos, k)
      assert(out.schema("rank").dataType == LongType)
      val ranks = out.select($"rank").as[Long].collect()
      assert(ranks.nonEmpty && ranks.forall(_ <= k))
      assert(ranks.sorted.toSeq == (1L to math.min(k, 4).toLong))
      assert(!out.select($"vec_id").as[Long].collect().contains(0L), "self-match kept")
    }
  }

  test("Cos and Ip emit their cosine and ip score columns") {
    assert(EmbeddingSearch.rankTopK(cand, Cos, 2).columns.toSeq ==
      Seq("query_id", "vec_id", "cosine", "rank"))
    val ip = EmbeddingSearch.rankTopK(cand, Ip, 2)
    assert(ip.columns.toSeq == Seq("query_id", "vec_id", "ip", "rank"))
    // by inner product the long vector wins outright
    assert(ip.where($"rank" === 1L).select($"vec_id").as[Long].head() == 3L)
  }

  test("probeCells and probedCellIdsLocal pick the same exactly-tied cells, in cl asc order") {
    val q = Seq((0L, qv)).toDF("query_id", "qv")
    val qRows = Array((0L, qv.toArray))
    // cosine: cells 2, 4 and 7 all round to 1.0 against qv; cell 1 is 0
    val cosCells = Seq((4, Seq(1.0, 0.0)), (2, Seq(2.0, 0.0)),
      (7, Seq(1.0, 0.001)), (1, Seq(0.0, 1.0)))
    // inner product: cells 1 and 3 tie at exactly 2.0; cell 0 scores 1.0
    val ipCells = Seq((3, Seq(2.0, 0.0)), (1, Seq(2.0, 5.0)), (0, Seq(1.0, 0.0)))
    for ((metric, cells, want) <- Seq((Cos, cosCells, Seq(2, 4)), (Ip, ipCells, Seq(1, 3)))) {
      val cent = cells.toDF("cl", "cv")
      val inPlan = EmbeddingSearch.probeCells(q, cent, metric, 2)
        .select($"cl").as[Int].collect().toSeq.sorted
      val local = EmbeddingSearch.probedCellIdsLocal(qRows,
        cells.map { case (cl, cv) => (cl, cv.toArray) }.toArray, 2, metric).toSeq
      assert(inPlan == want, s"$metric: in-plan probe picked $inPlan")
      assert(local == want, s"$metric: driver-side probe picked $local")
    }
  }
}
