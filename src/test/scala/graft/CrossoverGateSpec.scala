package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EmbeddingSearch, TextAnalysis}

/** Both arms and the EXACT boundary of every count-gated auto default
  * (r15, ADVICE r14): the production crossovers (MIPS 2^16, hybrid 65536)
  * sit far past any fixture, so without injection the at-scale branch —
  * and a boundary off-by-one in either the Spark gate or the oracle's
  * count-gated UNION ALL — would ship untested. The overrides pin the
  * Spark side here (arm selection + row identity to the explicit forms
  * at `n`, `n+1`, and far-below); the DuckDB side runs through the same
  * override via GRAFT_XOVER_* env vars in a local Verify pass (recorded
  * in SCALING.md), whose oracle SQL re-reads the overridden value.
  *
  * The gate rule everywhere is `n < crossover → cheap exact arm`, so at
  * override = n the AT-SCALE arm must fire and at override = n+1 the
  * exact arm must — both directions of the boundary, one row each side.
  */
class CrossoverGateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("MIPS auto serves the brute arm below, the standing IVF arm at/past the boundary") {
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    val idx = SparkEntry.standingIvfIndexDirFor(dir)
    val brute = rowsOf(EmbeddingSearch.exactTopK(spark, dir, EmbeddingSearch.Ip))
    val standing = rowsOf(EmbeddingSearch.mipsStandingServe(spark, dir, idx))
    val saved = EmbeddingSearch.mipsCellsCrossoverOverride
    try {
      EmbeddingSearch.mipsCellsCrossoverOverride = Some(n + 1) // n < xover
      assert(rowsOf(EmbeddingSearch.mipsTopKAuto(spark, dir, idx)) == brute,
        "below the crossover the auto must equal the exact scan verbatim")
      EmbeddingSearch.mipsCellsCrossoverOverride = Some(n) // n >= xover
      assert(rowsOf(EmbeddingSearch.mipsTopKAuto(spark, dir, idx)) == standing,
        "at the boundary (n == crossover) the auto must serve the standing IVF arm")
      EmbeddingSearch.mipsCellsCrossoverOverride = Some(1L) // far past
      assert(rowsOf(EmbeddingSearch.mipsTopKAuto(spark, dir, idx)) == standing,
        "past the crossover the auto must serve the standing IVF arm")
    } finally EmbeddingSearch.mipsCellsCrossoverOverride = saved
  }

  test("hybrid auto serves the flat tier below, the probed tier at/past the boundary") {
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    val bp = SparkEntry.bm25IndexDirFor(dir)
    val ip = SparkEntry.ivfFullIndexDirFor(dir)
    TextAnalysis.ensureBm25Index(spark, dir, bp)
    EmbeddingSearch.ensureIvfIndex(spark, dir, ip)
    val flat = rowsOf(TextAnalysis.hybridTopKServed(spark, bp, ip, nprobe = 0))
    val probed = rowsOf(TextAnalysis.hybridTopKServed(spark, bp, ip, nprobe = 2))
    val saved = TextAnalysis.hybridProbeCrossoverOverride
    try {
      TextAnalysis.hybridProbeCrossoverOverride = Some(n + 1)
      assert(rowsOf(TextAnalysis.hybridTopKServedAuto(spark, dir, bp, ip)) == flat,
        "below the crossover the auto must serve the exact flat tier")
      TextAnalysis.hybridProbeCrossoverOverride = Some(n)
      assert(rowsOf(TextAnalysis.hybridTopKServedAuto(spark, dir, bp, ip)) == probed,
        "at the boundary the auto must serve the probed tier")
    } finally TextAnalysis.hybridProbeCrossoverOverride = saved
  }

  test("dedup-pairs auto switches banded->cells exactly at the boundary; default gate 0 serves cells") {
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    val idx = SparkEntry.sizedKmeansIndexDirFor(dir)
    val banded = rowsOf(EmbeddingSearch.cosineNearDupPairsScaled(spark, dir, 0.4))
    val cells = rowsOf(EmbeddingSearch.cosineNearDupPairsCells(spark, dir, 0.4, idx))
    val saved = EmbeddingSearch.dedupEmbeddingCellsCrossoverOverride
    try {
      EmbeddingSearch.dedupEmbeddingCellsCrossoverOverride = Some(n + 1)
      assert(rowsOf(EmbeddingSearch.cosineNearDupPairsAuto(spark, dir, 0.4, idx)) == banded,
        "below the crossover the auto must equal the banded arm verbatim")
      EmbeddingSearch.dedupEmbeddingCellsCrossoverOverride = Some(n)
      assert(rowsOf(EmbeddingSearch.cosineNearDupPairsAuto(spark, dir, 0.4, idx)) == cells,
        "at the boundary (n == crossover) the auto must serve the cells arm")
      EmbeddingSearch.dedupEmbeddingCellsCrossoverOverride = None
      assert(EmbeddingSearch.dedupEmbeddingCellsCrossover == 0L &&
        rowsOf(EmbeddingSearch.cosineNearDupPairsAuto(spark, dir, 0.4, idx)) == cells,
        "the measured default gate (0 — no inversion exists) must serve cells everywhere")
    } finally EmbeddingSearch.dedupEmbeddingCellsCrossoverOverride = saved
  }

  test("kNN-join auto switches banded->cells exactly at the boundary") {
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    val idx = SparkEntry.sizedKmeansIndexDirFor(dir)
    val banded = rowsOf(EmbeddingSearch.knnJoinScaled(spark, dir))
    val cells = rowsOf(EmbeddingSearch.knnJoinCellsPersisted(spark, dir, idx))
    val saved = EmbeddingSearch.knnGraphCellsCrossoverOverride
    try {
      EmbeddingSearch.knnGraphCellsCrossoverOverride = Some(n + 1)
      assert(rowsOf(EmbeddingSearch.knnJoinAuto(spark, dir, idx)) == banded)
      EmbeddingSearch.knnGraphCellsCrossoverOverride = Some(n)
      assert(rowsOf(EmbeddingSearch.knnJoinAuto(spark, dir, idx)) == cells)
    } finally EmbeddingSearch.knnGraphCellsCrossoverOverride = saved
  }
}
