package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, EmbeddingSearch, Relational, TextAnalysis}
import graft.sources.Tables

/** Partition-count invariance (r2 verdict item 5): SCALING.md claims every
  * hash-checked result is stable under ANY partitioning — decimal sums are
  * associative, ratios divide exact operands, every rank has a total order.
  * This spec turns the claim into a regression guard: representative
  * decimal-sum / iterative / rank queries run at shuffle.partitions 4 vs 7
  * and must produce IDENTICAL multisets of rows (bit-exact, not
  * approximately — a double that drifts with partition count would be a
  * nondeterministic result on a real cluster, where partition counts change
  * with every scale-up).
  */
class InvarianceSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // index-building cases run at BOTH partitionings, each on a fresh temp
  // dir — track every dir created and delete them after the suite, or
  // each run leaks index pairs under /tmp (r11 ADVICE)
  private val tempRoots = scala.collection.mutable.ArrayBuffer.empty[String]
  private def tempDir(prefix: String): String = synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    tempRoots += p
    p
  }
  override def afterAll(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    tempRoots.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).delete(hp, true)
    }
    super.afterAll()
  }

  // kmeans runs FRESH training (not the persisted-index entry) so the
  // invariance of the training shuffles themselves is what's under test
  private val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "rel_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "embed_label_stats" -> ((s, d) => EmbeddingSearch.labelStats(s, d)),
    "embed_knn_kmeans_fresh" ->
      ((s, d) => EmbeddingSearch.kmeansTopK(s, d, k = 5, nQueries = 3)),
    "dedup_minhash_lsh" ->
      ((s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), tau = 0.7)),
    // build + serve both run at the partitioning under test (fresh index
    // dir per run, so the build is genuinely re-exercised)
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = tempDir("graft_inv_idx")
      Dedup.buildDedupIndex(docs.where(col("doc_id") < 40L), idx)
      Dedup.dedupAgainst(idx, docs.where(col("doc_id") >= 40L), tau = 0.7)
    }),
    "embed_dedup_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = tempDir("graft_inv_vecidx")
      EmbeddingSearch.buildVecDedupIndex(emb.where(col("vec_id") < 40L), idx)
      EmbeddingSearch.vecDedupAgainst(idx, emb.where(col("vec_id") >= 40L), tau = 0.4)
    }),
    "corpus_budget_bucketed" ->
      ((s, d) => TextAnalysis.tokenBudgetBucketed(Tables.documents(s, d), 300L, 8)),
    "corpus_clean_near" -> ((s, d) => {
      val surv = Tables.documents(s, d).where(TextAnalysis.qualityPredicate(col("text")))
      Dedup.dedupClusters(surv, Dedup.minhashLshPairs(surv, tau = 0.7))
    }),
    // the salt is monotonically_increasing_id mod buckets — its VALUES
    // change with partition count by construction; the results must not
    "rel_salted_join" -> ((s, d) => Relational.saltedSupplierRevenue(s, d)),
    "text_gram_df_salted" ->
      ((s, d) => TextAnalysis.saltedGramCounts(Tables.documents(s, d), minDf = 2)),
    // fresh SAMPLED training at each partitioning (the persisted entry
    // would hide training shuffles behind the cached index)
    "embed_knn_kmeans_sampled_fresh" ->
      ((s, d) => EmbeddingSearch.kmeansTopK(s, d, k = 5, nQueries = 3, samplePct = 40)),
    // round-5 rank/window additions: band-join edge ranking, interval-join
    // counts, and the integer-PMI TakeOrdered must all be partition-stable
    // the banded branch of the r13 auto default (corpus-adaptive sizing
    // since round 7); the cells branch is pinned separately below
    "embed_knn_join_banded" -> ((s, d) => EmbeddingSearch.knnJoinScaled(s, d)),
    // SemDeDup verdicts: distinct + min aggregates must be partition-stable
    "embed_semantic_prune" -> ((s, d) => EmbeddingSearch.semanticPrune(s, d, tau = 0.35)),
    "events_concurrency" -> ((s, d) => graft.operators.Events.sessionConcurrency(s, d)),
    "text_pmi_topk" -> ((s, d) => TextAnalysis.pmiTopBigrams(Tables.documents(s, d))),
    // this session's additions: the iterative integer PageRank (checkpointed
    // rounds), the sketch cells, the prefix-filtered pair joins, and the
    // keep-longest window must all be partition-stable
    "text_textrank" ->
      ((s, d) => TextAnalysis.textrank(Tables.documents(s, d), minCount = 2)),
    "text_countmin" ->
      ((s, d) => TextAnalysis.countMinAccuracy(Tables.documents(s, d))),
    "simjoin_containment" -> ((s, d) =>
      graft.operators.SimilarityJoin.containmentPairs(Tables.documents(s, d), tau = 0.8)),
    "simjoin_edit_distance" -> ((s, d) =>
      graft.operators.SimilarityJoin.editDistancePairs(
        Tables.part(s, d).select(col("p_name").as("name")).distinct())),
    "dedup_clusters_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupClustersKeepLongest(docs, Dedup.minhashLshPairs(docs, tau = 0.7))
    }),
    "events_anomaly" ->
      ((s, d) => graft.operators.Events.anomalies(s, d, minObs = 4)),
    // the capstone composition, the fan-out distinct, the global ntile
    // order, and the joint PQ training must all be partition-stable
    "corpus_curated" ->
      ((s, d) => TextAnalysis.curatedCorpus(Tables.documents(s, d))),
    "events_dau_mau" -> ((s, d) => graft.operators.Events.dauMau(s, d)),
    "rel_equidepth" -> ((s, d) => Relational.orderValueEquidepth(s, d)),
    "embed_knn_pq" -> ((s, d) => EmbeddingSearch.pqTopK(s, d, nQueries = 3)),
    "book_query_batch" ->
      ((s, d) => graft.operators.BookQuery.referenceScoresBatch(Tables.documents(s, d))),
    "embed_knn_multiprobe" ->
      ((s, d) => EmbeddingSearch.lshTopK(s, d, nQueries = 3, multiProbe = true)),
    // this session's additions: the recursive-CTE spread (checkpointed
    // edges + loop), the BM25 fold order, the percentile day-delta rollup,
    // the packing prefix sums, and the HLL sketch merge must all be
    // partition-stable
    "text_decontaminate_spread" ->
      ((s, d) => TextAnalysis.contaminationSpread(Tables.documents(s, d), nEval = 50)),
    "text_bm25_topk" ->
      ((s, d) => TextAnalysis.bm25TopDocs(Tables.documents(s, d))),
    "rel_ship_delay" -> ((s, d) => Relational.shippingDelay(s, d)),
    "corpus_pack_bucketed" ->
      ((s, d) => TextAnalysis.packSequencesBucketed(Tables.documents(s, d))),
    "events_distinct_reagg" ->
      ((s, d) => graft.operators.Events.distinctReagg(s, d)),
    // this session's additions: the SQ8 min/max train pass, the centroid
    // z-tail, the bloom bitmap build (collect_list order varies with
    // partitioning; the map lookup must not care), and the changelog window
    "embed_knn_sq8" -> ((s, d) => EmbeddingSearch.sq8TopK(s, d, nQueries = 3)),
    "text_lm_score" -> ((s, d) => TextAnalysis.lmScore(Tables.documents(s, d))),
    "embed_outliers" -> ((s, d) => EmbeddingSearch.labelOutliers(s, d)),
    "rel_bloom_join" -> ((s, d) => Relational.bloomPartRevenue(s, d)),
    "rel_cdc_apply" -> ((s, d) => Relational.cdcApplyOrders(s, d)),
    // round-8 additions: the ALSH MIPS band join + exact re-rank, and the
    // 3-round distributed GD (decimal-summed gradients, broadcast weight
    // rows) must both be partition-stable
    "embed_knn_mips_alsh_fixed" -> ((s, d) => EmbeddingSearch.mipsTopKAlsh(s, d, nQueries = 3)),
    "text_quality_classifier" ->
      ((s, d) => TextAnalysis.qualityClassifierWeights(Tables.documents(s, d))),
    // the two-phase global-id assignment: range boundaries move with the
    // partition count; the assigned positions must not
    "corpus_assign_ids" ->
      ((s, d) => TextAnalysis.assignGlobalIds(Tables.documents(s, d))),
    // the BPE trainer's 8 sequential argmax rounds (integer pair counts +
    // total-order tie-break) must pick identical merges at any layout
    "text_bpe_merges" ->
      ((s, d) => TextAnalysis.bpeMerges(Tables.documents(s, d))),
    // DSIR: decimal-summed 6dp log-ratio terms must be partition-stable
    "corpus_dsir_scores" ->
      ((s, d) => TextAnalysis.dsirScores(Tables.documents(s, d))),
    // round-11 additions: the multi-query hybrid serve (bucket-pruned
    // lexical scan + bounded per-query heads + RRF) and the Hamming-2
    // probe ring must both be partition-stable; fresh index dirs so the
    // builds themselves run at BOTH partitionings
    "text_hybrid_batch_fresh" -> ((s, d) => {
      val root = tempDir("graft_inv_hyb")
      TextAnalysis.buildBm25Index(Tables.documents(s, d), s"$root/bm")
      EmbeddingSearch.buildIvfIndex(Tables.embeddings(s, d)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            _.cast("double")).as("v")), s"$root/ivf")
      TextAnalysis.hybridServeBatch(TextAnalysis.hybridQuerySet(s, d, 3),
        s"$root/bm", s"$root/ivf", nprobe = 2)
    }),
    "embed_knn_join_h2" ->
      ((s, d) => EmbeddingSearch.knnJoinScaled(s, d, probeHamming = 2)),
    // round-12: the NN-descent rounds (window caps + distinct unions +
    // self-join + re-score) must pick identical edges at any layout
    "embed_knn_join_nnd" ->
      ((s, d) => EmbeddingSearch.knnJoinDescent(s, d)),
    // round-12: the IVF-cell graph (fresh sized training + HOF cell
    // ranking + the shared kernel) must be partition-stable end-to-end
    "embed_knn_join_cells" ->
      ((s, d) => EmbeddingSearch.knnJoinCells(s, d)),
    // round-12 (the r13 default name): the occupancy-sized ALSH
    // (count-derived width + the augmented banding) must be
    // partition-stable too
    "embed_knn_mips_alsh" ->
      ((s, d) => EmbeddingSearch.mipsTopKAlshScaled(s, d, nQueries = 3)),
    // round-13: the sound range serve's novel arithmetic — per-cell radii
    // (min over a shuffled group) and the acos probe bound — must pick
    // identical probe sets and τ-rows at any layout; fresh index dir so
    // the sized training also runs at both partitionings
    "embed_range_search_pruned" -> ((s, d) =>
      EmbeddingSearch.rangeSearchPrunedWhere(s, d, tempDir("graft_inv_range"),
        org.apache.spark.sql.functions.lit(true))),
    // round-13: the filtered IVF serve (pushed-filter assignment + the
    // widened count-derived probe) must be partition-stable end-to-end
    "embed_knn_filtered_ivf" -> ((s, d) =>
      EmbeddingSearch.filteredTopKIvfWhere(s, d, tempDir("graft_inv_filt"),
        SparkEntry.registeredFilter)))

  private def runAt(parts: Int, fn: (SparkSession, String) => DataFrame): Seq[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try fn(spark, dir).collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  for ((name, fn) <- cases)
    test(s"$name is bit-identical at shuffle.partitions 4 vs 7") {
      val at4 = runAt(4, fn)
      val at7 = runAt(7, fn)
      assert(at4.nonEmpty)
      assert(at4 == at7,
        s"$name drifted with partition count: ${at4.diff(at7).take(3)} vs ${at7.diff(at4).take(3)}")
    }
}
