package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.HashFunctions._
import graft.sources.{ArtifactFs, Tables}

/** Deduplication surface for a training-data pipeline (builder mandate; the
  * reference's set-semantics shingling, BookQuery.java:66-70, is the seed of
  * all of it). Four detectors, cheapest to most robust:
  *
  *   1. exact        — md5 of the raw text; one hash-shuffle groupBy.
  *   2. minhash LSH  — MinHash signatures banded into LSH buckets; candidate
  *                     pairs verified with exact Jaccard. Sub-quadratic.
  *   3. simhash      — 48-bit SimHash, 4-chunk index, Hamming ≤ d verify.
  *                     LOSSLESS for d ≤ 3 (pigeonhole over 4 chunks).
  *   4. n-gram       — exact all-pairs word-n-gram Jaccard via the
  *                     prefix-filtered join (SimilarityJoin).
  *   5. embedding    — cosine near-dup pairs over the vector space
  *                     ([[EmbeddingSearch.cosineNearDupPairs]]: hyperplane-
  *                     LSH buckets + exact-cosine verify).
  *
  * Scale notes: signatures/fingerprints are fixed-width per doc (128·8 B,
  * 8 B) regardless of document size, so the shuffle for bucketing is tiny
  * compared to the corpus; band buckets are the unit of candidate generation,
  * so a hot bucket (boilerplate dup cluster) is bounded by the true dup
  * cluster size, and AQE skew-join splits oversized ones.
  */
object Dedup {

  import org.apache.spark.sql.GraftShim.{toColumn, toExpression}

  /** Sorted-distinct 62-bit hashes of a string-array Column (two 31-bit
    * polynomial folds packed as h1·2³¹+h2 — engine-portable, DuckDB replays
    * it) — the verification currency of the incremental dedup index:
    * pairwise collision ≈ 2⁻⁶², the same accepted residual as the
    * similarity-join prefilter (SimilarityJoin.scala), where the 31-bit
    * family's ≈n²/2³² per-pair collision odds would not be negligible at
    * corpus scale.
    */
  private[graft] def hashSet62(sh: Column): Column =
    toColumn(graft.functions.expressions.HashSet62(toExpression(sh)))

  /** |a ∩ b| of two sorted-distinct long arrays — allocation-free merge scan. */
  private[graft] def intersect62(a: Column, b: Column): Column =
    toColumn(graft.functions.expressions.IntersectCountSorted(toExpression(a), toExpression(b)))

  /** Exact-duplicate groups: (text_hash, n_copies, keeper). keeper = lowest
    * doc_id, the row a keep-first dedup pass would retain.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))

  /** Whitespace/case normalization for content hashing (SURVEY §7.4's
    * "sha2(normalized_text)" form): trim, collapse every whitespace run to a
    * single space, lowercase. Deliberately conservative — NO unicode NFC
    * (the corpus contract is ASCII, and an engine-side NFC would not be
    * replayable in every oracle engine) and no punctuation stripping (that
    * changes dedup semantics from "same text" to "similar text", which is
    * the near-dup detectors' job). Pure Column arithmetic, codegen'd.
    * The whitespace class is spelled out ([ \t\n\x0B\f\r] — exactly Java's
    * \s) instead of written as \s, because \s itself is NOT engine-portable:
    * RE2-based engines (the DuckDB oracle among them) exclude vertical tab
    * from \s, and the two engines would then disagree on which documents
    * are duplicates.
    */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "[ \\t\\n\\x0B\\f\\r]+", " ")))

  /** [[exactGroups]] over NORMALIZED text with a cryptographic sha2-256
    * hash: documents differing only in case or whitespace layout land in one
    * group. Same one-hash-shuffle scale shape as the raw-text form.
    */
  def exactGroupsNormalized(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(normalizeText(col("text")), 256).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))

  /** Near-duplicate pairs by MinHash LSH: sig of `numHashes`, banded
    * `bands` × `rowsPerBand`, exact-Jaccard-verified at ≥ tau. Output:
    * (doc_a, doc_b, inter_len, union_len, jaccard).
    */
  def minhashLshPairs(docs: DataFrame, tau: Double,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3): DataFrame =
    minhashLshPairsFromSets(
      docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
        .where(size(col("sh")) > 0), tau, numHashes, bands)

  /** [[minhashLshPairs]] over an already-built (doc_id, sh) shingle-set
    * frame — the seam the shared-sets compositions use: the banding side
    * and the verify side of the pair pipeline read `sets` three times, so
    * a caller that persists it ([[withSharedShingleSets]]) pays ONE
    * tokenize+shingle pass instead of three.
    */
  def minhashLshPairsFromSets(sets: DataFrame, tau: Double,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val banded = sets
      .withColumn("sig", minhashFromHashes(hashSet(col("sh")), numHashes))
      .select(col("doc_id"), explode(minhashBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    SimilarityJoin.verifyJaccard(cand, sets, tau)
  }

  /** Build the (doc_id, sh) shingle-set frame once, MEMORY_AND_DISK-persist
    * it for the duration of `body`, and unpersist before returning — the
    * r17 shared-sets discipline for COMPOSITIONS that consume a pair
    * pipeline EAGERLY (the [[dedupClusters]] family: the CC loop
    * materializes the pairs into a checkpointed edge list during
    * construction, so by the time `body` returns nothing references
    * `sets` and the cache is dead weight, not a leak).
    *
    * Why a persist is sound here (guide §5) where the pair entries
    * themselves stay recompute-over-cache: within ONE composition the
    * banding side and the verify side read the same shingle frame 3-5
    * times back to back — that is reuse inside a single job, bounded in
    * lifetime by this scope, and MEMORY_AND_DISK spills instead of
    * evicting execution memory. The standalone pair entries return LAZY
    * frames with no unpersist point, so they keep recomputing (a
    * session-lifetime cache of corpus-scale shingle arrays is exactly the
    * trade r16 rejected).
    *
    * `body` MUST consume the frame eagerly: the cache is dropped on exit,
    * so a returned lazy plan may still reference `sets`' lineage (fine —
    * it recomputes) but gets no sharing.
    */
  private[graft] def withSharedShingleSets[T](docs: DataFrame, k: Int = 3)(
      body: DataFrame => T): T = {
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .where(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(sets) finally sets.unpersist(false)
  }

  /** MinHash ESTIMATION accuracy over the LSH candidate pairs — the
    * measurement loop that sizes `numHashes` in a deployment (the sketch
    * twin of [[graft.operators.EmbeddingSearch.recallVsExact]]): per candidate
    * pair, the signature-agreement estimate of Jaccard (matching slots, and
    * as an EXACT ppm integer — matches·10⁶ div numHashes, so the entry
    * stays hash-gated) next to the true shingle Jaccard. Costs one extra
    * signature join over the dedup pass it evaluates; candidates only, so
    * the measured population is exactly what the dedup would verify.
    * Output: (doc_a, doc_b, n_match, est_ppm, jaccard).
    */
  def minhashAccuracy(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      k: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .where(size(col("sh")) > 0)
    val sigs = sets.select(col("doc_id"),
      minhashFromHashes(hashSet(col("sh")), numHashes).as("sig"))
    val banded = sigs.select(col("doc_id"),
      explode(minhashBandKeys(col("sig"), bands, numHashes / bands)).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val est = cand
      .join(Scale.maybeBroadcast(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))), "doc_a")
      .join(Scale.maybeBroadcast(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast("long").as("n_match"))
      .withColumn("est_ppm", expr(s"n_match * 1000000 div $numHashes"))
    est.join(
      SimilarityJoin.verifyJaccard(cand, sets, 0.0)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      Seq("doc_a", "doc_b"))
  }

  /** Provenance report over the near-dup graph: MinHash-LSH pairs rolled
    * up to a source×source matrix — which feeds are mirroring each other
    * is the first question a curation pass asks of its dup scan. The pair
    * job dominates; the rollup adds two vocabulary-thin joins (doc→source,
    * size-gated) and one matrix-sized aggregation. Source pairs are
    * normalized least/greatest so the matrix is upper-triangular.
    * Output: (src_a, src_b, n_pairs).
    */
  def dupSourceMatrix(docs: DataFrame, tau: Double = 0.7): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    minhashLshPairs(docs, tau)
      .select(col("doc_a"), col("doc_b"))
      .join(Scale.maybeBroadcast(src.select(col("doc_id").as("doc_a"), col("source").as("sa"))), "doc_a")
      .join(Scale.maybeBroadcast(src.select(col("doc_id").as("doc_b"), col("source").as("sb"))), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"), greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
  }

  /** Near-duplicate pairs by SimHash: pairs at Hamming distance ≤ maxDist
    * over the 48-bit fingerprint of the doc's shingle set. Exact (not
    * approximate) for maxDist ≤ 3 — candidates come from the SHARDED
    * chunk index (21 key bits: 12-bit pigeonhole chunk × 9-bit block of
    * the remainder, [[graft.functions.HashFunctions.simhashShardedChunkKeys]]),
    * which stays lossless while keeping bucket occupancy — and so the
    * candidate join — linear past the corpus size where a flat 4096-bucket
    * chunk table saturates. Output: (doc_a, doc_b, hamming).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, k: Int = 3): DataFrame = {
    val fps = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), simhash48(hashSet(col("sh"))).as("fp"))
    // text simhash shares the sharded-pigeonhole candidate join with the
    // image/audio/video fingerprints — ONE kernel to keep lossless
    Multimodal.fpNearDupPairsOf(fps, "fp", maxDist)
  }

  /** Exact n-gram-Jaccard near-dup pairs (delegates to the prefix join). */
  def ngramJaccardPairs(docs: DataFrame, tau: Double, n: Int = 2): DataFrame =
    SimilarityJoin.allPairsNgramJaccard(docs, tau, n)

  /** Cross-document exact-substring sharing, window-granular: each doc's
    * distinct `k`-token windows hashed to portable longs, rolled up to how
    * many of them also occur in ANOTHER document. This is the aggregate
    * view of exact-substring dedup (Lee et al. 2022's suffix-array pass)
    * re-expressed so it scales as hash shuffles instead of a global
    * suffix sort: a high shared fraction marks the boilerplate/mirrored
    * spans a training corpus cuts. Scale: windows cross the wire as 8 B
    * hashes only (never strings); the df count and the per-doc rollup are
    * both map-side-combinable aggregations. Output:
    * (doc_id, n_windows, n_shared_windows, has_shared) for every doc with
    * ≥ k tokens.
    */
  def substringShared(docs: DataFrame, k: Int = 10): DataFrame = {
    val win = docs.select(col("doc_id"),
      explode(hashSet(shingleSet(col("text"), k))).as("h"))
    val dfc = win.groupBy(col("h")).agg(count(lit(1)).as("df"))
    win.join(dfc, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_shared_windows"),
        (col("n_shared_windows") > 0L).as("has_shared"))
  }

  /** Build the PERSISTED dedup index of an already-ingested corpus — the
    * artifact an incremental ingest dedups each new batch against
    * ([[dedupAgainst]]) without ever rescanning corpus text. Three parquet
    * tables under `path`:
    *
    *   - `exact/` (text_hash, doc_id)  — md5 of raw text, one row per doc
    *   - `sets/`  (doc_id, hs31, hs62) — hashed distinct k-shingle set in
    *     BOTH portable families: the 31-bit hashes feed the MinHash banding
    *     (same permutation constants as [[minhashLshPairs]]), the
    *     sorted-distinct 62-bit hashes are the VERIFICATION currency
    *     (per-pair collision ≈ 2⁻⁶² — the similarity-prefilter's accepted
    *     residual; verifying on the 31-bit family would carry ≈n²/2³²
    *     per-pair collision odds, not negligible at corpus scale)
    *   - `bands/` (doc_id, band)       — MinHash LSH band keys
    *
    * plus a `_DONE` marker removed FIRST (a rebuild over an existing index
    * must not leave a stale marker on a half-overwritten index) and
    * re-created only after all three tables commit, so a half-built index
    * can never be served. The corpus is scanned twice (exact hashes;
    * shingle sets) and `bands/` derives from the PERSISTED sets, so sets
    * and bands can never disagree — the one-time build cost of making
    * every later ingest corpus-scan-free. Same persistence discipline as
    * [[EmbeddingSearch.saveKmeansIndex]]: plain parquet on any Hadoop
    * filesystem, readable from any later JVM.
    */
  def buildDedupIndex(docs: DataFrame, path: String,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    fs.delete(done, false)
    Tables.writeArtifact(docs.select(col("doc_id"), md5(col("text")).as("text_hash")),
      s"$path/exact", "overwrite")
    Tables.writeArtifact(docs.select(col("doc_id"),
        hashSet(shingleSet(col("text"), k)).as("hs31"),
        hashSet62(shingleSet(col("text"), k)).as("hs62"))
      .where(size(col("hs31")) > 0), s"$path/sets", "overwrite")
    Tables.writeArtifact(Tables.artifactParquet(spark, s"$path/sets")
      .select(col("doc_id"), explode(minhashBandKeys(
        minhashFromHashes(col("hs31"), numHashes), bands, numHashes / bands)).as("band")),
      s"$path/bands", "overwrite")
    // the banding/shingle params and format generation are PART of the
    // index: an extend or serve under different params would mix
    // incompatible band keys / shingle granularities with no error, and a
    // pre-_PARAMS (v1-schema) index must be refused outright, not read
    ArtifactFs.writeFile(fs, new org.apache.hadoop.fs.Path(path, "_PARAMS"),
      paramsTag(numHashes, bands, k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Forget.clearStaleForgetState(fs, path, Seq("exact", "sets", "bands"))
    Markers.commit(fs, done)
  }

  /** The persisted index-parameter tag (also encodes the sets/ schema
    * generation — bump `s2` on any layout change).
    */
  private def paramsTag(numHashes: Int, bands: Int, k: Int): String =
    s"s2h${numHashes}b${bands}k$k"

  /** Read the index's _PARAMS tag and require it to match the caller's
    * params — the guard that makes a legacy-format index (no _PARAMS) or a
    * params-mismatched call a loud error instead of silent dup
    * under-reporting.
    */
  private[graft] def requireIndexParams(fs: org.apache.hadoop.fs.FileSystem, path: String,
      numHashes: Int, bands: Int, k: Int): Unit = {
    val meta = new org.apache.hadoop.fs.Path(path, "_PARAMS")
    require(fs.exists(meta),
      s"dedup index at $path has no _PARAMS — it predates the current index format " +
        "(or was never built); rebuild with buildDedupIndex")
    val in = fs.open(meta)
    val tag = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    require(tag == paramsTag(numHashes, bands, k),
      s"dedup index at $path was built with params $tag; this call uses " +
        s"${paramsTag(numHashes, bands, k)} — mixing them would corrupt/miss silently")
  }

  /** True iff a COMPLETE index (all three tables committed) exists at `path`. */
  def dedupIndexExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf()).exists(done)
  }

  /** Right-to-be-forgotten propagation into the persisted index — the
    * compliance pass a 100 TB corpus must support: removing a document
    * from the corpus is NOT enough while derived artifacts still carry
    * its hashes (a forgotten doc would keep surfacing as other docs'
    * `keeper`). Anti-joins `ids` out of all three tables with the build's
    * crash-safety discipline: `_DONE` drops FIRST (no serve ever sees a
    * half-forgotten index), each table rewrites through a staging dir (a
    * parquet path cannot be overwritten from its own lazy scan) and swaps
    * in, `_DONE` returns only after all three. Crash-rerunnable: the pass
    * gates on per-table `_SUCCESS` (never on the `_DONE` it removes) and
    * RESUMES a swap whose staged table committed but whose live table was
    * already dropped — rerun the SAME forget request after any crash and
    * it converges (spec-pinned; a different id set mid-recovery would
    * apply inconsistently across tables and is the caller's contract to
    * avoid). At 100 TB, with the tables laid out by doc_id range
    * (the compaction/z-order discipline in Maintenance), the anti-join
    * rewrite prunes to the files that contain forgotten ids. The spec
    * pins serve-after-forget ≡ serve-against-an-index-rebuilt-on-the-
    * filtered-corpus.
    */
  def forgetFromDedupIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, ids: DataFrame): Unit =
    forgetFromIndexTables(spark, indexPath, Seq("exact", "sets", "bands"), "doc_id", ids)

  /** The shared forget kernel every per-record derived artifact uses (text
    * dedup index here; vector index via
    * [[graft.operators.EmbeddingSearch.forgetFromVecDedupIndex]];
    * image/audio/video fingerprint indexes via
    * [[graft.operators.Multimodal]]'s forget wrappers; the BM25 and IVF
    * indexes via [[Forget.forgetEverywhere]]): anti-join `ids` out of each
    * `$indexPath/$table` with the staged-swap crash discipline. */
  private[operators] def forgetFromIndexTables(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, tables: Seq[String], keyCol: String, ids: DataFrame): Unit =
    forgetFromIndexTables(spark, indexPath, tables, keyCol, Forget.Request(ids, Seq(keyCol)))

  /** The forget kernel over a request whose ids were collected once
    * ([[Forget.Request]]).
    *
    * REWRITE UNIT. A table partitioned into `key=v` dirs that
    * [[Forget.route]] can route the request's keys to rewrites only those
    * dirs: it reads them through [[graft.sources.Tables.probedPartitionRead]],
    * drops the ids' rows ([[Forget.Request.removeFrom]]: a `NOT IN` filter
    * over the collected keys) and writes each dir as one file
    * ([[Tables.onePerDir]]). Flat tables, requests over
    * [[EmbeddingSearch.LocalBatchCap]] and tables the routing cannot place
    * a key in are rewritten whole, the partition layout preserved.
    *
    * CRASH CONTRACT. `_DONE` drops FIRST (no serve ever sees a
    * half-forgotten index) and returns only after every table swapped. An
    * order-independent fingerprint of the id set is claimed in
    * `_FORGET_IDS` (tmp + rename) before anything else changes, a rerun
    * must match it or fail loudly, and it is removed only after every
    * swap — so a crashed pass can never be silently "finished" by a
    * different request, and "rerun the same request" is the whole resume
    * contract. The pass runs in two phases:
    *   1. STAGE every table, touching no live file: a whole-table rewrite
    *      into `<table>__forgetting`, a routed one into
    *      `<table>__forgetting_dirs/<key>=<v>` per rewritten dir, where a
    *      dir the forget empties is recorded as an `_EMPTIED` marker. A
    *      routed stage commits with `_STAGED` (holding the fingerprint).
    *      The routing reads only live tables, none of which has changed,
    *      so the tables stage side by side ([[Tables.inParallel]]).
    *   2. SWAP. A whole table: marker-first delete of the live dir, then
    *      rename (a half-deleted live dir reads as uncommitted and is
    *      cleared before the resumed rename, never nested into). A routed
    *      table: per staged dir, delete the live dir, then rename the
    *      staged one into place (or drop the `_EMPTIED` record), so the
    *      staging root holds exactly the dirs not yet swapped; it is
    *      deleted after its last dir.
    * A rerun resumes a committed routed stage (only its remaining dirs
    * swap; nothing is routed again) and a committed whole stage whose
    * live table is gone; any other table is staged afresh from its live
    * state, which re-filtering leaves unchanged. The pass gates on
    * per-table `_SUCCESS`, never on the `_DONE` it removes — rerunning
    * after a crash must repair, not refuse.
    */
  private[operators] def forgetFromIndexTables(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, tables: Seq[String], keyCol: String, req: Forget.Request): Unit = {
    import org.apache.hadoop.fs.Path
    val done = new Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    def committed(dir: Path): Boolean = fs.exists(new Path(dir, "_SUCCESS"))
    // PRE-FLIGHT before claiming the id-set marker: every table must be
    // repairable (committed live, or a resumable committed stage). A
    // crashed BUILD must fail BEFORE the marker is written — a marker
    // claimed on a refused pass would outlive the subsequent rebuild and
    // poison every future forget with a different id set
    tables.foreach { t =>
      require(committed(new Path(indexPath, t)) ||
          committed(new Path(indexPath, s"${t}__forgetting")),
        s"index table $t at $indexPath is missing or uncommitted — " +
          "a crashed BUILD cannot be repaired by forget; rebuild the index")
    }
    val fp = req.fingerprint(keyCol)
    Forget.claimIdSet(fs, new Path(indexPath, "_FORGET_IDS"), fp)
    fs.delete(done, false)
    // every stage reads only live tables, so the stages run side by side
    val swaps = Tables.inParallel(spark, tables.distinct.map { t => () =>
      val live = new Path(indexPath, t)
      val staged = new Path(indexPath, s"${t}__forgetting")
      val dirStage = new Path(indexPath, s"${t}__forgetting_dirs")
      val dirsStaged = new Path(dirStage, "_STAGED")
      if (fs.exists(dirsStaged)) {
        val prior = Markers.token(fs, dirsStaged)
        require(prior == fp,
          s"$dirStage holds dirs staged by a forget with a DIFFERENT id set " +
            s"('$prior' != this request '$fp') — resume it with the original ids " +
            "(or rebuild the index) before forgetting new ones")
        () => swapDirs(fs, live, dirStage)
      } else if (!committed(live) && committed(staged)) {
        // a previous forget crashed between delete(live) and the swap: the
        // staged table is complete — finish the swap
        () => swapTable(fs, t, live, staged)
      } else {
        require(committed(live),
          s"index table $t at $indexPath is missing or uncommitted — " +
            "a crashed BUILD cannot be repaired by forget (or the index " +
            "layout predates this table); rebuild the index")
        fs.delete(staged, true)
        fs.delete(dirStage, true)
        // the rewrite PRESERVES the live table's hive-style partition
        // layout (bucket=/db=/cl=/ib= directories): the pruned serves key
        // their plan-time partition pruning on those dirs, and a flat
        // rewrite silently degraded every post-forget serve to a
        // corpus-wide scan (measured: the post-forget hybrid serve read
        // 1.9x at x16 vs its never-forgotten sibling's 1.2x) — and made
        // extend-after-forget illegal (appending partition dirs next to
        // flat files is an unreadable mixed layout)
        val partCols = partitionColsOf(fs, live)
        val routed = Forget.route(spark, indexPath, t, partCols, keyCol, req)
          .exists(r => stageDirs(spark, fs, live, dirStage, partCols.head, keyCol, req, r, fp))
        if (routed) () => swapDirs(fs, live, dirStage)
        else {
          stageTable(spark, fs, live, staged, partCols, keyCol, req)
          () => swapTable(fs, t, live, staged)
        }
      }
    })
    swaps.foreach(_())
    fs.delete(new Path(indexPath, "_FORGET_IDS"), false)
    Markers.commit(fs, done)
  }

  /** Whole-table stage of a forget: the live table minus the ids, in its
    * own partition layout, committed by the writer's `_SUCCESS`. The
    * write rebalances (on the partition columns, if any), so the rewrite
    * also compacts the table — one file per dir at this scale, files of
    * about the adaptive advisory size at scale: no other pass folds in
    * the extend slivers of a flat table. */
  private def stageTable(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, live: org.apache.hadoop.fs.Path,
      staged: org.apache.hadoop.fs.Path, partCols: Seq[String], keyCol: String,
      req: Forget.Request): Unit = {
    // a flat table's schema comes from a footer on the driver; a
    // partitioned one is listed and inferred whole
    val source = if (partCols.isEmpty)
        graft.sources.Tables.artifactPartitionedParquet(spark, live.toString, Seq(live.toString))
      else spark.read.parquet(live.toString)
    val filtered = req.removeFrom(source, keyCol)
    Tables.writeArtifact(filtered.hint("rebalance", partCols: _*), staged.toString,
      "overwrite", partCols)
    // a forget that removes EVERY row of a partitioned table writes
    // no part-files at all (partitioned writers skip the empty-file
    // schema fallback), leaving a directory parquet cannot infer a
    // schema from — every later serve would crash on read. Rewrite
    // the empty result FLAT: one schema-bearing empty file, reads as
    // 0 rows; the partition key becomes a data column of an empty
    // table, so no pruning is lost (and a later extend reads the dir
    // as FLAT and prescribes the rebuild that repopulating an
    // emptied index needs anyway).
    if (partCols.nonEmpty && !fs.listStatus(staged).exists(e =>
        e.getPath.getName != "_SUCCESS" && !e.getPath.getName.startsWith(".")))
      Tables.writeArtifact(filtered.limit(0), staged.toString, "overwrite")
  }

  /** Swap a whole staged table in. MARKER-FIRST delete: recursive delete
    * is not atomic and child order is unspecified, so a crash mid-delete
    * could otherwise leave part-files gone but `_SUCCESS` behind — a
    * rerun would then read the truncated live table as committed and
    * rebuild the index from it (silent data loss). Dropping the marker
    * first makes every partially-deleted state read as uncommitted,
    * routing the rerun to the resume branch, which clears any leftover
    * before the rename: renaming into an existing directory would NEST
    * the staged table inside it and the recreated `_DONE` would then
    * bless the stale unfiltered part-files. */
  private def swapTable(fs: org.apache.hadoop.fs.FileSystem, t: String,
      live: org.apache.hadoop.fs.Path, staged: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(live, "_SUCCESS"), false)
    if (fs.exists(live)) require(fs.delete(live, true),
      s"could not remove live $t table before the swap — aborting " +
        "instead of nesting the staged table inside it")
    require(fs.rename(staged, live), s"swap of forgotten $t table failed")
  }

  /** TEST-ONLY fault point of the routed swap: runs with each staged dir
    * and its live target just before the swap, so a spec can crash a
    * forget after k of n dir swaps. Never set in production. */
  @volatile private[graft] var beforeDirSwap: (org.apache.hadoop.fs.Path,
    org.apache.hadoop.fs.Path) => Unit = (_, _) => ()

  /** Routed stage of a forget: the routed `pk=v` dirs of `live` minus the
    * ids, one file per dir (written on all cores), under `dirStage`; each
    * routed dir the forget empties is recorded as `pk=v/_EMPTIED`, and `_STAGED`
    * (holding the request fingerprint) commits the stage. The route's
    * removed-rows check is observed by the write itself (no extra job).
    * False — with the stage removed, for a whole-table rewrite instead —
    * when that check fails, or its metric is missing (adaptive execution
    * drops the observing node from the plan when the rewrite keeps no
    * row at all), or when the rewrite would empty every dir of the table
    * (the whole-table path writes the flat schema-bearing empty file a
    * partitioned table then needs).
    */
  private def stageDirs(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, live: org.apache.hadoop.fs.Path,
      dirStage: org.apache.hadoop.fs.Path, pk: String, keyCol: String,
      req: Forget.Request, route: Forget.Route, fp: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val liveDirs = fs.listStatus(live).filter(_.isDirectory).map(_.getPath.getName).toSet
    val dirs = route.dirs.distinct.sorted.filter(d => liveDirs(s"$pk=$d"))
    val removed = org.apache.spark.sql.Observation()
    if (dirs.nonEmpty) {
      val rows = graft.sources.Tables.probedPartitionRead(spark, live.toString, pk, dirs)
      val observed = route.removed.fold(rows) { case (weight, _) =>
        rows.observe(removed, coalesce(sum(when(req.matches(keyCol), weight)), lit(0L)).as("w"))
      }
      Tables.writeArtifact(Tables.onePerDir(req.removeFrom(observed, keyCol), pk),
        dirStage.toString, "overwrite", Seq(pk))
    }
    fs.mkdirs(dirStage)
    val written = dirs.filter(d => fs.exists(new Path(dirStage, s"$pk=$d")))
    val checked = route.removed.forall { case (_, want) =>
      if (dirs.isEmpty) want == 0L
      else org.apache.spark.sql.GraftShim.observedRow(removed)
        .exists(r => r.length == 1 && r.getLong(0) == want)
    }
    val keepsADir = written.nonEmpty ||
      (liveDirs.filter(_.startsWith(s"$pk=")) -- dirs.map(d => s"$pk=$d")).nonEmpty
    val ok = checked && keepsADir
    if (ok) {
      dirs.filterNot(written.contains)
        .foreach(d => ArtifactFs.writeFile(fs, new Path(dirStage, s"$pk=$d/_EMPTIED"), Array.empty))
      Markers.commitValue(fs, new Path(dirStage, "_STAGED"), fp)
    } else fs.delete(dirStage, true)
    ok
  }

  /** Swap a committed routed stage in, one dir at a time: delete the live
    * dir (a half-deleted one is finished on the rerun), then rename the
    * staged dir into place — or, for a staged dir without data files (an
    * `_EMPTIED` record, or what a crash mid-delete leaves of one), drop
    * it — so the staging root always holds exactly the dirs not yet
    * swapped. */
  private def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, dirStage: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    fs.listStatus(dirStage).filter(e => e.isDirectory && e.getPath.getName.contains("="))
      .sortBy(_.getPath.getName).foreach { e =>
        val target = new Path(live, e.getPath.getName)
        beforeDirSwap(e.getPath, target)
        if (fs.exists(target)) require(fs.delete(target, true),
          s"could not remove live $target before the forget swap")
        if (!fs.listStatus(e.getPath).exists(graft.sources.Tables.isDataFile))
          fs.delete(e.getPath, true)
        else require(fs.rename(e.getPath, target), s"forget swap of $target failed")
      }
    fs.delete(dirStage, true)
  }

  /** Partition columns of a committed parquet table, read off the
    * directory layout itself (hive-style `col=value` levels, outermost
    * first; empty for a flat table). Walks the FIRST partition-dir chain —
    * a committed partitioned table has a uniform layout, so one chain
    * carries the full column list. Used by the forget rewrite to put the
    * filtered rows back in the layout it found them in.
    */
  private def partitionColsOf(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var level = table
    var descend = true
    while (descend) {
      val next = fs.listStatus(level)
        .find(s => s.isDirectory && s.getPath.getName.contains("="))
      next match {
        case Some(d) =>
          cols += d.getPath.getName.split("=", 2)(0)
          level = d.getPath
        case None => descend = false
      }
    }
    cols.toSeq
  }

  /** Close the incremental-ingest loop: APPEND a batch's accepted documents
    * to an existing index, so tomorrow's batch dedups against corpus +
    * today. Cost scales with the batch (three appends of batch-derived
    * rows); the corpus tables are never rewritten. The `_DONE` marker is
    * removed first and re-created after all three appends, so a crash
    * mid-extend leaves an index [[dedupAgainst]] REFUSES to serve, never
    * one that silently under-reports duplicates. REPAIR is re-running
    * extend (this method requires the three COMMITTED tables — each dir's
    * `_SUCCESS` — not the marker, so it accepts a crashed-EXTEND index
    * while still refusing a crashed-REBUILD one, whose overwritten table
    * lost its `_SUCCESS`): appends from the crashed attempt are then
    * duplicated, which serving tolerates — every consumer of the index
    * rows ends in min()/dropDuplicates, so duplicate index rows cost
    * space, not correctness (a periodic rebuild compacts). The whole
    * batch projection (hashes AND shingle sets) is eagerly checkpointed
    * once before any write, so all three tables append rows derived from
    * the SAME snapshot even if `newDocs` is non-deterministic (a live
    * ingest directory) — and the batch is scanned and shingled once.
    * Params are validated against the index's persisted `_PARAMS` tag —
    * extending with different banding/shingle params (or a legacy-format
    * index) is a loud error, not silent corruption. Callers pass the docs
    * that SURVIVED their dedup decision (status == unique, or whatever
    * retention policy applies) — indexing rejected duplicates too is
    * harmless but wasteful.
    * Spec-pinned: build(corpus) + extend(batch) serves identically to
    * build(corpus ∪ batch).
    */
  def extendDedupIndex(indexPath: String, newDocs: DataFrame,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val done = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val committed = Seq("exact", "sets", "bands")
      .map(t => new org.apache.hadoop.fs.Path(indexPath, s"$t/_SUCCESS"))
    require(committed.forall(fs.exists),
      s"dedup index tables at $indexPath are missing or uncommitted (no _SUCCESS) — " +
        "a crashed BUILD cannot be repaired by extend; run buildDedupIndex")
    requireIndexParams(fs, indexPath, numHashes, bands, k)
    // crashed-forget check FIRST (a forget mid-pass also leaves _DONE
    // absent; its remedy — resume with the original ids — is cheaper than
    // a rebuild). THEN the crashed-extend check: a crashed EXTEND
    // (post-delete of _DONE) already appended an unknown subset of its
    // batch tables; re-running would append the batch a second time —
    // doubled exact/sets/bands rows, silently wrong serves. Only a
    // committed index (_DONE present) is a legal extend base.
    Forget.requireNoCrashedForget(fs, indexPath)
    require(fs.exists(done),
      s"dedup index at $indexPath is uncommitted (no _DONE) — a crashed EXTEND " +
        "may already have appended part of a batch, and re-appending would " +
        "silently duplicate its rows; rebuild with buildDedupIndex")
    fs.delete(done, false)
    val batch = newDocs.select(col("doc_id"), md5(col("text")).as("text_hash"),
        hashSet(shingleSet(col("text"), k)).as("hs31"),
        hashSet62(shingleSet(col("text"), k)).as("hs62"))
      .localCheckpoint()
    try {
      val sets = batch.where(size(col("hs31")) > 0)
        .select(col("doc_id"), col("hs31"), col("hs62"))
      // the three appends read only the checkpoint: side by side
      Tables.inParallel(newDocs.sparkSession, Seq(
        () => Tables.writeArtifact(batch.select(col("doc_id"), col("text_hash")),
          s"$indexPath/exact", "append"),
        () => Tables.writeArtifact(sets, s"$indexPath/sets", "append"),
        () => Tables.writeArtifact(sets.select(col("doc_id"), explode(minhashBandKeys(
            minhashFromHashes(col("hs31"), numHashes), bands, numHashes / bands)).as("band")),
          s"$indexPath/bands", "append")))
    } finally org.apache.spark.sql.GraftShim.unpersistCheckpoint(batch)
    Markers.commit(fs, done)
  }

  /** Incremental dedup — the single most common production ingest shape:
    * dedup TODAY'S batch against an already-indexed corpus
    * ([[buildDedupIndex]]), touching only the index tables and the batch.
    * Two tiers, cheapest first:
    *
    *   1. exact — md5 join against the persisted hash table;
    *   2. near  — MinHash band join against the persisted band table, then
    *      exact-Jaccard verification of the candidates over the persisted
    *      62-bit hashed shingle sets via an allocation-free merge scan
    *      (the oracle replays the same two-fold hash family, so hashed-set
    *      Jaccard stays engine-portable; agreement with raw-string-set
    *      Jaccard is exact up to the ≈2⁻⁶² per-pair collision residual).
    *
    * Within-batch duplicates are deliberately out of scope — that is the
    * batch's own [[exactGroups]]/[[minhashLshPairs]] pass (or the streaming
    * tier) run before or after this; composing both gives the full
    * dedup-today's-crawl pipeline. Scale: every batch-derived side is a
    * SIZE-GATED broadcast (a batch is structurally small next to the
    * corpus), so the corpus index tables are never shuffled — the band join
    * and hash join stream map-side over the index; candidate volume is
    * bounded by band collisions exactly as in the full-corpus LSH join.
    * Output, one row per batch doc: (doc_id, exact_keeper, near_keeper,
    * status) — keepers are the minimum matching corpus doc_id or -1;
    * status ∈ exact_dup | near_dup | unique (exact wins).
    */
  def dedupAgainst(indexPath: String, newDocs: DataFrame, tau: Double,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3): DataFrame = {
    val spark = newDocs.sparkSession
    require(dedupIndexExists(spark, indexPath),
      s"dedup index at $indexPath is absent or incomplete (no _DONE marker) — run buildDedupIndex first")
    val idxFs = new org.apache.hadoop.fs.Path(indexPath, "_PARAMS")
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    requireIndexParams(idxFs, indexPath, numHashes, bands, k)
    // flat tables: schemas from a footer on the driver, so building the
    // frame runs no Spark job even right after an extend or a forget
    def flat(t: String) = Tables.artifactPartitionedParquet(spark, s"$indexPath/$t",
      Seq(s"$indexPath/$t"))
    val exact = flat("exact")
    val corpusBands = flat("bands")
    val corpusSets = flat("sets")
    val batch = newDocs.select(col("doc_id"), md5(col("text")).as("text_hash"),
      hashSet(shingleSet(col("text"), k)).as("hs31"),
      hashSet62(shingleSet(col("text"), k)).as("hs62"))
    val exactKeeper = exact.select(col("text_hash"), col("doc_id").as("cdoc"))
      .join(Scale.maybeBroadcast(batch.select(col("doc_id"), col("text_hash"))), Seq("text_hash"))
      .groupBy(col("doc_id")).agg(min(col("cdoc")).as("exact_keeper"))
    val batchBands = batch.where(size(col("hs31")) > 0)
      .select(col("doc_id"), col("hs62"), explode(minhashBandKeys(
        minhashFromHashes(col("hs31"), numHashes), bands, numHashes / bands)).as("band"))
    // hs62 rides along through the band join so the batch is not re-derived
    // for verification; duplicate (batch, corpus) candidates from multiple
    // colliding bands collapse before the set join
    val cand = corpusBands.select(col("band"), col("doc_id").as("cdoc"))
      .join(Scale.maybeBroadcast(batchBands), Seq("band"))
      .select(col("doc_id"), col("hs62"), col("cdoc"))
      .dropDuplicates("doc_id", "cdoc")
    val inter = intersect62(col("hs62"), col("chs62"))
    val nearKeeper = cand
      .join(corpusSets.select(col("doc_id").as("cdoc"), col("hs62").as("chs62")), Seq("cdoc"))
      .select(col("doc_id"), col("cdoc"),
        (inter.cast("double") /
          (size(col("hs62")) + size(col("chs62")) - inter).cast("double")).as("j"))
      .where(col("j") >= tau)
      .groupBy(col("doc_id")).agg(min(col("cdoc")).as("near_keeper"))
    newDocs.select(col("doc_id"))
      .join(exactKeeper, Seq("doc_id"), "left")
      .join(nearKeeper, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_keeper"), lit(-1L)).as("exact_keeper"),
        coalesce(col("near_keeper"), lit(-1L)).as("near_keeper"),
        when(col("exact_keeper").isNotNull, "exact_dup")
          .when(col("near_keeper").isNotNull, "near_dup")
          .otherwise("unique").as("status"))
  }

  /** Collapse near-duplicate PAIRS into CLUSTERS and materialize the
    * deduplicated corpus decision: every doc_id with the minimum doc_id of
    * its connected component (`keeper`) and whether it survives keep-first
    * dedup. Iterative min-label propagation (the standard large-scale
    * connected-components loop — Kiveris et al.'s "large-star" simplified
    * for undirected near-dup graphs): each round joins labels across edges
    * and takes the min; converges in O(log(max component diameter)) rounds.
    * Near-dup clusters are shallow in practice (dup families), so rounds
    * stay in single digits; each round is one shuffle join + one aggregate,
    * nothing driver-side but the convergence counter.
    *
    * DRIVER-PLANNED when the dup graph is metadata-scale: a verified pairs
    * set is a sliver of the corpus, and a graph of at most
    * 2 × [[EmbeddingSearch.LocalBatchCap]] directed edges with integral,
    * non-null ids comes to the driver in one bounded collect of the edge
    * frame and runs [[labelsOnDriver]], the loop's scalar twin (same
    * labels, same per-round `changed` counts, same non-convergence
    * failure), instead of paying a join/aggregate/count job set per
    * round. Larger graphs run the checkpointed loop over the edges that
    * collect already materialized.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 10,
      checkpointDir: Option[String] = None): DataFrame =
    clustersOf(docs, pairs, maxIters, checkpointDir, driverTwin = true)

  /** [[dedupClusters]] through the checkpointed Spark loop whatever the
    * dup graph's size — the path graphs past the driver gate take,
    * callable directly so small graphs keep it covered. */
  private[graft] def dedupClustersDistributed(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 10, checkpointDir: Option[String] = None): DataFrame =
    clustersOf(docs, pairs, maxIters, checkpointDir, driverTwin = false)

  private def clustersOf(docs: DataFrame, pairs: DataFrame, maxIters: Int,
      checkpointDir: Option[String], driverTwin: Boolean): DataFrame = {
    require(maxIters >= 1, "dedupClusters needs at least one propagation round")
    // Per-round persistence mode: localCheckpoint (default) materializes to
    // executor block-manager storage — fast, right for local mode, but NOT
    // fault-tolerant (a lost executor loses the only copy). A real cluster
    // with executor loss in play passes `checkpointDir`: rounds then go
    // through RELIABLE checkpoints to that fault-tolerant directory — same
    // plan shape, the round files survive executor loss (and are deleted as
    // each round is superseded — see GraftShim.unpersistCheckpoint).
    // The session checkpoint dir is only set when the application hasn't
    // configured one — an existing setting wins (this operator must not
    // silently redirect every other checkpoint() in the app).
    checkpointDir.foreach { d =>
      val sc = docs.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
    }
    def persistRound(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        // reliable checkpointing writes its files in a SECOND job after the
        // eager count — persist first so that job reads cached partitions
        // instead of recomputing the whole round, then drop the cache (the
        // checkpoint files are now the authoritative copy)
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ck = cached.checkpoint()
        cached.unpersist(false)
        ck
      } else df.localCheckpoint(eager = false)
      // LAZY local checkpoint (r16 opt): every round already runs an eager
      // action right after materializing (the `changed` convergence count),
      // so the eager form paid TWO jobs per round — one to checkpoint, one
      // to count. The lazy form folds both into the count job: the round's
      // blocks cache + its lineage truncates as that job computes it.
      // Ordering is unchanged — prev-round blocks are only released AFTER
      // the count has materialized the new round.
    // Both edge directions from ONE pass over pairs (a unionAll of two
    // selects would evaluate the upstream similarity join twice). The
    // checkpoint materializes the (small) dup-edge set once and truncates
    // lineage — a cache() is only a hint, and any cache miss in the loop or
    // the final join silently re-runs the whole upstream similarity join.
    // The driver gate's bounded collect is the first action on it, so a
    // graph past the gate enters the loop with its edges already stored.
    val edges = persistRound(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val labels = (if (driverTwin) localEdges(edges) else None) match {
      case Some(es) =>
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val rows = labelsOnDriver(es, maxIters).toSeq.sorted.map { case (v, l) =>
          org.apache.spark.sql.Row(v, l)
        }
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(edges)
        // back to the edges' id type, so the final join's schema is the loop's
        val idType = edges.schema("src").dataType
        docs.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
            StructType(Seq(StructField("doc_id", LongType), StructField("label", LongType))))
          .select(col("doc_id").cast(idType).as("doc_id"), col("label").cast(idType).as("label"))
      case None => labelsDistributed(edges, maxIters, persistRound)
    }
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("keeper"),
        (col("doc_id") === coalesce(col("label"), col("doc_id"))).as("kept"))
  }

  /** The directed (src, dst) edges on the driver, or None when the graph
    * is past 2 × [[EmbeddingSearch.LocalBatchCap]] edges, its ids are not
    * integral, or an endpoint is null (the scalar twin cannot mirror
    * null join semantics). One bounded read ([[Tables.firstRows]]). */
  private def localEdges(edges: DataFrame): Option[Array[(Long, Long)]] = {
    import org.apache.spark.sql.types._
    val cap = 2 * EmbeddingSearch.LocalBatchCap
    edges.schema("src").dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val rows = Tables.firstRows(edges, cap + 1)
        if (rows.length > cap || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
        else Some(rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)))
      case _ => None
    }
  }

  private def logRound(it: Int, path: String, changed: Long): Unit =
    System.err.println(s"[graft] dedupClusters round $it ($path): $changed labels changed")

  // A silent non-convergence would return intermediate labels as keepers —
  // wrong answers with no signal. Fail loudly instead; with halving,
  // maxIters=10 covers component diameters up to ~2^10.
  private def notConverged(maxIters: Int) = new IllegalStateException(
    s"dedupClusters did not converge within $maxIters rounds — raise maxIters")

  /** The checkpointed label loop over bidirectional `edges`: (doc_id, label)
    * for every dup-graph vertex. Releases `edges` once it converges. */
  private def labelsDistributed(edges: DataFrame, maxIters: Int,
      persistRound: DataFrame => DataFrame): DataFrame = {
    // Iterate ONLY over the dup-graph vertices — at corpus scale the dup
    // graph is a sliver of the corpus; isolated docs are trivially their own
    // keeper and rejoin at the end. Round 1 is folded into initialization:
    // against identity labels, the neighbor-min join is just min(src) per
    // dst, and every vertex appears as a dst (edges are bidirectional).
    var labels = persistRound(edges
      .groupBy(col("dst").as("doc_id"))
      .agg(min(col("src")).as("nbr_label"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr_label")).as("label")))
    var converged = false
    var it = 1
    // `it` counts the folded init as round 1, so `<=` grants maxIters
    // halving rounds AFTER it (diameter coverage ~2^maxIters) — and the loop
    // always runs at least once, so an init that already converged is
    // detected (changed == 0) instead of falling through to the loud throw.
    while (!converged && it <= maxIters) {
      // min-label propagation WITH path halving: after the one-hop neighbor
      // min, each vertex also jumps to its label's label
      // (label(label(v)) ≤ label(v), since label(v) ≤ v is invariant).
      // Plain one-hop propagation needs O(component diameter) rounds — a
      // long near-dup chain would exhaust maxIters; halving makes rounds
      // O(log diameter), the standard pointer-doubling fix. Each
      // checkpointed round starts from stored partitions, so the per-round
      // plan is two tiny joins + one aggregate, never the whole history.
      val stepped = edges
        .join(labels.select(col("doc_id").as("src"), col("label").as("src_label")), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("src_label")).as("nbr_label"))
        .join(labels, "doc_id")
        .select(col("doc_id"), least(col("label"), col("nbr_label")).as("label"))
      val halved = stepped
        .join(stepped.select(col("doc_id").as("label"), col("label").as("label2")),
          Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("label2"), col("label")).as("label"))
      val next = persistRound(halved
        .join(labels.select(col("doc_id"), col("label").as("prev_label")), "doc_id")
        .select(col("doc_id"), col("label"),
          (col("label") < col("prev_label")).as("changed")))
      val changed = next.where(col("changed")).count()
      // next is materialized; the previous round's checkpoint blocks are
      // dead (its lineage was truncated, nothing re-evaluates it) — release
      // them instead of pinning one labels copy per round
      org.apache.spark.sql.GraftShim.unpersistCheckpoint(labels)
      labels = next.select(col("doc_id"), col("label"))
      converged = changed == 0
      it += 1
      logRound(it, "distributed", changed)
    }
    if (!converged) throw notConverged(maxIters)
    org.apache.spark.sql.GraftShim.unpersistCheckpoint(edges) // final join reads only labels
    labels
  }

  /** [[labelsDistributed]]'s scalar twin over collected directed edges:
    * the same folded init (min(v, min src into v)), the same per-round
    * step (min of the vertex's label and its in-neighbors' labels), path
    * halving against the stepped labels, the same `changed` count and
    * round line, and the same failure past `maxIters`. Returns
    * vertex → label for every vertex that is an edge's dst. */
  private[operators] def labelsOnDriver(edges: Array[(Long, Long)],
      maxIters: Int): Map[Long, Long] = {
    var labels = edges.groupMapReduce(_._2)(_._1)(math.min)
      .map { case (v, m) => v -> math.min(v, m) }
    var converged = false
    var it = 1
    while (!converged && it <= maxIters) {
      val prev = labels
      val stepped = edges.groupMapReduce(_._2)(e => prev(e._1))(math.min)
        .map { case (v, m) => v -> math.min(prev(v), m) }
      labels = stepped.map { case (v, l) => v -> stepped.getOrElse(l, l) }
      val changed = labels.count { case (v, l) => l < prev(v) }.toLong
      converged = changed == 0
      it += 1
      logRound(it, "driver", changed)
    }
    if (!converged) throw notConverged(maxIters)
    labels
  }

  /** [[dedupClusters]] with a KEEP-LONGEST policy: inside each duplicate
    * cluster, survive the document with the most whitespace tokens
    * (tie-break: lowest doc_id) instead of the lowest id. The policy
    * real curation pipelines run — near-dup clusters routinely mix a full
    * document with its truncations/excerpts, and keep-min-id would keep
    * whichever happened to ingest first. The cluster id stays the min-id
    * label (a stable cluster identity independent of the keep rule); the
    * policy is one row_number window over cluster members — dup-graph-
    * sized, a sliver of the corpus, so the extra cost over the cluster
    * pass is negligible at any scale. Output:
    * (doc_id, cluster, n_tokens, kept).
    */
  def dedupClustersKeepLongest(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 10, checkpointDir: Option[String] = None): DataFrame =
    dedupClustersKeepLongestSized(docs,
      docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokenize(col("text"))).cast("long").as("n_tokens")),
      pairs, maxIters, checkpointDir)

  /** [[dedupClustersKeepLongest]] with the (doc_id, n_tokens) size frame
    * supplied by the caller — the seam for compositions that already hold
    * a materialized per-doc token count ([[graft.operators.TextAnalysis
    * .curatedCorpus]]'s admitted manifest): the keep rule stays ONE window
    * definition here, whatever the size frame's provenance.
    */
  def dedupClustersKeepLongestSized(docs: DataFrame, sized: DataFrame,
      pairs: DataFrame, maxIters: Int = 10,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(docs, pairs, maxIters, checkpointDir)
      .select(col("doc_id"), col("keeper").as("cluster"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    clusters.join(sized, "doc_id")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster"), col("n_tokens"),
        (col("rk") === 1).as("kept"))
  }

  /** SOFT dedup — keep every document but emit a per-doc TRAINING WEIGHT
    * `1/|cluster|` over the near-dup clusters, so each duplicate family
    * contributes one document's worth of loss in expectation instead of
    * being either dropped (hard dedup discards paraphrase diversity) or
    * fully repeated (repeats degrade with diminishing value — the
    * data-constrained-scaling result of Muennighoff et al. 2023 this
    * discipline answers). Cost over [[dedupClusters]] is one dup-graph-
    * sized aggregation + broadcastable left join — the cluster-size table
    * has one row per NON-SINGLETON keeper (singletons, the overwhelming
    * majority at corpus scale, never enter it — they default to weight
    * 1.0 in the join). Weight is the exact IEEE division 1/n rounded
    * 6dp (integer n), so it replays bit-identically in the oracle.
    * Output: (doc_id, keeper, cluster_size, weight).
    */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame, maxIters: Int = 10,
      checkpointDir: Option[String] = None): DataFrame = {
    val clusters = dedupClusters(docs, pairs, maxIters, checkpointDir)
    // sizes only for NON-SINGLETON clusters: dup keepers (keepers with at
    // least one other member) exist only in the dup graph — USUALLY a
    // sliver of the corpus, so both small sides below broadcast — but on a
    // crawl-shaped corpus (30-50% near-dups) they are corpus-proportional,
    // so the hints go through Scale.maybeBroadcast: small estimates keep
    // the broadcast plan, large ones degrade to a shuffle join instead of
    // OOMing an executor. Singletons default to size 1 / weight 1.0 via
    // coalesce. Sizes count ACTUAL member rows (semi-join then count), not
    // non-keeper rows + 1: a keeper absent from `docs` (stale pairs over a
    // filtered shard, which dedupClusters tolerates) must not inflate its
    // cluster by a phantom member
    val dupKeepers = clusters.where(col("doc_id") =!= col("keeper"))
      .select(col("keeper")).distinct()
    val sizes = clusters.join(Scale.maybeBroadcast(dupKeepers), Seq("keeper"), "left_semi")
      .groupBy(col("keeper"))
      .agg(count(lit(1)).as("nonsingleton_size"))
    clusters.join(Scale.maybeBroadcast(sizes), Seq("keeper"), "left")
      .withColumn("cluster_size", coalesce(col("nonsingleton_size"), lit(1L)))
      .select(col("doc_id"), col("keeper"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6).as("weight"))
  }
}
