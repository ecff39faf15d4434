package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftShim, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Dedup, EmbeddingSearch, Multimodal, TextAnalysis}

/** Structured Streaming surface. The reference is strictly batch
  * (SURVEY.md §2.2 — two synchronous MR jobs); these are the streaming
  * equivalents of the batch Events operators, built the Spark-native way:
  * readStream → event-time windows + watermarks → writeStream, and
  * flatMapGroupsWithState for the custom session state the windowed API
  * can't express. Serves of the batch kernels against persisted
  * artifacts run per micro-batch through the one adapter, [[eachBatch]].
  *
  * At scale: state is partitioned by the grouping key across executors
  * (RocksDB/HDFS-backed state store on a real cluster), watermarks bound
  * state size, and late events beyond the watermark are dropped — the
  * standard unbounded-input design.
  */
object StreamingOps {

  /** THE micro-batch loop of the streaming tier: each micro-batch of
    * `stream` runs through the batch `kernel` and the result goes to
    * `sink` with the batch id. foreachBatch, not a stream-static join,
    * because the per-row answer of a serve is an aggregation over
    * stream-static joins (per-doc rollups, per-query top-k) that append
    * mode cannot express without unbounded state; each micro-batch gets
    * the REAL batch plan (size-gated broadcasts, partition-pruned index
    * reads) with streaming's checkpointed batch ids on top, and no state
    * store. The per-batch contract, for every loop built on it:
    *   - artifacts are re-read per batch (a fresh parquet listing), so an
    *     extend, rebuild or retrain takes effect on the NEXT batch with
    *     no restart; only what a def prices at wiring (the filtered and
    *     MIPS vector serves) waits for a restart;
    *   - delivery is at-least-once: a restart replays the last batch the
    *     checkpoint did not commit, so `sink` must be idempotent by
    *     `batchId`;
    *   - per-batch cost is the batch plus the kernel's index reads, never
    *     stream history.
    * Serving a persisted artifact is this adapter over its kernel, e.g.
    * `eachBatch(docs)(TextAnalysis.lmScoreWithModel(_, idx))(sink)`; the
    * spec drives the LM, line-dedup, classifier (literal and wide), BPE,
    * quantizer, kNN, range and hybrid kernels this way.
    */
  def eachBatch(stream: DataFrame)(kernel: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    // the typed parameters select the Scala-function overload of foreachBatch
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(kernel(batch), batchId)
    }

  /** The serve-then-extend loop behind the self-extending dedup and ingest
    * tiers, on [[eachBatch]]: the micro-batch is materialized ONCE (its
    * scan feeds the serve and the extend), `serve` annotates it, the sink
    * receives the annotations, and only then `extend(batch, served,
    * batchId)` runs — so a failing sink never extends. With `holdServed`
    * the served frame is materialized too, before the extend: the dedup
    * loops' verdicts read the very index their extend rewrites. The ingest
    * loops' extends read only the batch, so they pass `false` and pay no
    * second materialization. Both checkpoints are released on every path,
    * a throwing sink or extend included.
    */
  private def serveThenExtend(stream: DataFrame, holdServed: Boolean)(
      serve: DataFrame => DataFrame)(extend: (DataFrame, DataFrame, Long) => Unit)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    eachBatch(stream)(identity) { (batch, batchId) =>
      val b = batch.localCheckpoint()
      try {
        val served = if (holdServed) serve(b).localCheckpoint() else serve(b)
        try {
          sink(served, batchId)
          extend(b, served, batchId)
        } finally if (holdServed) GraftShim.unpersistCheckpoint(served)
      } finally GraftShim.unpersistCheckpoint(b)
    }

  /** [[serveThenExtend]] for the dedup-vs-index tiers: the served frame is
    * the batch annotated with a `status`, and with `extendIndex` the
    * batch's "unique" rows (input columns only) go to `extend` — so batch
    * N+1 dedups against corpus + batches 1..N. Crash-replay re-appends a
    * batch's survivors; duplicate index rows are serving-tolerated by
    * design, so the loop is idempotent-at-the-index.
    */
  private def dedupLoop(stream: DataFrame, extendIndex: Boolean)(
      annotate: DataFrame => DataFrame)(extend: DataFrame => Unit)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveThenExtend(stream, holdServed = true)(annotate) { (b, annotated, _) =>
      if (extendIndex)
        extend(annotated.where(col("status") === "unique").select(b.columns.map(col): _*))
    }(sink)

  /** Normalize a stream's event-time column for watermarking, loudly:
    * TIMESTAMP passes through; TIMESTAMP_NTZ casts — the identity on the
    * stored micros under the engine's UTC-pinned session (required here,
    * same contract as the batch `Events.events`); ANY OTHER TYPE is an
    * error. The guard exists because a blind `cast("timestamp")` on a
    * BIGINT-ns column would silently reinterpret nanoseconds as epoch
    * SECONDS (~10⁹× off) and the watermark + join window would match
    * nothing — convert ns-long inputs with
    * `timestamp_micros(ts_ns div 1000)` before streaming them.
    */
  private def eventTimeCol(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case TimestampType => col(c)
      case TimestampNTZType =>
        require(df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          s"stream column '$c' is TIMESTAMP_NTZ: pin spark.sql.session.timeZone=UTC " +
            "so the naive→instant cast is the identity on the stored micros")
        col(c).cast(TimestampType)
      case other => sys.error(
        s"stream column '$c' has type $other — watermarks need TIMESTAMP; " +
          "convert ns-long inputs with timestamp_micros(ts_ns div 1000) first " +
          "(cf. Events.events)")
    }
  }

  /** Tumbling 1-hour windowed counts per event type, 2h watermark. Works on
    * any streaming DataFrame with (ts: timestamp, event_type: string).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** STREAM-STREAM interval join — the streaming twin of
    * `Events.attributionPairs`: two live streams (clicks, purchases)
    * joined on user_id with the click inside the purchase's attribution
    * window. This is the one join shape where BOTH sides buffer state:
    * each side holds rows until the other side's watermark proves no
    * further match can arrive, so the time-range condition PLUS the two
    * watermarks are what bound state (without the range condition Spark
    * would have to keep both streams forever — it rejects the plan).
    * State partitions by user_id across executors; per-user state is the
    * in-window suffix of each stream. Inner-join results emit as matches
    * arrive (no watermark latency on output, only on state eviction).
    * Expects (user_id, event_id, ts) on both inputs; output matches the
    * batch op: (user_id, purchase_id, click_id, purchase_us, click_us,
    * us_before). `ts` may arrive as TIMESTAMP or TIMESTAMP_NTZ (the
    * regenerated testdata's µs encoding) — watermarks are only legal on
    * TIMESTAMP, so the op normalizes via [[eventTimeCol]] (NTZ casts under
    * the required UTC session; anything else fails loudly — the same
    * contract as the batch `Events.events`).
    */
  def attributeClicks(clicks: DataFrame, purchases: DataFrame,
      window: String = "24 hours", delay: String = "1 hour"): DataFrame =
    clickPurchaseJoin(clicks, purchases, window, delay, "inner")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("us_before"))

  /** [[attributeClicks]] as a LEFT OUTER stream-stream join — the audit
    * shape: every purchase emits, attributed or not. Outer results CANNOT
    * emit eagerly (an unmatched purchase is only provably unmatched once
    * the click-side watermark passes its window), so null-padded rows
    * carry watermark latency — the structural price of outer streaming
    * joins, and why the inner form is the serving default. State bounds
    * are identical to the inner join.
    */
  def attributeClicksOuter(clicks: DataFrame, purchases: DataFrame,
      window: String = "24 hours", delay: String = "1 hour"): DataFrame =
    clickPurchaseJoin(clicks, purchases, window, delay, "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"))

  /** The one watermarked interval join behind the click-attribution
    * streams ([[attributeClicks]], [[attributeClicksOuter]],
    * [[clickAttribution]]): purchases (user_id, purchase_id, purchase_ts)
    * join clicks (c_user_id, click_id, click_ts) on the same user with
    * `click_ts ∈ [purchase_ts − window, purchase_ts]`, each side
    * watermarked by `delay` after [[eventTimeCol]] normalizes its `ts`.
    * The range condition plus the two watermarks are what bound state.
    */
  private def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      window: String, delay: String, joinType: String): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), eventTimeCol(clicks, "ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val p = purchases.select(col("user_id"),
        col("event_id").as("purchase_id"), eventTimeCol(purchases, "ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"),
      joinType)
  }

  /** Streaming exact dedup — the ingestion-time twin of Dedup.exactGroups:
    * keep the FIRST document per content hash across micro-batches. State is
    * one (hash) key per distinct document; with an event-time column, pair
    * with `withWatermark` + `dropDuplicatesWithinWatermark` to bound state
    * on unbounded streams (the form a 100 TB ingest pipeline runs); the
    * unbounded-state form here is the exactness-preserving default.
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.withColumn("text_hash", md5(col("text")))
      .dropDuplicates("text_hash")
      .drop("text_hash") // helper column — output keeps the input doc schema

  /** [[dedupExact]] with BOUNDED state — the form an unbounded 100 TB
    * ingest actually runs: duplicates are only suppressed within the
    * event-time watermark (`delay`), and state for hashes older than the
    * watermark is dropped by the engine instead of growing forever. The
    * trade is explicit: a duplicate arriving more than `delay` after its
    * original is re-admitted (downstream periodic batch dedup catches it —
    * the same two-tier design as the near-dup path). `docs` must carry an
    * event-time column `tsCol`.
    */
  def dedupExactWithinWatermark(docs: DataFrame, tsCol: String, delay: String): DataFrame =
    dedupWithinWatermark(docs.withColumn("text_hash", md5(col("text"))),
      "text_hash", tsCol, delay).drop("text_hash")

  /** Streaming NEAR-dup dedup at ingest: keep the first document per 48-bit
    * SimHash of its shingle set (the same portable fingerprint as the batch
    * [[graft.operators.Dedup.simhashPairs]]). Docs whose shingle SETS
    * coincide — the overwhelmingly common boilerplate case, including any
    * reordering/repetition the set semantics normalize — collapse across
    * micro-batches with one 8 B fingerprint of state per distinct doc.
    * Hamming 1–3 near-dups still need the batch simhashPairs sweep: ingest
    * dedup is the cheap always-on first line, the batch sweep the periodic
    * deep clean — the standard two-tier design for an unbounded corpus.
    *
    * Docs too short to shingle (< 3 tokens, empty shingle set — where one
    * SimHash would wrongly collapse ALL of them; the batch twin guards with
    * `size(sh) > 0`) fall back to the exact content hash, so distinct short
    * docs are never discarded as "near-dups" of each other.
    */
  def dedupNearSimhash(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.{hashSet, simhash48}
    docs
      .withColumn("__sh", shingleSet(col("text"), 3))
      .withColumn("__fp",
        when(size(col("__sh")) > 0,
          concat(lit("s"), simhash48(hashSet(col("__sh"))).cast("string")))
        .otherwise(concat(lit("m"), md5(coalesce(col("text"), lit(""))))))
      .dropDuplicates("__fp")
      .drop("__sh", "__fp")
  }

  /** Streaming decontamination at ingest — the stream-static pattern:
    * incoming docs are DROPPED when any of their word `k`-grams appears in
    * the static eval-set gram table (same 8 B portable hashes as the batch
    * [[graft.operators.TextAnalysis.decontaminate]]). The eval grams ride
    * as ONE broadcast row (the flagship's `retainAll` shape — structurally
    * small: benchmarks, not corpora) and the check is a per-row
    * `array_intersect` — completely STATELESS on the stream, so it chains
    * with the dedup/quality ingest stages in one pipeline; the static side
    * is re-resolved per micro-batch, so a refreshed eval table takes
    * effect on the next batch. Returns the surviving docs, input schema.
    */
  def decontaminate(docs: DataFrame, evalGramHashes: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    val evalArr = broadcast(evalGramHashes.agg(collect_set(col("gram")).as("__ev")))
    docs.crossJoin(evalArr)
      .where(size(array_intersect(hashSet(shingleSet(col("text"), k)), col("__ev"))) === 0)
      .drop("__ev")
  }

  /** Stream-vs-corpus dedup: drop streaming documents whose exact content
    * hash is already in a PERSISTED dedup index
    * ([[graft.operators.Dedup.buildDedupIndex]]) — the stream-static
    * composition of the incremental batch path
    * ([[graft.operators.Dedup.dedupAgainst]]): the indexed CORPUS plays the
    * static side, so an ingest stream never re-admits yesterday's
    * documents. STATELESS on the stream (the index is the state, and it
    * lives on disk, not in the state store), so it chains before the
    * stateful within-stream stages. The static side's FILE LISTING is
    * captured when the query starts (standard Spark file-source
    * semantics), so an [[graft.operators.Dedup.extendDedupIndex]] takes
    * effect on query RESTART — the usual deployment rhythm (nightly index
    * job, then bounce the ingest query; spec-asserted), with
    * [[dedupExact]] downstream covering within-run duplicates in the
    * meantime. Exact tier only — streaming
    * NEAR-dup-vs-corpus would need stateful candidate tracking; the
    * deployed shape is this + [[dedupNearSimhash]] within the stream +
    * the periodic batch [[graft.operators.Dedup.dedupAgainst]] sweep.
    */
  def dedupAgainstIndex(docs: DataFrame, indexPath: String): DataFrame = {
    val spark = docs.sparkSession
    require(Dedup.dedupIndexExists(spark, indexPath),
      s"no complete dedup index at $indexPath — run buildDedupIndex first")
    val corpusHashes = spark.read.parquet(s"$indexPath/exact")
      .select(col("text_hash"))
    docs.withColumn("__h", md5(col("text")))
      .join(corpusHashes, col("__h") === col("text_hash"), "left_anti")
      .drop("__h")
  }

  /** STATELESS in-stream near-dup MATCH stream against the persisted index
    * — the monitor/alerting tier: every streaming document that clears
    * Jaccard ≥ tau against SOME indexed corpus document emits one row per
    * matching corpus doc, in append mode, with ZERO streaming state. The
    * plan is the serve sketch run as pure stream-static equi joins: stream
    * doc → MinHash band keys (explode) → equi join the index `bands/`
    * table → equi join `sets/` → 62-bit merge-scan Jaccard verify.
    *
    * Exactly-once per (doc, corpus doc) pair WITHOUT dropDuplicates state:
    * a near-dup pair typically collides in several of the 16 bands, and a
    * stateful dedup would grow forever on an unbounded stream — instead,
    * since `sets/` carries both sides' 31-bit hash sets, each candidate row
    * recomputes both band-key arrays and emits only when the joined band IS
    * the minimum band the pair shares. Deterministic, per-row arithmetic,
    * cost bounded by band-collision candidates (the same volume the verify
    * already pays). What this tier deliberately does NOT give is per-doc
    * keeper aggregation or survivor filtering — that is
    * [[dedupAgainstIndexNear]]'s per-micro-batch job; this one never holds
    * a row back. Output: (doc_id, near_match, jaccard).
    */
  def nearDupMatchesAgainstIndex(docs: DataFrame, indexPath: String, tau: Double,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3): DataFrame = {
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.{hashSet, minhashBandKeys, minhashFromHashes}
    val spark = docs.sparkSession
    require(Dedup.dedupIndexExists(spark, indexPath),
      s"no complete dedup index at $indexPath — run buildDedupIndex first")
    Dedup.requireIndexParams(
      new org.apache.hadoop.fs.Path(indexPath, "_PARAMS")
        .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf()),
      indexPath, numHashes, bands, k)
    val rpb = numHashes / bands
    def bandKeys(hs: Column): Column =
      minhashBandKeys(minhashFromHashes(hs, numHashes), bands, rpb)
    val corpusBands = spark.read.parquet(s"$indexPath/bands")
      .select(col("band"), col("doc_id").as("cdoc"))
    val corpusSets = spark.read.parquet(s"$indexPath/sets")
      .select(col("doc_id").as("cdoc"), col("hs31").as("chs31"), col("hs62").as("chs62"))
    val batch = docs.select(col("doc_id"),
        hashSet(shingleSet(col("text"), k)).as("hs31"),
        Dedup.hashSet62(shingleSet(col("text"), k)).as("hs62"))
      .where(size(col("hs31")) > 0)
    val inter = Dedup.intersect62(col("hs62"), col("chs62"))
    batch
      .select(col("doc_id"), col("hs31"), col("hs62"), explode(bandKeys(col("hs31"))).as("band"))
      .join(corpusBands, Seq("band"))
      .join(corpusSets, Seq("cdoc"))
      .select(col("doc_id"), col("cdoc"), col("band"), col("hs31"), col("chs31"),
        (inter.cast("double") /
          (size(col("hs62")) + size(col("chs62")) - inter).cast("double")).as("j"))
      .where(col("j") >= tau)
      .where(col("band") === array_min(array_intersect(bandKeys(col("hs31")), bandKeys(col("chs31")))))
      .select(col("doc_id"), col("cdoc").as("near_match"), round(col("j"), 6).as("jaccard"))
  }

  /** The NEAR-dup-vs-corpus serve tier — the streaming twin of the full
    * two-tier batch [[graft.operators.Dedup.dedupAgainst]] (exact md5 join,
    * then MinHash band join against the persisted `bands/` table with the
    * 62-bit merge-scan Jaccard verify), run per micro-batch through
    * [[dedupLoop]]. Not a stream-static join: the per-document verdict
    * ("does ANY corpus doc clear tau?") aggregates the band-join candidates
    * per stream doc, and the only streaming-legal aggregations would hold
    * unbounded state or force a non-equi nested-loop join against the
    * corpus-sized static side. An [[graft.operators.Dedup.extendDedupIndex]]
    * takes effect on the NEXT micro-batch ([[eachBatch]]'s contract; the
    * exact-tier stream-static [[dedupAgainstIndex]] only picks extends up
    * on restart — spec-asserted both ways). With `extendIndex = true` the
    * loop closes itself: batch N+1 near-dedups against corpus + batches
    * 1..N — the continuous-crawl ingest shape. The sink receives the
    * batch's documents annotated with (exact_keeper, near_keeper, status).
    * Within-batch duplicates are the upstream stages' job (compose
    * [[dedupExact]]/[[dedupNearSimhash]] before this, as [[ingestPipeline]]
    * does).
    */
  def dedupAgainstIndexNear(docs: DataFrame, indexPath: String, tau: Double,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      extendIndex: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    dedupLoop(docs, extendIndex)(b =>
      b.join(Dedup.dedupAgainst(indexPath, b, tau, numHashes, bands, k), Seq("doc_id"))
    )(Dedup.extendDedupIndex(indexPath, _, numHashes, bands, k))(sink)

  /** Streaming MAINTENANCE of the mergeable daily-aggregate table
    * ([[graft.operators.Events.dailyAggregates]]' schema): each micro-batch
    * computes its (event_day, event_type) partials and MERGES them into the
    * persisted table — the aggregate-once pipeline's ingest half, after
    * which any rollup (e.g. weekly) reads days, not events. Merge touches
    * only the days present in the batch: the table is PARTITIONED BY
    * event_day, existing rows load through a partition-pruned scan of just
    * those days, and the write is a dynamic-partition overwrite of the same
    * days — steady-state cost is per-day, independent of table history.
    * Every stored stat is an algebraic merge state (sum/count/min/max), so
    * partials merge losslessly in any batch order. The touched-day list is
    * collected driver-side (metadata-scale: a micro-batch spans few days).
    * Crash contract: a replayed batch re-merges its partials — counts would
    * double, so the sink relies on Structured Streaming's checkpointed
    * batch ids (standard foreachBatch idempotence: pass the streaming
    * checkpointLocation; a torn dynamic-partition overwrite is repaired by
    * the replay that caused it).
    *
    * Input contract: streaming frame with (ts: timestamp, event_type,
    * value: double).
    */
  def maintainDailyAggregates(events: DataFrame, tablePath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val sp = batch.sparkSession
      val partials = batch
        .groupBy(expr("unix_micros(ts) div 86400000000").as("event_day"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(30,2)").as("sum_value_dec"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .localCheckpoint()
      try {
        val days = partials.select(col("event_day")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // Hadoop-FS probe (r16): the sink table may live on any
        // filesystem, like the artifact store
        val tp = new org.apache.hadoop.fs.Path(tablePath)
        val exists = tp.getFileSystem(GraftShim.sessionHadoopConf()).exists(tp)
        val merged = if (!exists) partials else
          sp.read.parquet(tablePath)
            .where(col("event_day").isin(days: _*))
            .unionByName(partials)
            .groupBy(col("event_day"), col("event_type"))
            .agg(
              sum(col("n_events")).as("n_events"),
              sum(col("sum_value_dec")).cast("decimal(30,2)").as("sum_value_dec"),
              min(col("min_value")).as("min_value"),
              max(col("max_value")).as("max_value"))
        // materialize BEFORE the overwrite: the merge plan reads the very
        // partitions the write replaces
        val out = merged.localCheckpoint()
        try out.write
          .partitionBy("event_day")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(tablePath)
        finally GraftShim.unpersistCheckpoint(out)
      } finally GraftShim.unpersistCheckpoint(partials)
    }

  /** The EMBEDDING-modality twin of [[dedupAgainstIndexNear]]: each
    * micro-batch of (vec_id, embedding) rows runs the full batch
    * [[graft.operators.EmbeddingSearch.vecDedupAgainst]] (hyperplane-LSH
    * band join against the persisted vector index, exact-cosine verify)
    * through [[dedupLoop]]. The sink receives the batch annotated with
    * (near_keeper, status); with `extendIndex = true` each batch's unique
    * survivors join the index before the next batch
    * ([[graft.operators.EmbeddingSearch.extendVecDedupIndex]]).
    */
  def vecDedupAgainstIndexNear(vecs: DataFrame, indexPath: String, tau: Double,
      nPlanes: Int = 16, extendIndex: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    dedupLoop(vecs, extendIndex)(b =>
      b.join(EmbeddingSearch.vecDedupAgainst(indexPath, b, tau, nPlanes), Seq("vec_id"))
    )(EmbeddingSearch.extendVecDedupIndex(indexPath, _, nPlanes))(sink)

  /** STATELESS in-stream image near-dup match against the persisted phash
    * index ([[graft.operators.Multimodal.buildPhashIndex]]) — the image
    * twin of [[nearDupMatchesAgainstIndex]]: every streaming image within
    * Hamming ≤ maxDist of SOME indexed corpus image emits one row per
    * matching corpus image, append mode, ZERO streaming state. Input is
    * the fingerprint stream (doc_id, phash) — decode+hash happens in the
    * upstream ingest map stage
    * ([[graft.operators.Multimodal.imagePHashesOf]] on the micro-batch
    * frame), so only 8 B/image ever reaches the join.
    *
    * Exactly-once per (stream, corpus) pair without dropDuplicates state:
    * a near-dup pair shares one or more of the sharded pigeonhole keys (an
    * exact dup shares all 16), so each candidate row recomputes both
    * key arrays and emits only when the JOINED key is the minimum key the
    * pair shares — the same deterministic min-shared-key rule the MinHash
    * tier uses. The sharded 21-bit keys (not the flat 12-bit chunks) keep
    * per-stream-image candidate volume bounded as the indexed corpus
    * grows. Static-side file listing is captured at query start, so an
    * [[graft.operators.Multimodal.extendPhashIndex]] takes effect on
    * query restart. Output: (doc_id, corpus_match, hamming).
    */
  def phashMatchesAgainstIndex(images: DataFrame, indexPath: String,
      maxDist: Int = 3): DataFrame =
    fpMatchesAgainstIndexImpl(images, indexPath, "phashes", "phash", maxDist,
      "run buildPhashIndex first")

  /** The VIDEO twin of [[phashMatchesAgainstIndex]] — frame-sequence
    * fingerprints vs the persisted video index, stateless.
    * Output: (doc_id, corpus_match, hamming).
    */
  def videoMatchesAgainstIndex(video: DataFrame, indexPath: String,
      maxDist: Int = 3): DataFrame =
    fpMatchesAgainstIndexImpl(video, indexPath, "vfps", "vfp", maxDist,
      "run buildVideoFpIndex first")

  /** The one kernel behind the modality match streams: stream
    * fingerprints explode into the sharded pigeonhole chunk keys, equi-join
    * the index's `$table` fingerprint table, exact-Hamming verify, and the
    * min-shared-key rule keeps emission at exactly one row per
    * (stream, corpus) pair with zero streaming state.
    */
  private def fpMatchesAgainstIndexImpl(stream: DataFrame, indexPath: String,
      table: String, fpCol: String, maxDist: Int, buildHint: String): DataFrame = {
    import graft.functions.HashFunctions.{simhashShardedChunkKeys, hamming}
    require(maxDist <= 3, "4-chunk index is only lossless for Hamming <= 3")
    val spark = stream.sparkSession
    require(Multimodal.fpIndexExistsAt(indexPath),
      s"no complete fingerprint index at $indexPath — $buildHint")
    val corpus = spark.read.parquet(s"$indexPath/$table")
      .select(col("doc_id").as("corpus_match"), col(fpCol).as("__c_fp"),
        explode(simhashShardedChunkKeys(col(fpCol))).as("chunk"))
    stream
      .select(col("doc_id"), col(fpCol),
        explode(simhashShardedChunkKeys(col(fpCol))).as("chunk"))
      .join(corpus, Seq("chunk"))
      .where(hamming(col(fpCol), col("__c_fp")) <= maxDist)
      .where(col("chunk") === array_min(array_intersect(
        simhashShardedChunkKeys(col(fpCol)), simhashShardedChunkKeys(col("__c_fp")))))
      .select(col("doc_id"), col("corpus_match"),
        hamming(col(fpCol), col("__c_fp")).as("hamming"))
  }

  /** Watermark-BOUNDED within-stream dedup on one key column — the form
    * behind [[dedupExactWithinWatermark]] and the modality-parity tiers:
    * keep the FIRST row per `keyCol` value, with state for keys older than
    * the event-time watermark dropped by the engine instead of growing
    * forever (one key of state per distinct live item). The trade is
    * explicit: a duplicate arriving more than `delay` after its original
    * is RE-ADMITTED, and a periodic batch sweep catches it — the standard
    * two-tier design. Image streams pass `keyCol = "phash"` (48-bit dHash;
    * the batch sweep is [[graft.operators.Multimodal.phashNearDupPairs]]),
    * audio streams `"afp"` ([[graft.operators.Multimodal.audioNearDupPairs]]).
    * Equal-fingerprint collapse covers exact dups and the re-encode/resize
    * variants the fingerprint is invariant to; Hamming 1–3 neighbors are
    * the batch sweep's job (a single-key streaming dedup cannot express
    * them losslessly). Input carries (doc_id, `keyCol`, `tsCol`) —
    * fingerprints from the upstream decode map stage, never raw media.
    */
  def dedupWithinWatermark(stream: DataFrame, keyCol: String, tsCol: String,
      delay: String): DataFrame =
    stream.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCol)

  /** Per-micro-batch image dedup-vs-index with per-image VERDICTS — the
    * image twin of [[dedupAgainstIndexNear]]: each micro-batch of
    * (doc_id, phash) fingerprints runs the batch
    * [[graft.operators.Multimodal.phashDedupAgainst]] (4×12-bit pigeonhole
    * chunk join against the persisted index, exact Hamming verify) through
    * [[dedupLoop]], and the sink receives the batch annotated with
    * (dup_of, hamming, status) — status "dup" with the closest corpus
    * match (min Hamming, ties to the lowest doc_id) or "unique". With
    * `extendIndex = true` each batch's unique fingerprints join the index
    * before the next batch runs.
    */
  def phashDedupAgainstIndexNear(images: DataFrame, indexPath: String,
      maxDist: Int = 3, extendIndex: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    fpDedupAgainstIndexNearImpl(images, indexPath, "phashes", "phash",
      maxDist, extendIndex)(sink)

  /** The AUDIO twin of [[phashDedupAgainstIndexNear]]: per-micro-batch
    * verdicts (dup_of, hamming, status) for a stream of audio fingerprints
    * against the persisted audio index, with the same self-extending-loop
    * option.
    */
  def audioDedupAgainstIndexNear(audio: DataFrame, indexPath: String,
      maxDist: Int = 3, extendIndex: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    fpDedupAgainstIndexNearImpl(audio, indexPath, "afps", "afp",
      maxDist, extendIndex)(sink)

  /** The one serve behind the modality dedup tiers: the batch
    * fingerprint-vs-index join ([[graft.operators.Multimodal.fpDedupAgainstAt]])
    * collapsed to one verdict per item (closest corpus match; ties to the
    * lowest doc_id), run through [[dedupLoop]]; the extend appends the
    * batch's unique (doc_id, fingerprint) rows to the `$table` table.
    */
  private def fpDedupAgainstIndexNearImpl(stream: DataFrame, indexPath: String,
      table: String, fpCol: String, maxDist: Int, extendIndex: Boolean)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    dedupLoop(stream, extendIndex) { b =>
      val matches = Multimodal.fpDedupAgainstAt(indexPath,
        b.select(col("doc_id"), col(fpCol)), table, fpCol, maxDist)
      // one verdict per item: the closest corpus match wins
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("hamming").asc, col("dup_of").asc)
      val verdicts = matches
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("doc_id"), col("dup_of"), col("hamming"))
      b.join(verdicts, Seq("doc_id"), "left")
        .withColumn("status", when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("unique")))
    } { survivors =>
      Multimodal.extendFpIndexAt(indexPath, survivors.select(col("doc_id"), col(fpCol)), table)
    }(sink)

  /** Streaming PII scrub — the ingestion-time twin of
    * [[graft.operators.TextAnalysis.piiScrub]]: the same three
    * Java∩RE2-dialect patterns REPLACE in-band (text is rewritten, other
    * columns ride through), so the stage composes schema-preserving into
    * the ingest chain. Pure stateless projection — zero state, zero
    * shuffles, linear in batch bytes — which is exactly why it belongs at
    * ingest: scrubbing at serve time would re-pay the regex over the
    * corpus on every export.
    */
  def scrubPii(docs: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis.{EmailPattern, PhonePattern, UrlPattern}
    docs.withColumn("text",
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailPattern, "<EMAIL>"), PhonePattern, "<PHONE>"), UrlPattern, "<URL>"))
  }

  /** The VECTOR-INDEX ingest loop (r15, the r14 verdict's item 5 —
    * [[dedupAgainstIndexNear]]'s closed maintenance loop mirrored onto
    * the IVF artifact, closing the streaming-maintenance asymmetry):
    * each micro-batch of (vec_id, embedding[, meta…]) rows is FIRST
    * served against the standing index (top-k exact-cosine neighbors —
    * the batch kernel verbatim, so the serve tiers cannot drift), the
    * sink receives the annotations, and with `extendIndex = true` the
    * batch's vectors are then APPENDED through the full batch-side
    * maintenance path: [[graft.operators.EmbeddingSearch.extendIvfIndex]]
    * (radii merge-first staged swap, `_DONE` recommit with a fresh
    * token, auto-compaction at the >16-files/dir threshold) followed by
    * the staleness policy
    * ([[graft.operators.EmbeddingSearch.ensureFreshIvfIndex]] — a
    * sized retrain fires iff the corpus quadrupled past training, the
    * same rule batch deployments run). Batch N+1 therefore serves
    * against corpus + batches 1..N with ALL the batch lifecycle's
    * invariants intact — one code path, not a streaming fork. Crash
    * mid-extend leaves `_DONE` down and the next batch's extend refuses
    * loudly (the crash contract; rebuild remedy in the message), and
    * foreachBatch's at-least-once REPLAY of an already-committed batch
    * is recognized and skipped via the batch token recorded in the
    * index's `_BATCH` marker (ADVICE r15 — `extendIvfIndex`'s
    * `idempotenceToken`; a restart after the extend commits but before
    * the stream checkpoint advances re-delivers the batch, and without
    * the token the same vec_ids would silently append twice) — the loop
    * never silently double-appends under either crash OR replay. The
    * token is the batchId, so the loop assumes ONE ingest stream per
    * index — the same single-writer contract concurrent extends already
    * require (`_DONE` is down for an extend's whole duration). Sink
    * rows: (query_id, vec_id, cosine, rank ≤ k).
    */
  def knnIngestAgainstIvfIndex(vecs: DataFrame, indexPath: String,
      k: Int = 3, nprobe: Int = 2, extendIndex: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveThenExtend(vecs, holdServed = false)(
        EmbeddingSearch.knnBatchAgainstIvfIndex(_, indexPath, k, nprobe)) { (b, _, batchId) =>
      if (extendIndex) {
        val others = b.columns.filterNot(Set("vec_id", "embedding")).map(col)
        EmbeddingSearch.extendIvfIndex(indexPath,
          b.select(Seq(col("vec_id"), embeddingAsV) ++ others: _*),
          idempotenceToken = Some(s"batch_$batchId"))
        EmbeddingSearch.ensureFreshIvfIndex(b.sparkSession, indexPath)
      }
    }(sink)

  /** The BM25-INDEX ingest loop — [[knnIngestAgainstIvfIndex]]'s lexical
    * sibling: each micro-batch of (doc_id, text) rows is appended to the
    * persisted postings artifact through the batch maintenance path
    * ([[graft.operators.TextAnalysis.extendBm25Index]] — postings/doclens/
    * fwd appended in one commit, `_DONE` recommitted with a fresh token,
    * auto-compaction at the >16-files/dir threshold), so the serve tiers
    * ([[graft.operators.TextAnalysis.hybridServeBatch]], the BM25
    * entries) see corpus + batches
    * 1..N on their next index read. The sink receives the batch
    * annotated with `n_tokens` — the SAME `\\W+` tokenizer count the
    * appended doclens row stores, so a sink-side audit can reconcile
    * what landed in the artifact without reading it back. Crash
    * mid-extend leaves `_DONE` down; the next batch refuses loudly
    * (the crash contract — never a silent partial append), and a
    * foreachBatch REPLAY of an already-committed batch is skipped via
    * the `_BATCH` batch token (the knnIngestAgainstIvfIndex contract —
    * at-least-once delivery never doubles a batch's terms' tf/df/dl;
    * single ingest stream per index assumed, as for any extend).
    */
  def bm25IngestExtendIndex(docs: DataFrame, indexPath: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveThenExtend(docs, holdServed = false)(
        _.withColumn("n_tokens", size(graft.functions.TextFunctions.tokenize(col("text"))))) {
      (b, _, batchId) =>
        TextAnalysis.extendBm25Index(indexPath, b, idempotenceToken = Some(s"batch_$batchId"))
    }(sink)

  /** The kNN-GRAPH ingest loop (r16 — [[knnIngestAgainstIvfIndex]]'s
    * sibling for the navigable-graph artifact, completing the
    * maintenance matrix for the artifact that gained its lifecycle this
    * round): each micro-batch of (vec_id, embedding) vectors is
    * appended through [[graft.operators.EmbeddingSearch.extendKnnGraph]]
    * — the EXACT merge under the graph's frozen quantizer (affected
    * vertices' home-cell partitions rewritten via the staged swap,
    * `_DONE` token recommit, the 4× staleness warning) — so the next
    * graph walk reaches batches 1..N through merged edges. The sink
    * receives the batch annotated with each vector's assigned home
    * cell (`cl`, from the artifact's own stored quantizer — the
    * [[graft.operators.EmbeddingSearch.assignWithIndex]] routing, so a sink-side audit can
    * reconcile cell balance without reading the artifact back).
    * foreachBatch replay is idempotent via the `_BATCH` batch token
    * (the extendIvfIndex contract); one ingest stream per graph, as
    * for any extend. Crash mid-extend leaves `_DONE` down and the next
    * batch refuses loudly with the rebuild remedy.
    */
  def knnGraphIngestExtend(vecs: DataFrame, graphPath: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveThenExtend(vecs, holdServed = false)(b => EmbeddingSearch.assignWithIndex(b,
        EmbeddingSearch.loadKmeansIndex(b.sparkSession, s"$graphPath/cent"))) { (b, _, batchId) =>
      EmbeddingSearch.extendKnnGraph(graphPath, b.select(col("vec_id"), embeddingAsV),
        idempotenceToken = Some(s"batch_$batchId"))
    }(sink)

  /** The stream's float `embedding` as the `v` doubles the IVF and graph
    * extends store. */
  private def embeddingAsV: Column = transform(col("embedding"), _.cast("double")).as("v")

  /** Streaming FILTERED kNN serve — the kNN serve under a corpus
    * predicate, against a METADATA-CARRYING persisted index
    * ([[graft.operators.EmbeddingSearch.buildIvfIndex]] with `meta`):
    * each micro-batch of (vec_id, embedding) queries gets its top-k
    * exact-cosine neighbors among the indexed vectors that MATCH `pred`
    * ([[graft.operators.EmbeddingSearch.filteredKnnBatchAgainstIvfIndex]]
    * — one kernel for the batch and streaming shapes, so the tiers
    * cannot drift). The filter's branch input (the pushed-predicate
    * match count) is priced ONCE here at wiring, not per
    * batch — the index is static between extends, so per-batch cost
    * stays at the probed partitions' matching rows plus the batch scan,
    * never a per-batch corpus count; an extend's new selectivity takes
    * effect on RESTART (the kernel itself re-reads the index per batch,
    * so appended VECTORS are searched immediately; only the branch/width
    * pricing waits). Sink receives (query_id, vec_id, cosine, rank).
    */
  def filteredKnnAgainstIvfIndex(vecs: DataFrame, indexPath: String, pred: Column, k: Int = 5)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val matches = pricedFilterMatches(vecs, indexPath, pred)
    eachBatch(vecs)(
      EmbeddingSearch.filteredKnnBatchAgainstIvfIndex(_, indexPath, pred, k, matches))(sink)
  }

  /** The ONE wiring-time pricing both filtered streaming tiers share:
    * the pushed-predicate match count through the commit-state memo
    * ([[graft.operators.EmbeddingSearch.storedIvfMatches]] — a restart
    * against an unchanged index pays a map lookup, not a table count),
    * and the zero-match refusal AT WIRING, where the misconfiguration
    * happened — without it a bad predicate only surfaces as the
    * kernel's require inside the first micro-batch's foreachBatch,
    * terminating the started streaming query (ADVICE r13).
    */
  private def pricedFilterMatches(vecs: DataFrame, indexPath: String, pred: Column): Long = {
    val matches = EmbeddingSearch.storedIvfMatches(vecs.sparkSession, indexPath, pred)
    require(matches > 0,
      s"filter '$pred' matches no vectors in the index at $indexPath — " +
        "refusing to wire a streaming serve that would fail its first batch")
    matches
  }

  /** Streaming FILTERED MIPS serve — the [[filteredKnnAgainstIvfIndex]]
    * sibling with inner-product scoring (one kernel,
    * [[graft.operators.EmbeddingSearch.filteredMipsBatchAgainstIvfIndex]],
    * for the batch and streaming shapes). Branch input priced once at
    * wiring with the zero-match refusal AT wiring (the
    * filteredKnnAgainstIvfIndex contract); per-batch cost = the probed
    * partitions' matching rows + the batch scan. Sink receives
    * (query_id, vec_id, ip, rank).
    */
  def filteredMipsAgainstIvfIndex(vecs: DataFrame, indexPath: String, pred: Column, k: Int = 5)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val matches = pricedFilterMatches(vecs, indexPath, pred)
    eachBatch(vecs)(
      EmbeddingSearch.filteredMipsBatchAgainstIvfIndex(_, indexPath, pred, k, matches))(sink)
  }

  /** Streaming MIPS serve against a persisted IVF index (one kernel,
    * [[graft.operators.EmbeddingSearch.mipsBatchAgainstIvfIndex]], for
    * the batch and streaming shapes): each micro-batch of
    * (vec_id, embedding) queries gets its top-k by EXACT inner product
    * from the IP-ranked probed cells of the stored index. The
    * count-derived probe width is priced once at wiring, by the same
    * count rule the kernel applies per call: the stored row count and the
    * quantizer size, both from the commit-state memos (no job against an
    * unchanged index). The index is static between extends; a restart
    * reprices. Per-batch cost is the probed cl= partitions' bytes plus
    * the batch scan, never the corpus. Sink receives
    * (query_id, vec_id, ip, rank).
    */
  def mipsAgainstIvfIndex(vecs: DataFrame, indexPath: String, k: Int = 5, nprobe: Int = 0)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val spark = vecs.sparkSession
    val np = if (nprobe > 0) nprobe
      else EmbeddingSearch.cellsNprobeFor(EmbeddingSearch.storedIvfRows(spark, indexPath),
        EmbeddingSearch.cachedCentRows(spark, indexPath).length)
    eachBatch(vecs)(EmbeddingSearch.mipsBatchAgainstIvfIndex(_, indexPath, k, np))(sink)
  }

  /** The COMPOSED ingest chain a 100 TB training-data stream runs, ordered
    * cheapest-first so each stage sheds volume before the next pays for it:
    * stateless quality predicate → stateless decontamination (broadcast
    * intersect) → exact-dup state (one md5 per distinct doc) → near-dup
    * state (one 8 B SimHash per distinct doc). One lazy streaming DAG;
    * state is touched only by documents that survived every stateless
    * stage. Input/output schema: (doc_id, text, ...) — preserved.
    */
  def ingestPipeline(docs: DataFrame, evalGramHashes: DataFrame): DataFrame =
    ingestChain(docs, evalGramHashes)

  /** [[ingestPipeline]] with the round-6 hygiene stage in place: the PII
    * scrub runs right after the quality gate (stateless, schema-
    * preserving) and BEFORE the dedup tiers — dedup hashes then key on the
    * scrubbed text, so two documents differing only in redacted PII
    * collapse as the duplicates they are.
    */
  def ingestPipelineHygiene(docs: DataFrame, evalGramHashes: DataFrame): DataFrame =
    ingestChain(docs, evalGramHashes, hygiene = scrubPii)

  /** [[ingestPipeline]] with the vs-CORPUS tier in place: after the
    * stateless quality/decontamination stages, documents already in the
    * persisted dedup index are dropped by the stateless stream-static anti
    * join ([[dedupAgainstIndex]]) BEFORE any within-stream dedup state is
    * paid for them — yesterday's corpus never occupies today's state store.
    */
  def ingestPipelineWithIndex(docs: DataFrame, evalGramHashes: DataFrame,
      indexPath: String): DataFrame =
    ingestChain(docs, evalGramHashes, vsCorpus = dedupAgainstIndex(_, indexPath))

  /** The cheapest-first stage order of the three ingest chains, stated
    * once; `hygiene` and `vsCorpus` are the two stateless slots the
    * variants fill (identity where a variant has no such stage).
    */
  private def ingestChain(docs: DataFrame, evalGramHashes: DataFrame,
      hygiene: DataFrame => DataFrame = identity,
      vsCorpus: DataFrame => DataFrame = identity): DataFrame =
    dedupNearSimhash(dedupExact(vsCorpus(decontaminate(
      hygiene(docs.where(TextAnalysis.qualityPredicate(col("text")))), evalGramHashes))))

  /** Terminate an ingest chain by PUBLISHING each micro-batch's survivors
    * as doc-per-file corpus files through the `graft-text` DSv2 sink
    * (append mode = upsert by doc_id) — the last mile of the streaming
    * curation story: stream → hygiene/dedup stages → published corpus a
    * batch trainer reads. Exactly-once corpus state WITHOUT checkpoint
    * bookkeeping in the sink: a replayed batch re-publishes the same
    * doc_ids with the same bytes (file content is a pure function of the
    * row, and the sink's staged commit publishes atomically), so
    * at-least-once batch delivery converges to the same files. Each batch
    * is one staged-commit write job; readers of the corpus dir never see
    * a half-published batch (staging is hidden from the listing rules).
    */
  def publishCorpus(docs: DataFrame, corpusDir: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      batch.select(col("doc_id").cast("string").as("doc_id"), col("text"))
        .write.format("graft-text").mode("append").save(corpusDir)
    }

  /** Stream-STREAM interval join — the streaming twin of the batch as-of /
    * attribution shape ([[graft.operators.Events.asofLastClick]]): every
    * purchase joins the same user's clicks in the `lookbackHours` window
    * at-or-before it, both sides unbounded streams. Spark buffers each
    * side's rows in the state store keyed by user_id; the watermarks PLUS
    * the two-sided time-interval condition are what let the engine evict
    * state — a click older than (purchase watermark − lookback) can never
    * match a future purchase and is dropped, so state is bounded by
    * lookback × arrival rate per key, not by stream history. Inner join +
    * event-time bounds is exactly the form Structured Streaming supports
    * in append mode with no extra latency. Output:
    * (user_id, purchase_id, purchase_ts, click_id, click_ts).
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
      lookbackHours: Int = 1, watermark: String = "2 hours"): DataFrame =
    clickPurchaseJoin(clicks, purchases, s"$lookbackHours HOUR", watermark, "inner")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))

  case class Event(user_id: Long, ts: Timestamp, event_id: Long)
  case class SessionState(start: Long, end: Long, n: Long)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Custom stateful sessionization (30-min gap), the streaming twin of
    * Events.sessionize: per-user state via flatMapGroupsWithState with a
    * processing-time timeout closing idle sessions.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000,
      idleTimeout: Boolean = true): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeout =
      if (idleTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout() // tests: keeps processAllAvailable finite
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s => Session(userId, s.start, s.end, s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime * 1000L // µs to match the batch operator
              cur match {
                case Some(s) if t - s.end <= gapMs * 1000 =>
                  cur = Some(s.copy(end = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, s.start, s.end, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach(state.update)
            if (idleTimeout) state.setTimeoutDuration(gapMs)
            closed.reverseIterator
          }
      }
  }

  /** [[graft.operators.Events.sessionizeNative]]'s formulation run as a
    * STREAM — the reason that operator exists: `session_window` is the one
    * sessionization Spark's engine merges and EVICTS natively (state for a
    * session is dropped once the watermark passes its close, no custom
    * state code). Append mode: a session emits when the watermark passes
    * its end + gap. Input contract: (ts: timestamp, user_id).
    */
  def sessionizeNativeStream(events: DataFrame, gap: String = "1800000001 microseconds",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      .select(col("user_id"), col("n_events"), col("start_ts"), col("end_ts"))

  case class HourBucket(hour: Long, n: Long)
  case class AnomalyState(open: Map[Long, Long], closed: List[HourBucket])
  case class AnomalyFlag(event_type: String, hour_epoch: Long, n_events: Long,
      trailing_cnt: Long, trailing_sum: Long, trailing_sumsq: Long)

  /** Streaming twin of [[graft.operators.Events.anomalies]]: per-type
    * hourly buckets accumulate in custom state; a bucket CLOSES when a
    * strictly later hour arrives for that type, and at close it is tested
    * against the trailing ring of the last `lookback` CLOSED buckets with
    * the SAME cross-multiplied integer z>3 rule as the batch operator
    * (BigInt squares stand in for its DECIMAL(38,0)) — flagged buckets
    * emit in append mode. State per event type is one open-bucket map +
    * a `lookback`-deep ring: bounded by hours, not event volume, the same
    * bound as the batch window. Events older than the newest CLOSED hour
    * are dropped (the explicit-state analog of a 1-hour watermark —
    * re-opening a closed bucket would double-emit and disorder the ring);
    * within that bound, arrival order and batch boundaries don't change
    * what is emitted — the ring only ever appends closed buckets in hour
    * order. Input contract: (ts: timestamp, event_type: string).
    */
  def anomalyStream(events: DataFrame, lookback: Int = 48,
      minObs: Int = 24): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyState, AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (eventType: String, rows: Iterator[(String, Long)], state: GroupState[AnomalyState]) =>
          val st = state.getOption.getOrElse(AnomalyState(Map.empty, Nil))
          val floorHr = st.closed.lastOption.map(_.hour + 1).getOrElse(Long.MinValue)
          var open = st.open
          rows.foreach { case (_, hr) =>
            if (hr >= floorHr) open += hr -> (open.getOrElse(hr, 0L) + 1L)
          }
          if (open.isEmpty) { state.update(st); Iterator.empty }
          else {
            val maxHr = open.keys.max
            var closed = st.closed
            val out = scala.collection.mutable.Buffer.empty[AnomalyFlag]
            open.keys.filter(_ < maxHr).toSeq.sorted.foreach { h =>
              val n = open(h)
              val trail = closed.takeRight(lookback)
              val m = trail.size.toLong
              if (m >= minObs) {
                val s = trail.map(_.n).sum
                val q = trail.map(b => b.n * b.n).sum
                val lhs = BigInt(n) * m - s
                if (lhs > 0 && lhs * lhs > BigInt(9) * (BigInt(m) * q - BigInt(s) * s))
                  out += AnomalyFlag(eventType, h * 3600L, n, m, s, q)
              }
              closed = (closed :+ HourBucket(h, n)).takeRight(lookback)
              open -= h
            }
            state.update(AnomalyState(open, closed))
            out.iterator
          }
      }
  }

  case class SSEntry(key: String, count: Long, err: Long)
  case class SSState(n: Long, seq: Long, entries: List[SSEntry])
  case class HeavyHitter(shard: Int, seq: Long, key: String, count: Long,
      err: Long, shard_n: Long)

  /** Deterministic shard assignment for [[heavyHittersStream]] — exposed so
    * consumers (and the spec) can replay which shard owns a key.
    */
  def shardOf(key: String, shards: Int): Int = Math.floorMod(key.hashCode, shards)

  /** Streaming heavy hitters — the SpaceSaving sketch (Metwally et al.,
    * ICDT'05) as keyed stream state. The batch engine answers top-k with
    * count-min + an exact audit ([[graft.operators.Events.userHeavyHitters]]);
    * a stream can't re-scan, and per-key state (`dropDuplicates`-style)
    * grows with the key universe — unbounded for user-ids/URLs/tokens. This
    * tier bounds state EXACTLY: keys hash into `shards` groups and each
    * group's state is a `capacity`-entry SpaceSaving summary, so total
    * state is shards × capacity entries, forever, at any input rate.
    *
    * Per trigger each touched shard emits its full current summary stamped
    * with a per-shard `seq` (update-mode semantics: latest seq per shard is
    * the current truth; a key absent from the latest summary was evicted).
    * SpaceSaving invariants per shard, spec-pinned: every summarized key
    * has count−err ≤ true ≤ count; any key with true frequency >
    * shard_n/capacity is GUARANTEED present; with capacity ≥ distinct keys
    * the summary is exact (err = 0). Global top-k = merge the latest
    * shard summaries (shards × capacity rows — driver-trivial), each key
    * living in exactly one shard so no cross-shard double count.
    *
    * Eviction replaces the MINIMUM-count entry (key tie-break makes runs
    * deterministic), charging its count as the newcomer's error bound —
    * the classic deterministic-guarantee trade against sampled or
    * probabilistic (count-min) alternatives.
    */
  def heavyHittersStream(keys: Dataset[String], capacity: Int = 64,
      shards: Int = 8): Dataset[HeavyHitter] = {
    import keys.sparkSession.implicits._
    require(capacity > 0 && shards > 0, "capacity and shards must be positive")
    keys
      .groupByKey(k => shardOf(k, shards))
      .flatMapGroupsWithState[SSState, HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[String], state: GroupState[SSState]) =>
          val st = state.getOption.getOrElse(SSState(0L, 0L, Nil))
          val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
          st.entries.foreach(e => m(e.key) = (e.count, e.err))
          var n = st.n
          rows.foreach { k =>
            n += 1
            m.get(k) match {
              case Some((c, e)) => m(k) = (c + 1, e)
              case None if m.size < capacity => m(k) = (1L, 0L)
              case None =>
                val (mk, (mc, _)) = m.minBy { case (kk, (c, _)) => (c, kk) }
                m.remove(mk)
                m(k) = (mc + 1, mc)
            }
          }
          val seq = st.seq + 1
          val entries = m.toList.map { case (k0, (c, e)) => SSEntry(k0, c, e) }
            .sortBy(_.key)
          state.update(SSState(n, seq, entries))
          entries.map(e => HeavyHitter(shard, seq, e.key, e.count, e.err, n)).iterator
      }
  }
}
