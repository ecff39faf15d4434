package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Structured Streaming specs over MemoryStream — windowed counts across an
  * hour boundary and stateful sessionization across a gap (FIXTURES.md §B.7).
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming hourly window counts match hand-placed events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    input.addData(
      (ts("2024-01-01 00:10:00"), "click"),
      (ts("2024-01-01 00:55:00"), "click"),
      (ts("2024-01-01 01:05:00"), "click"), // crosses the hour boundary
      (ts("2024-01-01 00:20:00"), "view"))
    val counts = StreamingOps.hourlyCounts(
      input.toDF().toDF("ts", "event_type"))
    val q = counts.writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select(date_format($"window_start", "HH").as("h"), $"event_type", $"n_events")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(("00", "click", 2L), ("01", "click", 1L), ("00", "view", 1L)))
    } finally q.stop()
  }

  test("stream-stream attribution join: in-window pairs only, both directions bounded") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    // u1: c1@00:00, c2@01:00; u2: c3@00:30
    clicks.addData(
      (1L, 101L, ts("2024-01-01 00:00:00")),
      (1L, 102L, ts("2024-01-01 01:00:00")),
      (2L, 103L, ts("2024-01-01 00:30:00")))
    // p1@01:30 (u1) -> c2 only; p2@00:45 (u1) -> c1 only (c2 is AFTER it);
    // p3@02:00 (u2) -> nothing in [01:00, 02:00]
    purchases.addData(
      (1L, 201L, ts("2024-01-01 01:30:00")),
      (1L, 202L, ts("2024-01-01 00:45:00")),
      (2L, 203L, ts("2024-01-01 02:00:00")))
    val joined = StreamingOps.attributeClicks(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      purchases.toDF().toDF("user_id", "event_id", "ts"),
      window = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select($"purchase_id", $"click_id", $"us_before")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((201L, 102L, 1800000000L), (202L, 101L, 2700000000L)),
        s"got $got")
    } finally q.stop()
  }

  test("attribution join accepts TIMESTAMP_NTZ micro-batches (µs testdata encoding)") {
    // pins the events-family encoding end to end: the same stream-stream
    // join, fed the naive-µs timestamps the regenerated testdata carries
    // (LocalDateTime → TIMESTAMP_NTZ); under the UTC-pinned session the
    // epoch arithmetic must agree exactly with the instant-typed run above
    implicit val sqlCtx = spark.sqlContext
    def ldt(s: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    val clicks = MemoryStream[(Long, Long, java.time.LocalDateTime)]
    val purchases = MemoryStream[(Long, Long, java.time.LocalDateTime)]
    clicks.addData(
      (1L, 101L, ldt("2024-01-01 00:00:00")),
      (1L, 102L, ldt("2024-01-01 01:00:00")),
      (2L, 103L, ldt("2024-01-01 00:30:00")))
    purchases.addData(
      (1L, 201L, ldt("2024-01-01 01:30:00")),
      (1L, 202L, ldt("2024-01-01 00:45:00")),
      (2L, 203L, ldt("2024-01-01 02:00:00")))
    val joined = StreamingOps.attributeClicks(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      purchases.toDF().toDF("user_id", "event_id", "ts"),
      window = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib_ntz")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attrib_ntz")
        .select($"purchase_id", $"click_id", $"us_before")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((201L, 102L, 1800000000L), (202L, 101L, 2700000000L)),
        s"got $got")
    } finally q.stop()
  }

  test("left-outer attribution: unmatched purchases emit null-padded after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    clicks.addData((1L, 101L, ts("2024-01-01 01:00:00")))
    purchases.addData(
      (1L, 201L, ts("2024-01-01 01:30:00")),  // attributed to 101
      (2L, 202L, ts("2024-01-01 01:30:00")))  // no click at all -> null pad
    val joined = StreamingOps.attributeClicksOuter(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      purchases.toDF().toDF("user_id", "event_id", "ts"),
      window = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance BOTH watermarks far past the purchases so the unmatched
      // row is provably unmatched and must emit null-padded
      clicks.addData((9L, 901L, ts("2024-01-02 12:00:00")))
      purchases.addData((9L, 902L, ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      clicks.addData((9L, 903L, ts("2024-01-03 12:00:00")))
      purchases.addData((9L, 904L, ts("2024-01-03 12:00:00")))
      q.processAllAvailable()
      val got = spark.table("attrib_outer")
        .select($"purchase_id", $"click_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(got.contains((201L, 101L)), s"attributed pair missing: $got")
      assert(got.contains((202L, -1L)), s"null-padded unmatched purchase missing: $got")
    } finally q.stop()
  }

  test("streaming exact dedup keeps first doc per content hash across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = StreamingOps.dedupExact(input.toDF().toDF("doc_id", "text"))
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // dups arrive only in LATER batches: which row a within-batch dedup
      // keeps is partition-order-dependent, across batches it's the state
      input.addData((0L, "a b c"), (2L, "x y z"))
      q.processAllAvailable()
      input.addData((3L, "a b c"), (4L, "new doc"))
      q.processAllAvailable()
      val kept = spark.table("sdedup").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 2L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("watermarked exact dedup suppresses dups within the delay window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamingOps.dedupExactWithinWatermark(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("swmdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, ts("2024-01-01 00:00:00"), "first doc"),
        (1L, ts("2024-01-01 00:10:00"), "second doc"))
      q.processAllAvailable()
      // dup of doc 0 well inside the 1h watermark -> suppressed
      input.addData((2L, ts("2024-01-01 00:20:00"), "first doc"))
      q.processAllAvailable()
      val kept = spark.table("swmdedup").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 1L), s"got $kept")
    } finally q.stop()
  }

  test("streaming near-dup dedup collapses shingle-set-identical docs across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = StreamingOps.dedupNearSimhash(input.toDF().toDF("doc_id", "text"))
    val q = deduped.writeStream.format("memory").queryName("sneardedup")
      .outputMode("append").start()
    try {
      // doc 0's shingle set is the 3 rotations {"a b c","b c a","c a b"}
      input.addData((0L, "a b c a b c"), (1L, "totally different body here"))
      q.processAllAvailable()
      // doc 2 loops the phrase once more — DIFFERENT text, IDENTICAL
      // shingle SET (one more lap adds only repeat shingles) -> same
      // fingerprint, collapsed by the near-dup state
      input.addData((2L, "a b c a b c a b c"), (3L, "a brand new document"))
      q.processAllAvailable()
      val kept = spark.table("sneardedup").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 1L, 3L), s"got $kept")
    } finally q.stop()
  }

  test("streaming near-dup dedup: distinct short docs (empty shingle set) all survive") {
    // regression (r3 review): one fingerprint for every <3-token doc would
    // silently discard distinct short docs as "near-dups" of each other —
    // they must fall back to the exact content hash
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = StreamingOps.dedupNearSimhash(input.toDF().toDF("doc_id", "text"))
    val q = deduped.writeStream.format("memory").queryName("sshortdedup")
      .outputMode("append").start()
    try {
      input.addData((0L, "hello world"), (1L, "goodbye"))
      q.processAllAvailable()
      input.addData((2L, "hello world"), (3L, "third thing"))  // 2 = exact dup of 0
      q.processAllAvailable()
      val kept = spark.table("sshortdedup").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 1L, 3L), s"got $kept")
    } finally q.stop()
  }

  test("streaming quality filter: the batch predicate runs stateless on a stream") {
    // batch/stream unification: TextAnalysis.qualityFilter is pure
    // map-side Column arithmetic, so the SAME operator runs on a stream
    // with zero state — asserted by comparing against its batch run
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "en", (1 to 40).map(i => s"tok$i").mkString(" ")),   // passes (40 distinct tokens)
      (2L, "en", "too short"),                                  // fails n_tokens >= 30
      (3L, "en", (1 to 40).map(_ => "x").mkString(" ")))        // fails type-token ratio
    val input = MemoryStream[(Long, String, String)]
    val filtered = graft.operators.TextAnalysis.qualityFilter(
      input.toDF().toDF("doc_id", "lang", "text"))
    val q = filtered.writeStream.format("memory").queryName("squality")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("squality").select($"doc_id").as[Long].collect().toSet
      val batch = graft.operators.TextAnalysis.qualityFilter(
        rows.toDF("doc_id", "lang", "text")).select($"doc_id").as[Long].collect().toSet
      assert(streamed == batch && streamed == Set(1L), s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming decontamination drops docs sharing grams with the static eval set") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    // static eval side: the 5-grams of one benchmark doc, as portable hashes
    val evalGrams = Seq("alpha beta gamma delta epsilon zeta")
      .toDF("text")
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("gram"))
    val input = MemoryStream[(Long, String)]
    val clean = StreamingOps.decontaminate(
      input.toDF().toDF("doc_id", "text"), evalGrams)
    val q = clean.writeStream.format("memory").queryName("sdecontam")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, "prefix alpha beta gamma delta epsilon suffix"), // leaks an eval 5-gram
        (1L, "a completely clean training document body"))
      q.processAllAvailable()
      input.addData((2L, "another clean one arriving later on"))
      q.processAllAvailable()
      val kept = spark.table("sdecontam").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L), s"got $kept")
    } finally q.stop()
  }

  test("composed ingest pipeline: each stage drops its target doc") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    val evalGrams = Seq("alpha beta gamma delta epsilon zeta")
      .toDF("text")
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("gram"))
    // 35 distinct tokens -> passes every quality rule
    def clean(seed: Int) = (1 to 35).map(i => s"tok${seed}x$i").mkString(" ")
    val contaminated = clean(7).split(" ").take(20).mkString(" ") +
      " alpha beta gamma delta epsilon " + clean(8).split(" ").take(20).mkString(" ")
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.ingestPipeline(input.toDF().toDF("doc_id", "text"), evalGrams)
    val q = out.writeStream.format("memory").queryName("singest")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, clean(1)),            // survives
        (1L, "too short"),         // quality drop
        (2L, contaminated))        // decontamination drop
      q.processAllAvailable()
      input.addData(
        (3L, clean(1)),            // exact dup of 0 -> dedup drop
        (4L, clean(2)))            // survives
      q.processAllAvailable()
      val kept = spark.table("singest").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("composed ingest with index tier: corpus dups drop before in-stream state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    val evalGrams = Seq("alpha beta gamma delta epsilon zeta")
      .toDF("text")
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("gram"))
    def clean(seed: Int) = (1 to 35).map(i => s"idx${seed}q$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft_ingestidx").toString
    graft.operators.Dedup.buildDedupIndex(
      Seq((100L, clean(5))).toDF("doc_id", "text"), idx)
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.ingestPipelineWithIndex(
      input.toDF().toDF("doc_id", "text"), evalGrams, idx)
    val q = out.writeStream.format("memory").queryName("singestidx")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, clean(1)),      // survives
        (1L, "too short"),   // quality drop (stateless)
        (2L, clean(5)))      // already in the CORPUS index -> anti-join drop
      q.processAllAvailable()
      input.addData(
        (3L, clean(1)),      // within-stream exact dup of 0 -> state drop
        (4L, clean(2)))      // survives
      q.processAllAvailable()
      val kept = spark.table("singestidx").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("file-source streaming: parquet directory -> windowed counts == batch") {
    // Real readStream over a parquet dir (the deploy shape), checked against
    // the batch aggregation of the same files.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batch = Seq(
      (ts("2024-01-01 00:10:00"), "click"),
      (ts("2024-01-01 00:55:00"), "click"),
      (ts("2024-01-01 01:05:00"), "view"))
      .toDF("ts", "event_type")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = StreamingOps.hourlyCounts(stream)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_hourly")
        .select(date_format($"window_start", "HH"), $"event_type", $"n_events")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(("00", "click", 2L), ("01", "view", 1L)))
    } finally q.stop()
  }

  test("stream-vs-corpus dedup drops indexed docs; an index extend takes effect next batch") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an indexed corpus document about distributed engines"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_streamidx").toString
    graft.operators.Dedup.buildDedupIndex(corpus, idx)
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.dedupAgainstIndex(input.toDF().toDF("doc_id", "text"), idx)
    val q = out.writeStream.format("memory").queryName("sidx")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog today"), // corpus dup: dropped
        (11L, "a brand new never indexed document body"))            // kept
      q.processAllAvailable()
      val kept = spark.table("sidx").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(11L), s"got $kept")
    } finally q.stop()
    // the accepted doc joins the index (the ingest loop); the static side's
    // file listing is captured at query start, so the extend takes effect
    // on query RESTART — the nightly-index-then-bounce deployment rhythm
    graft.operators.Dedup.extendDedupIndex(idx,
      Seq((11L, "a brand new never indexed document body")).toDF("doc_id", "text"))
    val input2 = MemoryStream[(Long, String)]
    val out2 = StreamingOps.dedupAgainstIndex(input2.toDF().toDF("doc_id", "text"), idx)
    val q2 = out2.writeStream.format("memory").queryName("sidx2")
      .outputMode("append").start()
    try {
      input2.addData(
        (12L, "a brand new never indexed document body"), // indexed since: dropped
        (13L, "and one more genuinely fresh document"))   // kept
      q2.processAllAvailable()
      val kept2 = spark.table("sidx2").select($"doc_id").as[Long].collect().toSet
      assert(kept2 == Set(13L), s"got $kept2")
    } finally q2.stop()
  }

  test("near-dup serve tier: per-batch verdicts == batch dedupAgainst; self-extending loop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val tau = 0.7
    def doc(seed: Int) = (1 to 30).map(i => s"w${seed}t$i").mkString(" ")
    // one token changed out of 30 -> 3 of ~28 shingles differ: J ~ 0.8 >= tau
    def nearOf(seed: Int) = (1 to 30).map(i => s"w${seed}t$i")
      .updated(14, "CHANGED").mkString(" ")
    val corpus = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_nearidx").toString
    Dedup.buildDedupIndex(corpus, idx)

    val b1 = Seq((10L, doc(1)), (11L, nearOf(2)), (12L, doc(5))) // exact/near/unique
    val b2 = Seq((20L, nearOf(5)), (21L, doc(9)))                // near-dup of b1's SURVIVOR
    type Verdict = (Long, Long, Long, String)
    def verdicts(df: org.apache.spark.sql.DataFrame): Set[Verdict] =
      df.select($"doc_id", $"exact_keeper", $"near_keeper", $"status")
        .as[(Long, Long, Long, String)].collect().toSet
    // expected = the BATCH serve path on the same splits, computed against
    // the index state each batch will see (b2's after b1's extend)
    val expected1 = verdicts(Dedup.dedupAgainst(idx, b1.toDF("doc_id", "text"), tau))
    assert(expected1.map(v => (v._1, v._4)) ==
      Set((10L, "exact_dup"), (11L, "near_dup"), (12L, "unique")))

    val got = scala.collection.mutable.Map[Long, Set[Verdict]]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupAgainstIndexNear(
        input.toDF().toDF("doc_id", "text"), idx, tau, extendIndex = true) {
      (annotated, batchId) => got(batchId) = verdicts(annotated)
    }.start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(got.values.flatten.toSet == expected1, s"batch1 got $got")
      // batch 1's survivor (doc 12) was appended to the index by the loop;
      // compute batch 2's expectation against that EXTENDED index, then
      // stream it — no restart between batches
      val expected2 = verdicts(Dedup.dedupAgainst(idx, b2.toDF("doc_id", "text"), tau))
      assert(expected2.map(v => (v._1, v._3, v._4)) ==
        Set((20L, 12L, "near_dup"), (21L, -1L, "unique")))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(got.values.flatten.toSet == expected1 ++ expected2, s"batch2 got $got")
    } finally q.stop()
  }

  test("serve-then-extend loop: a throwing sink releases both checkpoints and never extends") {
    // long-running ingest streams must not leak a materialized batch per
    // failure: the adapter owns the batch and served-frame checkpoints, and
    // the extend runs only after the sink returned
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    def doc(seed: Int) = (1 to 30).map(i => s"w${seed}t$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft_failidx").toString
    Dedup.buildDedupIndex(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), idx)
    def indexRows(): Set[String] = Seq("exact", "sets", "bands").flatMap(t =>
      spark.read.parquet(s"$idx/$t").collect().map(r => s"$t:$r")).toSet
    val rowsBefore = indexRows()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupAgainstIndexNear(
        input.toDF().toDF("doc_id", "text"), idx, 0.7, extendIndex = true) {
      (annotated, _) =>
        assert(annotated.where($"status" === "unique").count() == 2L)
        throw new IllegalStateException("sink down")
    }.start()
    try {
      // two unique docs: a wrongly-run extend would append both
      input.addData((10L, doc(5)), (11L, doc(6)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "sink down"), s"unexpected failure: $e")
    } finally q.stop()
    assert(sc.getPersistentRDDs.keySet == persistedBefore,
      "a failed batch left its checkpoints persisted")
    val rowsAfter = indexRows()
    assert(rowsAfter.size == rowsBefore.size && rowsAfter == rowsBefore,
      s"the extend ran although the sink threw: ${(rowsAfter -- rowsBefore).size} rows added")
  }

  test("vector serve tier: per-batch verdicts == batch vecDedupAgainst; self-extending loop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    val tau = 0.9
    // near-orthogonal basis-like vectors: distinct seeds (mod 8) have
    // cosine ~0.02, a perturbed copy has cosine ~0.9997
    def vec(seed: Int): Seq[Double] =
      (0 until 8).map(d => if (d == seed % 8) 1.0 else 0.01)
    def nearOf(seed: Int): Seq[Double] = vec(seed).updated((seed + 1) % 8, 0.05)
    val corpus = Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_vecserveidx").toString
    EmbeddingSearch.buildVecDedupIndex(corpus, idx)
    val b1 = Seq((10L, nearOf(1)), (11L, vec(5)))  // near-dup of corpus 1; unique
    val b2 = Seq((20L, nearOf(5)), (21L, vec(3)))  // near-dup of b1's SURVIVOR; unique
    def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
      df.select($"vec_id", $"near_keeper", $"status")
        .as[(Long, Long, String)].collect().toSet
    val expected1 = verdicts(EmbeddingSearch.vecDedupAgainst(idx, b1.toDF("vec_id", "embedding"), tau))
    assert(expected1 == Set((10L, 1L, "near_dup"), (11L, -1L, "unique")))
    val got = scala.collection.mutable.Map[Long, Set[(Long, Long, String)]]()
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.vecDedupAgainstIndexNear(
        input.toDF().toDF("vec_id", "embedding"), idx, tau, extendIndex = true) {
      (annotated, batchId) => got(batchId) = verdicts(annotated)
    }.start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(got.values.flatten.toSet == expected1, s"batch1 got $got")
      val expected2 = verdicts(EmbeddingSearch.vecDedupAgainst(idx, b2.toDF("vec_id", "embedding"), tau))
      assert(expected2 == Set((20L, 11L, "near_dup"), (21L, -1L, "unique")))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(got.values.flatten.toSet == expected1 ++ expected2, s"batch2 got $got")
    } finally q.stop()
  }

  test("stateless near-dup match stream: one row per pair, agrees with batch near tier") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    // stream doc 10 differs from corpus doc 1 in ONE token (J ~ 0.81) and
    // from corpus doc 2 in TWO tokens (6 of 34 union shingles differ,
    // J ~ 0.65) — tau must sit below both
    val tau = 0.6
    def doc(seed: Int) = (1 to 30).map(i => s"m${seed}t$i").mkString(" ")
    def variant(seed: Int, at: Int) = (1 to 30).map(i => s"m${seed}t$i")
      .updated(at, s"CHG$at").mkString(" ")
    // corpus docs 1 and 2 are both near-dups of the same family; stream doc
    // 10 (a third variant) must match BOTH, each exactly once — a highly
    // similar pair collides in MANY of the 16 bands, so the min-shared-band
    // filter is what keeps the count at one per pair
    val corpus = Seq((1L, doc(1)), (2L, variant(1, 5))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_matchidx").toString
    Dedup.buildDedupIndex(corpus, idx)
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.nearDupMatchesAgainstIndex(
      input.toDF().toDF("doc_id", "text"), idx, tau)
    val q = out.writeStream.format("memory").queryName("ndm")
      .outputMode("append").start()
    try {
      input.addData((10L, variant(1, 20)), (11L, doc(9)))
      q.processAllAvailable()
      val rows = spark.table("ndm")
        .select($"doc_id", $"near_match", $"jaccard")
        .as[(Long, Long, Double)].collect()
      assert(rows.length == 2, s"expected exactly one row per pair, got ${rows.toSeq}")
      assert(rows.map(r => (r._1, r._2)).toSet == Set((10L, 1L), (10L, 2L)))
      assert(rows.forall(_._3 >= tau))
      // the per-doc minimum match is the batch serve tier's near_keeper
      val batchKeeper = Dedup.dedupAgainst(idx,
          Seq((10L, variant(1, 20)), (11L, doc(9))).toDF("doc_id", "text"), tau)
        .select($"doc_id", $"near_keeper").as[(Long, Long)].collect().toMap
      assert(batchKeeper == Map(10L -> 1L, 11L -> -1L))
    } finally q.stop()
  }

  test("stateless image match stream: one row per pair even when all 4 chunks collide") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // corpus fingerprints: 100 is an EXACT dup of stream image 10 (shares
    // all 4 pigeonhole chunks — the min-shared-chunk rule is what keeps the
    // emit count at one), 101 is Hamming 2 (two low-bit flips in different
    // chunks -> 3 shared chunks), 102 is far away
    val fp = 0x0123456789ABL & ((1L << 48) - 1)
    val corpus = Seq((100L, fp), (101L, fp ^ (1L << 1) ^ (1L << 13)),
        (102L, ~fp & ((1L << 48) - 1)))
      .map { case (id, h) => Multimodal.PHashRow(id, h) }.toDS()
    val idx = java.nio.file.Files.createTempDirectory("graft_phash_stream").toString
    Multimodal.buildPhashIndex(corpus, idx)
    val input = MemoryStream[(Long, Long)]
    val out = StreamingOps.phashMatchesAgainstIndex(
      input.toDF().toDF("doc_id", "phash"), idx)
    val q = out.writeStream.format("memory").queryName("phm")
      .outputMode("append").start()
    try {
      input.addData((10L, fp), (11L, 0x800000000000L >> 1 | 1L))
      q.processAllAvailable()
      val rows = spark.table("phm")
        .select($"doc_id", $"corpus_match", $"hamming")
        .as[(Long, Long, Long)].collect()
      assert(rows.length == 2, s"expected one row per matching pair, got ${rows.toSeq}")
      assert(rows.map(r => (r._1, r._2, r._3)).toSet ==
        Set((10L, 100L, 0L), (10L, 101L, 2L)))
    } finally q.stop()
  }

  test("ingest pipeline end-to-end: file source directory -> file sink") {
    // The full deploy shape on real files: documents land in a parquet
    // directory, the composed ingest pipeline streams them, survivors land
    // in a parquet SINK (checkpointed) — then the sink is read back as a
    // batch table and checked. Same stage-per-doc fixture as the
    // MemoryStream test, so every stage's drop is exercised through the
    // file path too.
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    val evalGrams = Seq("alpha beta gamma delta epsilon zeta")
      .toDF("text")
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("gram"))
    def clean(seed: Int) = (1 to 35).map(i => s"tok${seed}x$i").mkString(" ")
    val contaminated = clean(7).split(" ").take(20).mkString(" ") +
      " alpha beta gamma delta epsilon " + clean(8).split(" ").take(20).mkString(" ")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ingest_src").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_ingest_sink").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ingest_ck").toString
    val first = Seq(
      (0L, clean(1)),            // survives
      (1L, "too short"),         // quality drop
      (2L, contaminated))        // decontamination drop
      .toDF("doc_id", "text")
    first.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(first.schema).parquet(srcDir)
    val q = StreamingOps.ingestPipeline(stream, evalGrams)
      .writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a LATER batch of files lands in the same directory — the dedup
      // state must span file-arrival boundaries, exactly as micro-batches
      Seq((3L, clean(1)),        // exact dup of doc 0 -> dedup drop
          (4L, clean(2)))        // survives
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val kept = spark.read.parquet(sinkDir).select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("stream-stream interval join: purchases match in-window clicks across batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingOps.clickAttribution(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      purchases.toDF().toDF("user_id", "event_id", "ts"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // batch 1: clicks only — buffered in state, no output yet
      clicks.addData((1L, 10L, ts("2024-01-01 10:00:00")),
        (1L, 11L, ts("2024-01-01 10:50:00")),
        (2L, 20L, ts("2024-01-01 08:00:00"))) // too old for user 2's purchase
      q.processAllAvailable()
      // batch 2: purchases arrive later — must still match buffered clicks
      purchases.addData((1L, 100L, ts("2024-01-01 10:55:00")),
        (2L, 200L, ts("2024-01-01 10:30:00")),
        (3L, 300L, ts("2024-01-01 12:00:00"))) // no clicks at all
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select($"user_id", $"purchase_id", $"click_id").as[(Long, Long, Long)]
        .collect().toSet
      // user 1: both clicks in [09:55, 10:55]; user 2: click outside window;
      // user 3: nothing — inner join emits only real matches
      assert(got == Set((1L, 100L, 10L), (1L, 100L, 11L)), s"got $got")
    } finally q.stop()
  }

  test("streaming daily-aggregate maintenance merges batches into the partitioned table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_daily_").toString
    val table = s"$dir/daily"
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.maintainDailyAggregates(
        input.toDF().toDF("ts", "event_type", "value"), table)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // batch 1: two days
      input.addData(
        (ts("2024-01-01 10:00:00"), "click", 1.0),
        (ts("2024-01-01 11:00:00"), "click", 3.0),
        (ts("2024-01-02 09:00:00"), "view", 5.0))
      q.processAllAvailable()
      // batch 2 overlaps day 2024-01-02 — its partials must MERGE, and
      // day 2024-01-01 must survive the dynamic-partition overwrite intact
      input.addData(
        (ts("2024-01-02 10:00:00"), "view", 7.0),
        (ts("2024-01-02 11:00:00"), "click", 2.0),
        (ts("2024-01-03 08:00:00"), "view", 4.0))
      q.processAllAvailable()
      val got = spark.read.parquet(table)
        .select($"event_day".cast("long"), $"event_type", $"n_events",
          $"sum_value_dec".cast("double"), $"min_value", $"max_value")
        .as[(Long, String, Long, Double, Double, Double)].collect().toSet
      val d1 = ts("2024-01-01 00:00:00").getTime / 86400000L
      assert(got == Set(
        (d1, "click", 2L, 4.0, 1.0, 3.0),
        (d1 + 1, "view", 2L, 12.0, 5.0, 7.0),
        (d1 + 1, "click", 1L, 2.0, 2.0, 2.0),
        (d1 + 2, "view", 1L, 4.0, 4.0, 4.0)), s"got $got")
    } finally q.stop()
  }

  test("native session_window stream: sessions close and evict past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    input.addData(
      (ts("2024-01-01 00:00:00"), 7L),
      (ts("2024-01-01 00:10:00"), 7L),
      (ts("2024-01-01 00:05:00"), 8L))
    val q = StreamingOps.sessionizeNativeStream(
        input.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark hasn't passed the session ends yet — nothing emits
      assert(spark.table("native_sessions").count() == 0)
      // 3 hours later: watermark (max event time − 1h) clears both sessions
      input.addData((ts("2024-01-01 03:00:00"), 9L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 03:00:01"), 9L)) // advance once more
      q.processAllAvailable()
      val got = spark.table("native_sessions")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(got == Set((7L, 2L), (8L, 1L)), s"got $got")
    } finally q.stop()
  }

  test("streaming anomaly detection flags the spike hour with the batch integer rule") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    def hour(h: Int, n: Int): Seq[(Timestamp, String)] =
      (1 to n).map(i => (ts(f"2024-01-01 $h%02d:${i % 60}%02d:00"), "click"))
    // batch 1: five baseline hours (count 2) — nothing can close-and-flag yet
    input.addData(hour(0, 2) ++ hour(1, 2) ++ hour(2, 2) ++ hour(3, 2) ++ hour(4, 2): _*)
    val q = StreamingOps.anomalyStream(
        input.toDF().toDF("ts", "event_type"), lookback = 48, minObs = 4)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: hour 5 spikes to 20; hour 6 arrives and closes it
      input.addData(hour(5, 20) ++ hour(6, 1): _*)
      q.processAllAvailable()
      val got = spark.table("anomalies")
        .select($"hour_epoch", $"n_events", $"trailing_cnt", $"trailing_sum")
        .as[(Long, Long, Long, Long)].collect().toSet
      val h5 = ts("2024-01-01 05:00:00").getTime / 3600000L * 3600L
      // only the spike hour flags: baseline hours have n·m == S (zero
      // deviation); hour 5 sees trail {2,2,2,2,2}: (20·5−10)² > 9·(5·20−100)
      assert(got == Set((h5, 20L, 5L, 10L)), s"got $got")
      // a late event for an already-closed hour must be dropped, not
      // re-open the bucket (the explicit-state watermark analog)
      input.addData((ts("2024-01-01 03:30:00"), "click"))
      q.processAllAvailable()
      assert(spark.table("anomalies").count() == 1)
    } finally q.stop()
  }

  test("stateful sessionization closes a session across a >30min gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(7L, ts("2024-01-01 00:00:00"), 1L),
      Event(7L, ts("2024-01-01 00:10:00"), 2L),
      Event(7L, ts("2024-01-01 01:00:00"), 3L), // 50-min gap -> new session
      Event(8L, ts("2024-01-01 00:00:00"), 4L))
    val sessions = StreamingOps.sessionize(input.toDS(), idleTimeout = false)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // Only sessions CLOSED by a later event are emitted in append mode;
      // user 7's first session (2 events, 10 min) is the one closed so far.
      val got = spark.table("sessions")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(got == Set((7L, 2L)))
    } finally q.stop()
  }

  test("streaming PII scrub rewrites text in-band, other columns preserved") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val out = StreamingOps.scrubPii(
      input.toDF().toDF("doc_id", "text", "source"))
    val q = out.writeStream.format("memory").queryName("spii")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, "mail me at bob@example.com or 415-555-0000 via https://x.example/a now", "web"),
        (1L, "no pii here at all", "book"))
      q.processAllAvailable()
      val got = spark.table("spii").select($"doc_id", $"text", $"source")
        .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
      assert(got(0L)._2 == "mail me at <EMAIL> or <PHONE> via <URL> now")
      assert(got(0L)._3 == "web" && got(1L)._2 == "no pii here at all")
      // matches the batch operator's rewrite exactly
      val batch = graft.operators.TextAnalysis.piiScrub(
        Seq((0L, "mail me at bob@example.com or 415-555-0000 via https://x.example/a now"))
          .toDF("doc_id", "text")).select($"clean_text").as[String].head()
      assert(batch == got(0L)._2)
    } finally q.stop()
  }

  test("LM model serve: streamed scores equal batch self-scores on covered docs; OOV finite") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    def doc(seed: Int) = (1 to 20).map(i => s"lm${seed}w${i % 7}").mkString(" ")
    val corpus = Seq((0L, doc(1)), (1L, doc(2)), (2L, doc(1))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_lmidx").toString
    TextAnalysis.buildLmIndex(corpus, idx)
    // self-scores of the corpus under its own model (the oracled batch path)
    val self = TextAnalysis.lmScore(corpus)
      .select($"doc_id", $"n_tokens", $"avg_logprob")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val got = scala.collection.mutable.Map.empty[Long, (Long, Double)]
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.eachBatch(input.toDF().toDF("doc_id", "text"))(
        TextAnalysis.lmScoreWithModel(_, idx)) { (scores, _) =>
      scores.select($"doc_id", $"n_tokens", $"avg_logprob")
        .as[(Long, Long, Double)].collect()
        .foreach(r => got(r._1) = (r._2, r._3))
    }.start()
    try {
      input.addData(
        (10L, doc(1)),                       // covered: same text as corpus doc 0
        (11L, "zzq wholly unseen tokens"))   // fully OOV
      q.processAllAvailable()
      assert(got(10L) == self(0L), s"covered doc drifted: ${got(10L)} vs ${self(0L)}")
      val (nTok, lp) = got(11L)
      assert(nTok == 4L && !lp.isNaN && !lp.isInfinite && lp < 0.0,
        s"OOV doc score malformed: $nTok tokens, lp=$lp")
    } finally q.stop()
  }

  test("classifier model serve: streamed scores equal the persisted batch serve, zero retrains") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_clf_sidx").toString + "/m"
    TextAnalysis.saveClassifierModel(TextAnalysis.qualityClassifierWeights(corpus), idx)
    val batchServe = TextAnalysis
      .scoreWithClassifier(corpus, TextAnalysis.loadClassifierModel(spark, idx))
      .select($"doc_id", $"score", $"predicted")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val sample = corpus.select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().take(5)
    val got = scala.collection.mutable.Map.empty[Long, (Double, Long)]
    val before = TextAnalysis.classifierTrainings.get()
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingOps.eachBatch(input.toDF().toDF("doc_id", "text", "lang"))(b =>
        TextAnalysis.scoreWithClassifier(b,
          TextAnalysis.loadClassifierModel(b.sparkSession, idx))) { (scores, _) =>
      scores.select($"doc_id", $"score", $"predicted")
        .as[(Long, Double, Long)].collect().foreach(r => got(r._1) = (r._2, r._3))
    }.start()
    try {
      input.addData(sample.toIndexedSeq)
      q.processAllAvailable()
      sample.foreach { case (id, _, _) =>
        assert(got(id) == batchServe(id), s"doc $id drifted: ${got(id)} vs ${batchServe(id)}")
      }
      assert(TextAnalysis.classifierTrainings.get() == before,
        "streaming serve must never train")
    } finally q.stop()
  }

  test("BPE model serve: streamed token counts equal the persisted batch serve, zero retrains") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_bpe_sidx").toString + "/m"
    TextAnalysis.saveBpeModel(TextAnalysis.bpeMerges(corpus), idx)
    val batchServe = TextAnalysis
      .bpeTokenCountsWith(corpus, TextAnalysis.loadBpeMerges(spark, idx))
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val sample = corpus.select($"doc_id", $"text")
      .as[(Long, String)].collect().take(5)
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val before = TextAnalysis.bpeTrainings.get()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.eachBatch(input.toDF().toDF("doc_id", "text"))(b =>
        TextAnalysis.bpeTokenCountsWith(b,
          TextAnalysis.loadBpeMerges(b.sparkSession, idx))) { (counts, _) =>
      counts.select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens")
        .as[(Long, Long, Long, Long)].collect()
        .foreach(r => got(r._1) = (r._2, r._3, r._4))
    }.start()
    try {
      input.addData(sample.toIndexedSeq)
      q.processAllAvailable()
      sample.foreach { case (id, _) =>
        assert(got(id) == batchServe(id), s"doc $id drifted: ${got(id)} vs ${batchServe(id)}")
      }
      assert(TextAnalysis.bpeTrainings.get() == before,
        "streaming serve must never train")
    } finally q.stop()
  }

  test("k-means quantizer serve: streamed cell routing equals the batch serve, zero retrains") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_km_sidx").toString + "/m"
    EmbeddingSearch.saveKmeansIndex(EmbeddingSearch.trainKmeansIndex(
      emb.select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v"))), idx)
    val batchServe = EmbeddingSearch
      .assignWithIndex(emb, EmbeddingSearch.loadKmeansIndex(spark, idx))
      .select($"cl", $"vec_id", $"centrality")
      .as[(Int, Long, Double)].collect().map(r => r._2 -> (r._1, r._3)).toMap
    val sample = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().take(5)
    val got = scala.collection.mutable.Map.empty[Long, (Int, Double)]
    val before = EmbeddingSearch.kmeansTrainings.get()
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.eachBatch(input.toDF().toDF("vec_id", "embedding"))(b =>
        EmbeddingSearch.assignWithIndex(b,
          EmbeddingSearch.loadKmeansIndex(b.sparkSession, idx))) { (routed, _) =>
      routed.select($"cl", $"vec_id", $"centrality")
        .as[(Int, Long, Double)].collect().foreach(r => got(r._2) = (r._1, r._3))
    }.start()
    try {
      input.addData(sample.toIndexedSeq)
      q.processAllAvailable()
      sample.foreach { case (id, _) =>
        assert(got(id) == batchServe(id), s"vec $id drifted: ${got(id)} vs ${batchServe(id)}")
      }
      assert(EmbeddingSearch.kmeansTrainings.get() == before,
        "streaming serve must never train")
    } finally q.stop()
  }

  test("classifier serve survives a checkpointed stop/restart (VERDICT r8 item 5)") {
    // the SpaceSaving restart contract applied to the classifier serve
    // tier: kill the query, start a NEW instance on the same checkpoint —
    // already-served batches must NOT replay (exactly-once offsets), new
    // batches must score identically to the batch serve, zero trainings
    import graft.operators.TextAnalysis
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft_clf_restart").toString
    val modelPath = s"$root/m"; val srcDir = s"$root/src"; val ck = s"$root/ck"
    TextAnalysis.saveClassifierModel(TextAnalysis.qualityClassifierWeights(corpus), modelPath)
    val cols = corpus.select($"doc_id", $"text", $"lang")
    val batch1 = cols.where($"doc_id" < 10)
    val batch2 = cols.where($"doc_id" >= 10 && $"doc_id" < 20)
    val ids1 = batch1.select($"doc_id").as[Long].collect().toSet
    val ids2 = batch2.select($"doc_id").as[Long].collect().toSet
    assert(ids1.nonEmpty && ids2.nonEmpty)
    val want = TextAnalysis
      .scoreWithClassifier(cols.where($"doc_id" < 20),
        TextAnalysis.loadClassifierModel(spark, modelPath))
      .select($"doc_id", $"score", $"predicted")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    StreamingSpec.clfRestartRows.clear()
    val before = TextAnalysis.classifierTrainings.get()
    batch1.write.mode("overwrite").parquet(srcDir)
    def startQuery() = StreamingOps.eachBatch(
        spark.readStream.schema(batch1.schema).parquet(srcDir))(b =>
        TextAnalysis.scoreWithClassifier(b,
          TextAnalysis.loadClassifierModel(b.sparkSession, modelPath))) { (scores, _) =>
      StreamingSpec.clfRestartRows ++= scores.select($"doc_id", $"score", $"predicted")
        .as[(Long, Double, Long)].collect()
      ()
    }.option("checkpointLocation", ck).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.clfRestartRows.length
    assert(StreamingSpec.clfRestartRows.map(_._1).toSet == ids1)
    batch2.write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val q2Rows = StreamingSpec.clfRestartRows.drop(afterQ1).toList
    assert(q2Rows.map(_._1).toSet == ids2,
      s"restarted instance must serve exactly the new batch (no replay of " +
        s"batch-1 ids): ${q2Rows.map(_._1).toSet}")
    StreamingSpec.clfRestartRows.foreach { case (id, sc, p) =>
      assert(want(id) == ((sc, p)), s"doc $id drifted across restart: ($sc, $p) vs ${want(id)}")
    }
    assert(TextAnalysis.classifierTrainings.get() == before,
      "serve tier trained across stop/restart")
  }

  test("WIDE classifier serve survives a checkpointed stop/restart") {
    // the classifier restart contract on the production-width tier: the
    // weight TABLE is joined (never inlined as a dims-sized literal
    // plan), so this is the streaming twin of scoreWithClassifierWide —
    // same exactly-once offsets, same zero-trainings guarantee, rows
    // identical to the batch wide serve
    import graft.operators.TextAnalysis
    val dims = 256
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft_clfw_restart").toString
    val modelPath = s"$root/m"; val srcDir = s"$root/src"; val ck = s"$root/ck"
    TextAnalysis.saveClassifierModel(
      TextAnalysis.qualityClassifierWeightsWide(corpus, dims = dims), modelPath)
    val cols = corpus.select($"doc_id", $"text")
    val batch1 = cols.where($"doc_id" < 10)
    val batch2 = cols.where($"doc_id" >= 10 && $"doc_id" < 20)
    val ids1 = batch1.select($"doc_id").as[Long].collect().toSet
    val ids2 = batch2.select($"doc_id").as[Long].collect().toSet
    assert(ids1.nonEmpty && ids2.nonEmpty)
    val want = TextAnalysis
      .scoreWithClassifierWide(cols.where($"doc_id" < 20),
        TextAnalysis.loadClassifierModel(spark, modelPath), dims)
      .select($"doc_id", $"score", $"predicted")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    StreamingSpec.clfWideRestartRows.clear()
    val before = TextAnalysis.classifierTrainings.get()
    batch1.write.mode("overwrite").parquet(srcDir)
    def startQuery() = StreamingOps.eachBatch(
        spark.readStream.schema(batch1.schema).parquet(srcDir))(b =>
        TextAnalysis.scoreWithClassifierWide(b,
          TextAnalysis.loadClassifierModel(b.sparkSession, modelPath), dims)) { (scores, _) =>
      StreamingSpec.clfWideRestartRows ++= scores.select($"doc_id", $"score", $"predicted")
        .as[(Long, Double, Long)].collect()
      ()
    }.option("checkpointLocation", ck).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.clfWideRestartRows.length
    assert(StreamingSpec.clfWideRestartRows.map(_._1).toSet == ids1)
    batch2.write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val q2Rows = StreamingSpec.clfWideRestartRows.drop(afterQ1).toList
    assert(q2Rows.map(_._1).toSet == ids2,
      s"restarted instance must serve exactly the new batch (no replay of " +
        s"batch-1 ids): ${q2Rows.map(_._1).toSet}")
    StreamingSpec.clfWideRestartRows.foreach { case (id, sc, p) =>
      assert(want(id) == ((sc, p)), s"doc $id drifted across restart: ($sc, $p) vs ${want(id)}")
    }
    assert(TextAnalysis.classifierTrainings.get() == before,
      "serve tier trained across stop/restart")
  }

  test("BPE token serve survives a checkpointed stop/restart (VERDICT r8 item 5)") {
    import graft.operators.TextAnalysis
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft_bpe_restart").toString
    val modelPath = s"$root/m"; val srcDir = s"$root/src"; val ck = s"$root/ck"
    TextAnalysis.saveBpeModel(TextAnalysis.bpeMerges(corpus), modelPath)
    val cols = corpus.select($"doc_id", $"text")
    val batch1 = cols.where($"doc_id" < 10)
    val batch2 = cols.where($"doc_id" >= 10 && $"doc_id" < 20)
    val ids1 = batch1.select($"doc_id").as[Long].collect().toSet
    val ids2 = batch2.select($"doc_id").as[Long].collect().toSet
    assert(ids1.nonEmpty && ids2.nonEmpty)
    val want = TextAnalysis
      .bpeTokenCountsWith(cols.where($"doc_id" < 20),
        TextAnalysis.loadBpeMerges(spark, modelPath))
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    StreamingSpec.bpeRestartRows.clear()
    val before = TextAnalysis.bpeTrainings.get()
    batch1.write.mode("overwrite").parquet(srcDir)
    def startQuery() = StreamingOps.eachBatch(
        spark.readStream.schema(batch1.schema).parquet(srcDir))(b =>
        TextAnalysis.bpeTokenCountsWith(b,
          TextAnalysis.loadBpeMerges(b.sparkSession, modelPath))) { (counts, _) =>
      StreamingSpec.bpeRestartRows ++=
        counts.select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens")
          .as[(Long, Long, Long, Long)].collect()
      ()
    }.option("checkpointLocation", ck).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.bpeRestartRows.length
    assert(StreamingSpec.bpeRestartRows.map(_._1).toSet == ids1)
    batch2.write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val q2Rows = StreamingSpec.bpeRestartRows.drop(afterQ1).toList
    assert(q2Rows.map(_._1).toSet == ids2,
      s"restarted instance must serve exactly the new batch (no replay): " +
        s"${q2Rows.map(_._1).toSet}")
    StreamingSpec.bpeRestartRows.foreach { case (id, w, c, t) =>
      assert(want(id) == ((w, c, t)),
        s"doc $id drifted across restart: ($w, $c, $t) vs ${want(id)}")
    }
    assert(TextAnalysis.bpeTrainings.get() == before,
      "serve tier trained across stop/restart")
  }

  test("quantizer serve survives a checkpointed stop/restart (VERDICT r9 stretch)") {
    // the classifier/BPE restart contract applied to the k-means serve
    // tier: kill the query, start a NEW instance on the same checkpoint —
    // already-routed batches must NOT replay (exactly-once offsets), new
    // batches route identically to the batch serve, zero trainings
    import graft.operators.EmbeddingSearch
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft_km_restart").toString
    val modelPath = s"$root/m"; val srcDir = s"$root/src"; val ck = s"$root/ck"
    EmbeddingSearch.saveKmeansIndex(EmbeddingSearch.trainKmeansIndex(
      emb.select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v"))),
      modelPath)
    val cols = emb.select($"vec_id", $"embedding")
    val batch1 = cols.where($"vec_id" < 10)
    val batch2 = cols.where($"vec_id" >= 10 && $"vec_id" < 20)
    val ids1 = batch1.select($"vec_id").as[Long].collect().toSet
    val ids2 = batch2.select($"vec_id").as[Long].collect().toSet
    assert(ids1.nonEmpty && ids2.nonEmpty)
    val want = EmbeddingSearch
      .assignWithIndex(cols.where($"vec_id" < 20),
        EmbeddingSearch.loadKmeansIndex(spark, modelPath))
      .select($"cl", $"vec_id", $"centrality")
      .as[(Int, Long, Double)].collect().map(r => r._2 -> (r._1, r._3)).toMap
    StreamingSpec.kmRestartRows.clear()
    val before = EmbeddingSearch.kmeansTrainings.get()
    batch1.write.mode("overwrite").parquet(srcDir)
    def startQuery() = StreamingOps.eachBatch(
        spark.readStream.schema(batch1.schema).parquet(srcDir))(b =>
        EmbeddingSearch.assignWithIndex(b,
          EmbeddingSearch.loadKmeansIndex(b.sparkSession, modelPath))) { (routed, _) =>
      StreamingSpec.kmRestartRows ++= routed.select($"cl", $"vec_id", $"centrality")
        .as[(Int, Long, Double)].collect()
      ()
    }.option("checkpointLocation", ck).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.kmRestartRows.length
    assert(StreamingSpec.kmRestartRows.map(_._2).toSet == ids1)
    batch2.write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val q2Rows = StreamingSpec.kmRestartRows.drop(afterQ1).toList
    assert(q2Rows.map(_._2).toSet == ids2,
      s"restarted instance must route exactly the new batch (no replay): " +
        s"${q2Rows.map(_._2).toSet}")
    StreamingSpec.kmRestartRows.foreach { case (cl, id, cen) =>
      assert(want(id) == ((cl, cen)), s"vec $id drifted across restart: ($cl, $cen) vs ${want(id)}")
    }
    assert(EmbeddingSearch.kmeansTrainings.get() == before,
      "serve tier trained across stop/restart")
  }

  test("line-dedup serve: indexed boilerplate lines stripped from streamed docs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // 10-token lines; the boiler line appears in both corpus docs
    val boilerLine = (1 to 10).map(i => s"cookie$i").mkString(" ")
    def uniq(seed: Int) = (1 to 10).map(i => s"u${seed}v$i").mkString(" ")
    val corpus = Seq(
      (0L, s"$boilerLine ${uniq(1)}"),
      (1L, s"$boilerLine ${uniq(2)}")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_blidx").toString
    TextAnalysis.buildBoilerplateIndex(corpus, idx)
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.eachBatch(input.toDF().toDF("doc_id", "text"))(
        TextAnalysis.lineDedupFromIndex(_, idx)) { (cleaned, _) =>
      cleaned.select($"doc_id", $"n_lines", $"n_kept", $"clean_text")
        .as[(Long, Long, Long, String)].collect()
        .foreach(r => got(r._1) = (r._2, r._3, r._4))
    }.start()
    try {
      input.addData((20L, s"$boilerLine ${uniq(9)}"), (21L, uniq(8)))
      q.processAllAvailable()
      assert(got(20L) == (2L, 1L, uniq(9)), s"boiler line survived: ${got(20L)}")
      assert(got(21L) == (1L, 1L, uniq(8)))
      // param-mismatched serve is refused loudly
      val err = intercept[IllegalArgumentException] {
        TextAnalysis.lineDedupFromIndex(corpus, idx, lineTokens = 5)
      }
      assert(err.getMessage.contains("params"))
    } finally q.stop()
  }

  test("hygiene ingest: docs differing only in PII collapse as duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    val evalGrams = Seq("alpha beta gamma delta epsilon zeta")
      .toDF("text")
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("gram"))
    def clean(seed: Int) = (1 to 35).map(i => s"pp${seed}h$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.ingestPipelineHygiene(
      input.toDF().toDF("doc_id", "text"), evalGrams)
    val q = out.writeStream.format("memory").queryName("shygiene")
      .outputMode("append").start()
    try {
      input.addData((0L, clean(1) + " write a@example.com"))
      q.processAllAvailable()
      input.addData(
        (1L, clean(1) + " write b@example.org"), // same text after scrub -> dup
        (2L, clean(2)))                          // survives
      q.processAllAvailable()
      val rows = spark.table("shygiene").select($"doc_id", $"text")
        .as[(Long, String)].collect().toMap
      assert(rows.keySet == Set(0L, 2L), s"got ${rows.keySet}")
      assert(rows(0L).endsWith("write <EMAIL>"), s"text not scrubbed: ${rows(0L)}")
    } finally q.stop()
  }

  test("interval lookup runs stream-static: stateless band probe on a live stream") {
    // the rate-table/IP-range shape at ingest: the interval table is the
    // static side (band-exploded once per plan), the stream probes its own
    // band — ZERO streaming state, append mode, same banding-invariant
    // result as the batch op
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Scale
    val intervals = Seq((0L, 0.0, 10.0), (1L, 5.0, 15.0), (2L, 40.0, 140.0))
      .toDF("iid", "lo", "hi")
    val input = MemoryStream[(Long, Double)]
    val joined = Scale.intervalJoin(
      input.toDF().toDF("pid", "p"), intervals, "p", "lo", "hi", bandWidth = 7.0)
    val q = joined.writeStream.format("memory").queryName("sinterval")
      .outputMode("append").start()
    try {
      input.addData((100L, 7.0), (101L, 20.0))
      q.processAllAvailable()
      input.addData((102L, 140.0), (103L, 0.0))
      q.processAllAvailable()
      val got = spark.table("sinterval")
        .select($"pid".as[Long], $"iid".as[Long]).collect().toSet
      // 7.0 is in BOTH overlapping intervals; 20.0 in none; boundaries hit
      assert(got == Set((100L, 0L), (100L, 1L), (102L, 2L), (103L, 0L)), s"got $got")
    } finally q.stop()
  }

  test("ingest chain publishes survivors through the graft-text sink; replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions.shingleSet
    import graft.functions.HashFunctions.hashSet
    val evalGrams = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("gram"))
    def clean(seed: Int) = (1 to 35).map(i => s"pub${seed}w$i").mkString(" ")
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_pub").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.publishCorpus(
      StreamingOps.ingestPipelineHygiene(input.toDF().toDF("doc_id", "text"), evalGrams),
      corpusDir).start()
    try {
      input.addData((1L, clean(1)), (2L, "too short to pass quality"))
      q.processAllAvailable()
      // batch 2: a dup of doc 1 (suppressed by state) + a fresh survivor
      input.addData((3L, clean(1)), (4L, clean(4)))
      q.processAllAvailable()
      val published = graft.sources.Tables.wholeTextDocumentsV2(spark, corpusDir)
        .select($"doc_id".as[String], $"text".as[String]).collect().toMap
      assert(published.keySet == Set("1", "4"), s"got ${published.keySet}")
      assert(published("1") == clean(1) && published("4") == clean(4))
      // re-publishing the same survivors (the crash-replay shape) converges
      // to the same files — no duplicates, same bytes
      Seq(("1", clean(1))).toDF("doc_id", "text")
        .write.format("graft-text").mode("append").save(corpusDir)
      val after = graft.sources.Tables.wholeTextDocumentsV2(spark, corpusDir)
        .select($"doc_id".as[String], $"text".as[String]).collect().toMap
      assert(after == published)
    } finally q.stop()
  }

  test("watermarked phash dedup: in-window dup images suppressed, late dup re-admitted") {
    implicit val sqlCtx = spark.sqlContext
    val A = 0x123456789ABL; val B = 0xF0F0F0F0F0F0L; val C = 0x0F0F0F0F0F0FL
    val input = MemoryStream[(Long, Timestamp, Long)]
    val deduped = StreamingOps.dedupWithinWatermark(
      input.toDF().toDF("doc_id", "ts", "phash"), "phash", "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sphashwm")
      .outputMode("append").start()
    try {
      input.addData((0L, ts("2024-01-01 00:00:00"), A), (1L, ts("2024-01-01 00:10:00"), B))
      q.processAllAvailable()
      // dup of image 0's fingerprint well inside the 1h watermark -> suppressed
      input.addData((2L, ts("2024-01-01 00:20:00"), A))
      q.processAllAvailable()
      // advance the watermark far past A's state lifetime (00:00 + 1h)
      input.addData((3L, ts("2024-01-01 04:00:00"), C))
      q.processAllAvailable()
      // LATE-arriving duplicate image: same fingerprint as image 0, event
      // time after the advanced watermark, state long evicted -> re-admitted
      // (the documented two-tier trade; the batch phash sweep catches it)
      input.addData((4L, ts("2024-01-01 03:30:00"), A))
      q.processAllAvailable()
      val kept = spark.table("sphashwm").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 1L, 3L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("image serve tier: per-batch verdicts == batch phashDedupAgainst; self-extending loop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // X and Y share no low-Hamming relationship (24 bits apart); X2 is
    // Hamming-2 from X (one flipped bit pair inside a single 12-bit chunk)
    val X = 0x123456789ABL; val Y = X ^ 0xFFFFFF000000L; val X2 = X ^ 0x3L
    val corpus = Seq(Multimodal.PHashRow(100L, X)).toDS()
    val idx = java.nio.file.Files.createTempDirectory("graft_phserveidx").toString
    Multimodal.buildPhashIndex(corpus, idx)
    def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select($"doc_id", $"status").as[(Long, String)].collect().toSet
    val got = scala.collection.mutable.Map[Long, Set[(Long, String)]]()
    val input = MemoryStream[(Long, Long)]
    val q = StreamingOps.phashDedupAgainstIndexNear(
        input.toDF().toDF("doc_id", "phash"), idx, extendIndex = true) {
      (annotated, batchId) => got(batchId) = verdicts(annotated)
    }.start()
    try {
      // batch 1: near-dup of corpus image; a genuinely new image
      input.addData((10L, X2), (11L, Y))
      q.processAllAvailable()
      assert(got.values.flatten.toSet == Set((10L, "dup"), (11L, "unique")), s"got $got")
      // batch 1's survivor (11, Y) was appended by the loop: an exact dup of
      // it in batch 2 must now be a dup WITHOUT any restart
      input.addData((20L, Y))
      q.processAllAvailable()
      assert(got.values.flatten.toSet ==
        Set((10L, "dup"), (11L, "unique"), (20L, "dup")), s"got $got")
      // and the closest-match verdict agrees with the batch serve path
      val batchView = Multimodal.phashDedupAgainst(idx,
        Seq(Multimodal.PHashRow(30L, X2)).toDS())
      assert(batchView.select($"dup_of").as[Long].collect().toSet == Set(100L))
    } finally q.stop()
  }

  test("watermarked audio dedup: in-window dup clips suppressed, late dup re-admitted") {
    implicit val sqlCtx = spark.sqlContext
    val A = 0x123456789ABL; val B = 0xF0F0F0F0F0F0L; val C = 0x0F0F0F0F0F0FL
    val input = MemoryStream[(Long, Timestamp, Long)]
    val deduped = StreamingOps.dedupWithinWatermark(
      input.toDF().toDF("doc_id", "ts", "afp"), "afp", "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("saudiowm")
      .outputMode("append").start()
    try {
      input.addData((0L, ts("2024-01-01 00:00:00"), A), (1L, ts("2024-01-01 00:10:00"), B))
      q.processAllAvailable()
      // dup of clip 0's fingerprint well inside the 1h watermark -> suppressed
      input.addData((2L, ts("2024-01-01 00:20:00"), A))
      q.processAllAvailable()
      // advance the watermark far past A's state lifetime
      input.addData((3L, ts("2024-01-01 04:00:00"), C))
      q.processAllAvailable()
      // LATE-arriving duplicate clip: state long evicted -> re-admitted
      // (the two-tier trade; the batch audioNearDupPairs sweep catches it)
      input.addData((4L, ts("2024-01-01 03:30:00"), A))
      q.processAllAvailable()
      val kept = spark.table("saudiowm").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 1L, 3L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("audio serve tier: per-batch verdicts == batch audioDedupAgainst; self-extending loop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val X = 0x123456789ABL; val Y = X ^ 0xFFFFFF000000L; val X2 = X ^ 0x3L
    val corpus = Seq(Multimodal.AudioFpRow(100L, X)).toDS()
    val idx = java.nio.file.Files.createTempDirectory("graft_afpserveidx").toString
    Multimodal.buildAudioFpIndex(corpus, idx)
    def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select($"doc_id", $"status").as[(Long, String)].collect().toSet
    val got = scala.collection.mutable.Map[Long, Set[(Long, String)]]()
    val input = MemoryStream[(Long, Long)]
    val q = StreamingOps.audioDedupAgainstIndexNear(
        input.toDF().toDF("doc_id", "afp"), idx, extendIndex = true) {
      (annotated, batchId) => got(batchId) = verdicts(annotated)
    }.start()
    try {
      // batch 1: near-dup of the corpus clip; a genuinely new clip
      input.addData((10L, X2), (11L, Y))
      q.processAllAvailable()
      assert(got.values.flatten.toSet == Set((10L, "dup"), (11L, "unique")), s"got $got")
      // batch 1's survivor was appended by the loop: an exact dup of it in
      // batch 2 must be a dup WITHOUT any restart
      input.addData((20L, Y))
      q.processAllAvailable()
      assert(got.values.flatten.toSet ==
        Set((10L, "dup"), (11L, "unique"), (20L, "dup")), s"got $got")
      // the closest-match verdict agrees with the batch serve path
      val batchView = Multimodal.audioDedupAgainst(idx,
        Seq(Multimodal.AudioFpRow(30L, X2)).toDS())
      assert(batchView.select($"dup_of").as[Long].collect().toSet == Set(100L))
    } finally q.stop()
  }

  test("stateless video match stream: one row per pair even when all chunks collide") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // corpus fingerprints: 100 is an EXACT dup of stream video 10 (shares
    // every sharded key — the min-shared-key rule keeps the emit count at
    // one), 101 is Hamming 2, 102 is far away
    val fp = 0x0123456789ABL & ((1L << 48) - 1)
    val corpus = Seq((100L, fp), (101L, fp ^ (1L << 1) ^ (1L << 13)),
        (102L, ~fp & ((1L << 48) - 1)))
      .map { case (id, h) => Multimodal.VideoFpRow(id, h) }.toDS()
    val idx = java.nio.file.Files.createTempDirectory("graft_vfp_stream").toString
    Multimodal.buildVideoFpIndex(corpus, idx)
    val input = MemoryStream[(Long, Long)]
    val out = StreamingOps.videoMatchesAgainstIndex(
      input.toDF().toDF("doc_id", "vfp"), idx)
    val q = out.writeStream.format("memory").queryName("vfm")
      .outputMode("append").start()
    try {
      input.addData((10L, fp), (11L, 0x800000000000L >> 1 | 1L))
      q.processAllAvailable()
      val rows = spark.table("vfm")
        .select($"doc_id", $"corpus_match", $"hamming")
        .as[(Long, Long, Long)].collect()
      assert(rows.length == 2, s"expected one row per matching pair, got ${rows.toSeq}")
      assert(rows.map(r => (r._1, r._2, r._3)).toSet ==
        Set((10L, 100L, 0L), (10L, 101L, 2L)))
    } finally q.stop()
  }

  test("streaming heavy hitters: exact when capacity covers the key universe") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = StreamingOps.heavyHittersStream(input.toDS(), capacity = 16, shards = 2)
    val q = out.writeStream.format("memory").queryName("hh_exact")
      .outputMode("update").start()
    try {
      input.addData(Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(2)("a") ++ Seq.fill(4)("d"): _*)
      q.processAllAvailable()
      val rows = spark.table("hh_exact")
        .select($"shard", $"seq", $"key", $"count", $"err")
        .as[(Int, Long, String, Long, Long)].collect()
      // latest summary per shard across triggers
      val latest = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val mx = rs.map(_._2).max; rs.filter(_._2 == mx).toSeq
      }.map(r => r._3 -> (r._4, r._5)).toMap
      val truth = Map("a" -> 7L, "b" -> 3L, "c" -> 1L, "d" -> 4L)
      assert(latest == truth.map { case (k, c) => k -> (c, 0L) },
        s"capacity >= distinct keys must be exact, got $latest")
    } finally q.stop()
  }

  test("streaming heavy hitters: state survives a checkpointed stop/restart") {
    // the operational contract no in-flight test can pin: kill the query,
    // start a NEW query instance on the same checkpoint, and the SpaceSaving
    // state (counts AND the per-shard seq) must carry over — if state were
    // lost, key "a" would re-count from 2 instead of reaching 7
    val dir = java.nio.file.Files.createTempDirectory("graft_hh_restart").toString
    val srcDir = s"$dir/src"; val ck = s"$dir/ck"
    StreamingSpec.hhRestartRows.clear()
    val schema = Seq("k").toDF("key").schema
    Seq.fill(5)("a").++(Seq.fill(3)("b")).toDF("key")
      .write.mode("overwrite").parquet(srcDir)
    def startQuery() = StreamingOps
      .heavyHittersStream(
        spark.readStream.schema(schema).parquet(srcDir).as[String],
        capacity = 16, shards = 2)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingOps.HeavyHitter], _: Long) =>
        StreamingSpec.hhRestartRows ++=
          ds.collect().map(h => (h.shard, h.seq, h.key, h.count, h.err, h.shard_n))
        ()
      }
      .start()
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    Seq.fill(2)("a").++(Seq.fill(4)("c")).toDF("key")
      .write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = StreamingSpec.hhRestartRows.toList
    val latest = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val mx = rs.map(_._2).max; rs.filter(_._2 == mx).toSeq
    }.map(r => r._3 -> (r._4, r._5)).toMap
    assert(latest("a") == (7L, 0L),
      s"state lost across restart: a = ${latest.get("a")} (restart-blind count would be 2)")
    assert(latest("c") == (4L, 0L), s"post-restart batch miscounted: ${latest.get("c")}")
    // seq continued past the pre-restart trigger for the restarted shard(s)
    assert(rows.exists(_._2 >= 2L), s"per-shard seq did not advance across restart: $rows")
  }

  test("streaming heavy hitters: SpaceSaving bounds hold under eviction pressure") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val capacity = 3
    val out = StreamingOps.heavyHittersStream(input.toDS(), capacity = capacity, shards = 2)
    val q = out.writeStream.format("memory").queryName("hh_tight")
      .outputMode("update").start()
    try {
      // per shard: 2 dominant keys + a churning tail that forces evictions
      val heavy = Seq.fill(40)("hot1") ++ Seq.fill(25)("hot2")
      val tail = (0 until 30).map(i => s"t$i")
      input.addData(heavy ++ tail: _*)
      q.processAllAvailable()
      input.addData(Seq.fill(10)("hot1") ++ (30 until 45).map(i => s"t$i"): _*)
      q.processAllAvailable()
      val all = Seq.fill(50)("hot1") ++ Seq.fill(25)("hot2") ++
        (0 until 45).map(i => s"t$i")
      val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val byShard = all.groupBy(StreamingOps.shardOf(_, 2))
        .view.mapValues(_.size.toLong).toMap
      val rows = spark.table("hh_tight")
        .select($"shard", $"seq", $"key", $"count", $"err", $"shard_n")
        .as[(Int, Long, String, Long, Long, Long)].collect()
      rows.groupBy(_._1).foreach { case (shard, rs) =>
        val mx = rs.map(_._2).max
        val latest = rs.filter(_._2 == mx)
        assert(latest.length <= capacity, s"shard $shard summary exceeds capacity")
        val n = latest.head._6
        assert(n == byShard(shard), s"shard $shard n=$n != true ${byShard(shard)}")
        latest.foreach { case (_, _, k, c, e, _) =>
          val t = truth(k)
          assert(t <= c, s"$k: count $c underestimates true $t")
          assert(c - e <= t, s"$k: count-err ${c - e} exceeds true $t")
        }
        // the SpaceSaving guarantee: every key with true freq > n/capacity
        // owned by this shard MUST be in the summary
        val present = latest.map(_._3).toSet
        truth.filter { case (k, t) =>
          StreamingOps.shardOf(k, 2) == shard && t > n / capacity
        }.keys.foreach(k => assert(present.contains(k), s"guaranteed key $k evicted"))
      }
    } finally q.stop()
  }

  test("hybrid retrieval serve: streamed queries equal the batch serve across stop/restart") {
    // the trained-artifact restart contract applied to the RAG query
    // tier: both persisted indexes (BM25 postings + IVF vector table)
    // serve a query stream; kill the query, restart on the same
    // checkpoint — served batches must NOT replay, new batches must fuse
    // identically to the batch serve kernel, zero quantizer trainings
    import graft.operators.{TextAnalysis, EmbeddingSearch}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_restart").toString
    val bmIdx = s"$root/bm"; val ivfIdx = s"$root/ivf"
    val srcDir = s"$root/src"; val ck = s"$root/ck"
    TextAnalysis.buildBm25Index(docs, bmIdx)
    EmbeddingSearch.buildIvfIndex(emb.select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v")),
      ivfIdx)
    // external query batches: corpus texts paired with their embedding
    // twins (id-aligned tables), streamed as (query_id, text, embedding)
    val queries = docs.select($"doc_id".as("query_id"), $"text")
      .join(emb.select($"vec_id".as("query_id"), $"embedding"), "query_id")
    val batch1 = queries.where($"query_id" < 3)
    val batch2 = queries.where($"query_id" >= 3 && $"query_id" < 6)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"lex_rank", $"sem_rank", $"rrf", $"rank")
        .collect().map { r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getDouble(4), r.getLong(5))
        }.toSet
    val want = rowsOf(TextAnalysis.hybridServeBatch(
      queries.where($"query_id" < 6), bmIdx, ivfIdx))
    assert(want.nonEmpty, "batch-serve reference is empty — the pin is vacuous")
    StreamingSpec.hybridRestartRows.clear()
    val before = EmbeddingSearch.kmeansTrainings.get()
    batch1.write.mode("overwrite").parquet(srcDir)
    def startQuery() = StreamingOps.eachBatch(
        spark.readStream.schema(batch1.schema).parquet(srcDir))(
        TextAnalysis.hybridServeBatch(_, bmIdx, ivfIdx)) { (fused, _) =>
      StreamingSpec.hybridRestartRows ++= fused
        .select($"query_id", $"doc_id", $"lex_rank", $"sem_rank", $"rrf", $"rank")
        .collect().map { r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getDouble(4), r.getLong(5))
        }
      ()
    }.option("checkpointLocation", ck).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.hybridRestartRows.length
    assert(StreamingSpec.hybridRestartRows.map(_._1).toSet == Set(0L, 1L, 2L))
    batch2.write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val q2Rows = StreamingSpec.hybridRestartRows.drop(afterQ1).toList
    assert(q2Rows.map(_._1).toSet == Set(3L, 4L, 5L),
      s"restarted instance must serve exactly the new batch (no replay): " +
        s"${q2Rows.map(_._1).toSet}")
    assert(StreamingSpec.hybridRestartRows.toSet == want,
      "streamed hybrid serve drifted from the batch serve kernel")
    assert(EmbeddingSearch.kmeansTrainings.get() == before,
      "hybrid serve tier trained across stop/restart")
  }

  test("PROBED hybrid streaming tier equals the probed batch kernel per micro-batch") {
    // the nprobe knob on the streaming tier: each micro-batch fuses
    // against the partition-pruned probed semantic scan exactly as the
    // batch kernel does — one kernel definition, so the tiers can't drift
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{TextAnalysis, EmbeddingSearch}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_probed_s").toString
    TextAnalysis.buildBm25Index(docs, s"$root/bm")
    EmbeddingSearch.buildIvfIndex(emb.select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v")),
      s"$root/ivf")
    val queries = docs.select($"doc_id".as("query_id"), $"text")
      .join(emb.select($"vec_id".as("query_id"), $"embedding"), "query_id")
      .where($"query_id" < 3)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"doc_id", $"rrf", $"rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // a 4th SMALL-VOCABULARY external query: whole corpus documents as
    // query texts legitimately touch every occupied term bucket, so the
    // lexical-pruning assertion needs a query whose vocabulary doesn't —
    // 4 terms → ≤4 bucket dirs (the PlanSpec batch-side fixture's shape)
    val qEmb = emb.where($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)
    val shortQ = (100L, "probability of the hypothesis", qEmb)
    val allQ = queries.as[(Long, String, Seq[Float])].collect().toSeq :+ shortQ
    val want = rowsOf(TextAnalysis.hybridServeBatch(
      allQ.toDF("query_id", "text", "embedding"), s"$root/bm", s"$root/ivf",
      nprobe = 2))
    assert(want.nonEmpty)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double, Long)]
    // scan-pruning evidence captured INSIDE foreachBatch: (batchId,
    // isIvf, partitionsScanned, partitionsTotal) per index scan of the
    // micro-batch serve plan — the r11 verdict's "does the per-batch
    // serve reintroduce the corpus-wide scan the batch side eliminated"
    val scanEvidence =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long, Long)]
    val bucketsTotal = spark.read.parquet(s"$root/bm/postings")
      .select($"bucket").distinct().count()
    val cellsTotal = spark.read.parquet(s"$root/ivf/ivf")
      .select($"cl").distinct().count()
    val input = MemoryStream[(Long, String, Seq[Float])]
    // restore the PRIOR value, not a literal: hardcoding "true" would
    // silently flip global config for later tests if the session ever
    // defaults AQE off (the InvarianceSpec.runAt discipline)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = StreamingOps.eachBatch(input.toDF().toDF("query_id", "text", "embedding"))(
        TextAnalysis.hybridServeBatch(_, s"$root/bm", s"$root/ivf", nprobe = 2)) { (fused, batchId) =>
      got ++= rowsOf(fused)
      fused.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.foreach { s =>
        val isIvf = s.output.exists(_.name == "v") && s.output.exists(_.name == "cl")
        val isPostings = s.output.exists(_.name == "tf")
        if (isIvf || isPostings)
          scanEvidence += ((batchId, isIvf, s.selectedPartitions.partitionCount.toLong,
            if (isIvf) cellsTotal else bucketsTotal))
      }
      ()
    }.start()
    try {
      input.addData(queries.as[(Long, String, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable()
      input.addData(shortQ)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
    assert(got.toSet == want,
      "probed streaming tier diverged from the probed batch kernel")
    // the micro-batch plan must partition-prune BOTH index scans: the
    // semantic scan to the probed cells on EVERY batch; the lexical scan
    // to the batch's term buckets — sharp on the small-vocabulary batch
    // (4 terms → ≤4 of the bucket dirs), vacuous-by-construction on the
    // whole-document batch whose vocabulary covers all of them
    val ivfScans = scanEvidence.filter(_._2)
    val postingScans = scanEvidence.filter(e => !e._2 && e._1 == 1L)
    assert(ivfScans.nonEmpty && postingScans.nonEmpty,
      s"could not identify the index scans in the micro-batch plans: $scanEvidence")
    ivfScans.foreach { case (b, _, n, total) =>
      assert(n < total, s"batch $b ivf scan read all $total cells — corpus-wide") }
    postingScans.foreach { case (b, _, n, total) =>
      assert(n <= 4 && n < total,
        s"batch $b postings scan read $n of $total buckets — not pruned to query terms") }
  }

  test("streaming kNN tier vs the persisted SIZED IVF index: batch parity, pruning, restart, zero trainings") {
    // the neighbor-graph serve tier (r12 verdict stretch): arriving
    // vectors get their top-k neighbors from the probed cells of the
    // persisted sized index — per-batch cost is the probed partitions,
    // never the corpus; restart serves only new batches; no training ever
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v"))
    val n = emb.count()
    val root = java.nio.file.Files.createTempDirectory("graft_knn_stream").toString
    EmbeddingSearch.buildIvfIndex(emb, root, EmbeddingSearch.ivfCellCount(n))
    val cent = EmbeddingSearch.loadKmeansIndex(spark, s"$root/cent")
    val cellsTotal = spark.read.parquet(s"$root/ivf")
      .select($"cl").distinct().count()
    val want = EmbeddingSearch.kmeansTopKWithIndex(emb, cent, k = 3,
        nQueries = 10, nprobe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(want.nonEmpty)
    val queryVecs = graft.sources.Tables.embeddings(spark, dir)
      .where($"vec_id" < 10).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val before = EmbeddingSearch.kmeansTrainings.get()
    val scans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def sinkWith(tag: String)(fused: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      StreamingSpec.knnRestartRows ++= fused.select($"query_id", $"vec_id", $"cosine", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      fused.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("graft_knn_stream")) =>
          scans += ((batchId, f.selectedPartitions.partitionCount.toLong, cellsTotal))
      }
      ()
    }
    StreamingSpec.knnRestartRows.clear()
    try {
      // instance 1: first half of the query set
      val in1 = MemoryStream[(Long, Seq[Float])]
      val q1 = EmbeddingSearch.synchronized {
        graft.streaming.StreamingOps.eachBatch(in1.toDF().toDF("vec_id", "embedding"))(
          EmbeddingSearch.knnBatchAgainstIvfIndex(_, root))(sinkWith("q1")).start()
      }
      in1.addData(queryVecs.take(5): _*)
      try q1.processAllAvailable() finally q1.stop()
      val afterQ1 = StreamingSpec.knnRestartRows.size
      assert(StreamingSpec.knnRestartRows.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
      // instance 2 (the restart): only the new batch is served
      val in2 = MemoryStream[(Long, Seq[Float])]
      val q2 = graft.streaming.StreamingOps.eachBatch(in2.toDF().toDF("vec_id", "embedding"))(
        EmbeddingSearch.knnBatchAgainstIvfIndex(_, root))(sinkWith("q2")).start()
      in2.addData(queryVecs.drop(5): _*)
      try q2.processAllAvailable() finally q2.stop()
      assert(StreamingSpec.knnRestartRows.drop(afterQ1).map(_._1).toSet ==
        Set(5L, 6L, 7L, 8L, 9L),
        "restarted instance must serve exactly the new batch")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    // parity: both batches together == the batch serve over the same index
    assert(StreamingSpec.knnRestartRows.toSet == want,
      "streamed kNN serve drifted from the batch kernel")
    // pruning: each micro-batch's ivf scan reads <= nprobe*|batch| of the
    // cl= partition dirs, never the whole index
    assert(scans.nonEmpty, "could not identify the ivf scan in the micro-batch plans")
    scans.foreach { case (b, read, total) =>
      assert(read <= 10 && read < total,
        s"batch $b scanned $read of $total cells — not partition-pruned") }
    // the serve tier never trains
    assert(EmbeddingSearch.kmeansTrainings.get() == before,
      "the streaming kNN tier trained a quantizer")
  }

  test("streaming FILTERED kNN tier vs the metadata-carrying IVF index: parity, pushed filter, restart, zero trainings") {
    // the r13 filtered-search surface's standing-index tier: arriving
    // query vectors get their filtered top-k from the stored cell files
    // with the predicate pushed into the parquet scan — batch parity
    // with the exact filtered scan (the sf0.001 filter takes the brute
    // arm), restart serves only new batches, the serve never trains
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    val dir = "/root/testdata/sf0.001"
    val embL = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v"),
        $"label")
    val n = embL.count()
    val root = java.nio.file.Files.createTempDirectory("graft_fknn_stream").toString
    EmbeddingSearch.buildIvfIndex(embL, root, EmbeddingSearch.ivfCellCount(n),
      meta = Seq("label"))
    val want = EmbeddingSearch.exactTopK(spark, dir, EmbeddingSearch.Cos,
        org.apache.spark.sql.functions.col("label") === 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(want.nonEmpty)
    val queryVecs = graft.sources.Tables.embeddings(spark, dir)
      .where($"vec_id" < 10).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val before = EmbeddingSearch.kmeansTrainings.get()
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    def sinkInto(fused: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      StreamingSpec.fknnRestartRows ++= fused
        .select($"query_id", $"vec_id", $"cosine", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      plans += fused.queryExecution.executedPlan.toString
      ()
    }
    StreamingSpec.fknnRestartRows.clear()
    val pred = org.apache.spark.sql.functions.col("label") === 3
    // instance 1: first half of the query set
    val in1 = MemoryStream[(Long, Seq[Float])]
    val q1 = graft.streaming.StreamingOps.filteredKnnAgainstIvfIndex(
      in1.toDF().toDF("vec_id", "embedding"), root, pred)(sinkInto).start()
    in1.addData(queryVecs.take(5): _*)
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.fknnRestartRows.size
    assert(StreamingSpec.fknnRestartRows.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
    // instance 2 (the restart): only the new batch is served
    val in2 = MemoryStream[(Long, Seq[Float])]
    val q2 = graft.streaming.StreamingOps.filteredKnnAgainstIvfIndex(
      in2.toDF().toDF("vec_id", "embedding"), root, pred)(sinkInto).start()
    in2.addData(queryVecs.drop(5): _*)
    try q2.processAllAvailable() finally q2.stop()
    assert(StreamingSpec.fknnRestartRows.drop(afterQ1).map(_._1).toSet ==
      Set(5L, 6L, 7L, 8L, 9L),
      "restarted instance must serve exactly the new batch")
    // parity: both batches together == the exact filtered scan, and every
    // served neighbor satisfies the predicate (it came from pushed rows)
    assert(StreamingSpec.fknnRestartRows.toSet == want,
      "streamed filtered serve drifted from the exact filtered scan")
    // the predicate reached the stored cell files' parquet scan
    assert(plans.nonEmpty && plans.forall(p =>
        p.contains("PushedFilters") && p.contains("label")),
      "label predicate did not push into the index scan in a micro-batch plan")
    // the serve tier never trains
    assert(EmbeddingSearch.kmeansTrainings.get() == before,
      "the streaming filtered kNN tier trained a quantizer")
  }

  test("streaming FILTERED MIPS tier: parity with the per-call arm, restart, wiring-time zero-match refusal") {
    // r14: the last filter x score cell of the streaming matrix. On this
    // fixture the count-gated branch takes the exact-scan arm, so parity
    // is against the exact filtered IP scan; a zero-match predicate must
    // refuse AT WIRING (the ADVICE r13 contract), not inside batch 1.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    val dir = "/root/testdata/sf0.001"
    val embL = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v"),
        $"label")
    val root = java.nio.file.Files.createTempDirectory("graft_fmips_stream").toString
    EmbeddingSearch.buildIvfIndex(embL, root,
      EmbeddingSearch.ivfCellCount(embL.count()), meta = Seq("label"))
    val pred = org.apache.spark.sql.functions.col("label") === 3
    val want = EmbeddingSearch.exactTopK(spark, dir, EmbeddingSearch.Ip, pred)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(want.nonEmpty)
    val queryVecs = graft.sources.Tables.embeddings(spark, dir)
      .where($"vec_id" < 10).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val before = EmbeddingSearch.kmeansTrainings.get()
    StreamingSpec.fmipsRestartRows.clear()
    def sinkInto(fused: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      StreamingSpec.fmipsRestartRows ++= fused
        .select($"query_id", $"vec_id", $"ip", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      ()
    }
    val in1 = MemoryStream[(Long, Seq[Float])]
    val q1 = graft.streaming.StreamingOps.filteredMipsAgainstIvfIndex(
      in1.toDF().toDF("vec_id", "embedding"), root, pred)(sinkInto).start()
    in1.addData(queryVecs.take(5): _*)
    try q1.processAllAvailable() finally q1.stop()
    val afterQ1 = StreamingSpec.fmipsRestartRows.size
    assert(StreamingSpec.fmipsRestartRows.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
    val in2 = MemoryStream[(Long, Seq[Float])]
    val q2 = graft.streaming.StreamingOps.filteredMipsAgainstIvfIndex(
      in2.toDF().toDF("vec_id", "embedding"), root, pred)(sinkInto).start()
    in2.addData(queryVecs.drop(5): _*)
    try q2.processAllAvailable() finally q2.stop()
    assert(StreamingSpec.fmipsRestartRows.drop(afterQ1).map(_._1).toSet ==
      Set(5L, 6L, 7L, 8L, 9L),
      "restarted instance must serve exactly the new batch")
    assert(StreamingSpec.fmipsRestartRows.toSet == want,
      "streamed filtered MIPS serve drifted from the exact filtered scan")
    assert(EmbeddingSearch.kmeansTrainings.get() == before,
      "the streaming filtered MIPS tier trained a quantizer")
    // the misconfiguration fails at WIRING, before any stream starts
    val bad = MemoryStream[(Long, Seq[Float])]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.filteredMipsAgainstIvfIndex(
        bad.toDF().toDF("vec_id", "embedding"), root,
        org.apache.spark.sql.functions.col("label") === 99)(sinkInto)
    }
    assert(e.getMessage.contains("matches no vectors"))
  }

  test("streaming MIPS and sound-range tiers vs the persisted IVF index: parity, restart, zero trainings") {
    // the last two serve-matrix cells for the vector artifact: arriving
    // queries ranked by EXACT inner product from IP-ranked probed cells,
    // and the exact tau-set from the triangle-bound probe over the
    // stored radii — both through the one batch/streaming kernel each
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v"))
    val n = emb.count()
    val root = java.nio.file.Files.createTempDirectory("graft_mr_stream").toString
    EmbeddingSearch.buildIvfIndex(emb, root, EmbeddingSearch.ivfCellCount(n))
    val queryVecs = graft.sources.Tables.embeddings(spark, dir)
      .where($"vec_id" < 10).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val before = EmbeddingSearch.kmeansTrainings.get()
    // MIPS tier: both halves across a restart == the batch kernel
    val wantMips = EmbeddingSearch.mipsBatchAgainstIvfIndex(
        graft.sources.Tables.embeddings(spark, dir)
          .where($"vec_id" < 10).select($"vec_id", $"embedding"), root)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(wantMips.nonEmpty)
    StreamingSpec.mipsRestartRows.clear()
    def mipsSink(fused: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      StreamingSpec.mipsRestartRows ++= fused
        .select($"query_id", $"vec_id", $"ip", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      ()
    }
    val m1 = MemoryStream[(Long, Seq[Float])]
    val mq1 = graft.streaming.StreamingOps.mipsAgainstIvfIndex(
      m1.toDF().toDF("vec_id", "embedding"), root)(mipsSink).start()
    m1.addData(queryVecs.take(5): _*)
    try mq1.processAllAvailable() finally mq1.stop()
    val afterM1 = StreamingSpec.mipsRestartRows.size
    val m2 = MemoryStream[(Long, Seq[Float])]
    val mq2 = graft.streaming.StreamingOps.mipsAgainstIvfIndex(
      m2.toDF().toDF("vec_id", "embedding"), root)(mipsSink).start()
    m2.addData(queryVecs.drop(5): _*)
    try mq2.processAllAvailable() finally mq2.stop()
    assert(StreamingSpec.mipsRestartRows.drop(afterM1).map(_._1).toSet ==
      Set(5L, 6L, 7L, 8L, 9L), "restarted MIPS instance must serve exactly the new batch")
    assert(StreamingSpec.mipsRestartRows.toSet == wantMips,
      "streamed MIPS serve drifted from the batch kernel")
    // RANGE tier: the streamed union equals the exact tau-set the batch
    // kernel returns (itself spec-pinned equal to brute)
    val wantRange = EmbeddingSearch.rangeBatchAgainstIvfIndex(
        graft.sources.Tables.embeddings(spark, dir)
          .where($"vec_id" < 10).select($"vec_id", $"embedding"), root, tau = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(wantRange.nonEmpty)
    StreamingSpec.rangeRestartRows.clear()
    def rangeSink(fused: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      StreamingSpec.rangeRestartRows ++= fused
        .select($"query_id", $"vec_id", $"cosine")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      ()
    }
    val r1 = MemoryStream[(Long, Seq[Float])]
    val rq1 = graft.streaming.StreamingOps.eachBatch(r1.toDF().toDF("vec_id", "embedding"))(
      EmbeddingSearch.rangeBatchAgainstIvfIndex(_, root, tau = 0.3))(rangeSink).start()
    r1.addData(queryVecs.take(5): _*)
    try rq1.processAllAvailable() finally rq1.stop()
    val r2 = MemoryStream[(Long, Seq[Float])]
    val rq2 = graft.streaming.StreamingOps.eachBatch(r2.toDF().toDF("vec_id", "embedding"))(
      EmbeddingSearch.rangeBatchAgainstIvfIndex(_, root, tau = 0.3))(rangeSink).start()
    r2.addData(queryVecs.drop(5): _*)
    try rq2.processAllAvailable() finally rq2.stop()
    assert(StreamingSpec.rangeRestartRows.toSet == wantRange,
      "streamed range serve drifted from the batch kernel")
    // neither serve tier ever trains
    assert(EmbeddingSearch.kmeansTrainings.get() == before,
      "a streaming MIPS/range tier trained a quantizer")
  }

  test("IVF ingest loop: micro-batch extends == one batch extend, compaction fires in-loop, no spurious retrain") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    def vec(seed: Int, eps: Float = 0f): Seq[Float] =
      (0 until 8).map(d => if (d == seed % 8) 1f + eps else 0.01f)
    val base = (0L to 7L).map(i => (i, vec(i.toInt)))
    val baseV = base.toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val rootA = java.nio.file.Files.createTempDirectory("graft_ivfloopA").toString + "/idx"
    val rootB = java.nio.file.Files.createTempDirectory("graft_ivfloopB").toString + "/idx"
    EmbeddingSearch.buildIvfIndex(baseV, rootA, nClusters = 8)
    EmbeddingSearch.buildIvfIndex(baseV, rootB, nClusters = 8)
    // 18 streamed vectors all near seed 1: ONE cl= dir accumulates a
    // file per extend, so the >16-files/dir auto-compaction MUST trip
    // inside the loop (the bounded-files/dir claim, measured not assumed)
    val streamed = (0 until 18).map(i => (100L + i, vec(1, 0.001f * (i + 1))))
    val trainingsAfterBuilds = EmbeddingSearch.kmeansTrainings.get()
    val served = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.knnIngestAgainstIvfIndex(
        input.toDF().toDF("vec_id", "embedding"), rootA, extendIndex = true) {
      (res, _) => served ++= res.select($"query_id", $"vec_id", $"cosine", $"rank")
        .as[(Long, Long, Double, Long)].collect()
    }.start()
    try {
      for (v <- streamed) { input.addData(v); q.processAllAvailable() }
    } finally q.stop()
    // one batch-side extend with the same 18 vectors = the reference tree
    EmbeddingSearch.extendIvfIndex(rootB,
      streamed.toDF("vec_id", "embedding")
        .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v")))
    def ivfRows(root: String): Set[(Long, Int, Seq[Double])] =
      spark.read.parquet(s"$root/ivf")
        .select($"vec_id".cast("long"), $"cl".cast("int"), $"v")
        .as[(Long, Int, Seq[Double])].collect().toSet
    assert(ivfRows(rootA) == ivfRows(rootB),
      "micro-batch-extended index drifted from the single-batch extend")
    def radiiRows(root: String): Set[(Int, Double)] =
      spark.read.parquet(s"$root/radii").select($"cl".cast("int"), $"mincos")
        .as[(Int, Double)].collect().toSet
    assert(radiiRows(rootA) == radiiRows(rootB),
      "radii floors drifted between the loop and the batch extend")
    val fs = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(rootA, "_DONE")),
      "loop left the index uncommitted")
    // bounded files/dir: 18 appends into one cell would leave 19 files
    // without the in-loop compaction
    val worst = fs.listStatus(new org.apache.hadoop.fs.Path(rootA, "ivf"))
      .filter(e => !e.isFile && e.getPath.getName.startsWith("cl="))
      .map(d => fs.listStatus(d.getPath).count(e =>
        e.isFile && !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith(".")))
      .max
    assert(worst <= EmbeddingSearch.IvfCompactFileThreshold,
      s"auto-compaction never fired in the loop: worst cl= dir has $worst files")
    // the staleness policy ran every batch and correctly did NOT retrain
    // (26 rows vs 8 trained derives the same sized cell count)
    assert(EmbeddingSearch.kmeansTrainings.get() == trainingsAfterBuilds,
      "the ingest loop retrained a non-stale quantizer")
    // serve parity on the final trees: both indexes serve identical rows
    val probe = base.take(3).toDF("vec_id", "embedding")
    def serveRows(root: String): Set[(Long, Long, Double, Long)] =
      EmbeddingSearch.knnBatchAgainstIvfIndex(probe, root)
        .select($"query_id", $"vec_id", $"cosine", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(serveRows(rootA) == serveRows(rootB))
    assert(served.nonEmpty, "the loop's serve half produced no rows")
  }

  test("BM25 ingest loop: micro-batch extends == one batch extend; n_tokens annotation matches doclens") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val base = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "gamma gamma epsilon"))
    val rootA = java.nio.file.Files.createTempDirectory("graft_bm25loopA").toString + "/idx"
    val rootB = java.nio.file.Files.createTempDirectory("graft_bm25loopB").toString + "/idx"
    TextAnalysis.buildBm25Index(base.toDF("doc_id", "text"), rootA)
    TextAnalysis.buildBm25Index(base.toDF("doc_id", "text"), rootB)
    val streamed = Seq((10L, "alpha zeta"), (11L, "beta beta eta"),
      (12L, "theta"), (13L, "gamma iota kappa"))
    val annotations = new scala.collection.mutable.ArrayBuffer[(Long, Int)]
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.bm25IngestExtendIndex(
        input.toDF().toDF("doc_id", "text"), rootA) { (ann, _) =>
      annotations ++= ann.select($"doc_id", $"n_tokens").as[(Long, Int)].collect()
    }.start()
    try {
      input.addData(streamed.take(2): _*); q.processAllAvailable()
      input.addData(streamed.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    TextAnalysis.extendBm25Index(rootB, streamed.toDF("doc_id", "text"))
    for (t <- Seq("postings", "doclens", "fwd")) {
      val a = spark.read.parquet(s"$rootA/$t").collect().map(_.toString).toSet
      val b = spark.read.parquet(s"$rootB/$t").collect().map(_.toString).toSet
      assert(a == b, s"BM25 '$t' drifted between the loop and the batch extend")
    }
    assert(annotations.toSet ==
      Set((10L, 2), (11L, 3), (12L, 1), (13L, 3)),
      s"n_tokens annotation drifted from the tokenizer: $annotations")
    val fs = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(rootA, "_DONE")),
      "loop left the BM25 index uncommitted")
  }

  test("kNN-graph ingest loop: micro-batch extends == one batch extend; sink gets cell routing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EmbeddingSearch
    def vec(seed: Int, eps: Float = 0f): Seq[Float] =
      (0 until 8).map(d => if (d == seed % 8) 1f + eps else 0.01f)
    val base = (0L to 9L).map(i => (i, vec(i.toInt)))
    val baseV = base.toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val rootA = java.nio.file.Files.createTempDirectory("graft_gloopA").toString + "/g"
    val rootB = java.nio.file.Files.createTempDirectory("graft_gloopB").toString + "/g"
    EmbeddingSearch.buildKnnGraph(baseV, rootA, kBuild = 3, nClusters = 4)
    EmbeddingSearch.buildKnnGraph(baseV, rootB, kBuild = 3, nClusters = 4)
    val streamed = (0 until 4).map(i => (100L + i, vec(i % 3, 0.001f * (i + 1))))
    val routed = new scala.collection.mutable.ArrayBuffer[(Int, Long)]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.knnGraphIngestExtend(
        input.toDF().toDF("vec_id", "embedding"), rootA) { (res, _) =>
      routed ++= res.select($"cl", $"vec_id").as[(Int, Long)].collect()
    }.start()
    try {
      input.addData(streamed.take(2): _*); q.processAllAvailable()
      input.addData(streamed.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    EmbeddingSearch.extendKnnGraph(rootB,
      streamed.toDF("vec_id", "embedding")
        .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v")))
    def edges(root: String): Set[(Long, Long, Double)] =
      spark.read.parquet(s"$root/edges").select($"vec_id", $"nbr_id", $"cosine")
        .as[(Long, Long, Double)].collect().toSet
    assert(edges(rootA) == edges(rootB),
      "micro-batch graph extends drifted from the one-batch extend")
    assert(routed.map(_._2).toSet == streamed.map(_._1).toSet,
      "sink did not receive every streamed vector's cell routing")
    val fs = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(rootA, "_DONE")),
      "loop left the graph uncommitted")
  }

  test("extend idempotence tokens: a replayed batch never double-appends; crash between _BATCH and _DONE self-heals") {
    // ADVICE r15 (medium): foreachBatch is at-least-once — a restart
    // after the extend commits but before the stream checkpoint advances
    // REPLAYS the batch. The `idempotenceToken` contract makes the
    // replayed extend a recognized no-op for both index families, and
    // the one provably-complete crash state (token recorded, _DONE not
    // yet recommitted) self-heals instead of refusing.
    import graft.operators.{EmbeddingSearch, TextAnalysis}
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(d => if (d == seed % 8) 1f else 0.01f)
    val baseV = (0L to 7L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val root = java.nio.file.Files.createTempDirectory("graft_replay").toString + "/idx"
    EmbeddingSearch.buildIvfIndex(baseV, root, nClusters = 4)
    val batch = Seq((100L, vec(2)), (101L, vec(3))).toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    EmbeddingSearch.extendIvfIndex(root, batch, idempotenceToken = Some("batch_0"))
    def ivfCount(): Long = spark.read.parquet(s"$root/ivf").count()
    val after1 = ivfCount()
    // the foreachBatch replay: same batchId token → skipped, zero new rows
    EmbeddingSearch.extendIvfIndex(root, batch, idempotenceToken = Some("batch_0"))
    assert(ivfCount() == after1, "replayed extend double-appended its vec_ids")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val done = new org.apache.hadoop.fs.Path(root, "_DONE")
    // crash window: _BATCH recorded, _DONE recommit lost — the replay
    // must recognize the complete append and just recommit _DONE
    fs.delete(done, false)
    EmbeddingSearch.extendIvfIndex(root, batch, idempotenceToken = Some("batch_0"))
    assert(fs.exists(done), "self-heal recommit of _DONE did not happen")
    assert(ivfCount() == after1, "self-heal path re-appended the batch")
    // a NEW batch id extends normally
    EmbeddingSearch.extendIvfIndex(root,
      Seq((102L, vec(4))).toDF("vec_id", "embedding")
        .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v")),
      idempotenceToken = Some("batch_1"))
    assert(ivfCount() == after1 + 1)
    // tokenless callers (batch deployments) keep pre-r16 semantics: the
    // extend always applies, whatever _BATCH says
    EmbeddingSearch.extendIvfIndex(root,
      Seq((103L, vec(5))).toDF("vec_id", "embedding")
        .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v")))
    assert(ivfCount() == after1 + 2)

    // the BM25 twin: replay skipped, tf/df/dl never doubled
    val broot = java.nio.file.Files.createTempDirectory("graft_replayb").toString + "/idx"
    TextAnalysis.buildBm25Index(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"), broot)
    val bbatch = Seq((10L, "alpha zeta zeta")).toDF("doc_id", "text")
    TextAnalysis.extendBm25Index(broot, bbatch, idempotenceToken = Some("batch_0"))
    def dl10(): Long = spark.read.parquet(s"$broot/doclens")
      .where($"doc_id" === 10L).select($"dl".cast("long")).as[Long].collect().sum
    assert(dl10() == 3L)
    TextAnalysis.extendBm25Index(broot, bbatch, idempotenceToken = Some("batch_0"))
    assert(dl10() == 3L, "replayed BM25 extend doubled doc 10's dl")
    val bdone = new org.apache.hadoop.fs.Path(broot, "_DONE")
    fs.delete(bdone, false)
    TextAnalysis.extendBm25Index(broot, bbatch, idempotenceToken = Some("batch_0"))
    assert(fs.exists(bdone) && dl10() == 3L,
      "BM25 self-heal path drifted from the IVF contract")
  }
}

object StreamingSpec {
  /** Shared sink buffer for the restart spec's foreachBatch — must live on
    * a stable (companion) reference so both query INSTANCES append to the
    * same buffer across the stop/restart boundary.
    */
  val hhRestartRows =
    new scala.collection.mutable.ArrayBuffer[(Int, Long, String, Long, Long, Long)]

  /** Restart-spec buffers for the trained-model serve tiers (same
    * stable-reference requirement as [[hhRestartRows]]). */
  val clfRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]
  val clfWideRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]
  val bpeRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]
  val kmRestartRows = new scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]
  val hybridRestartRows = new scala.collection.mutable
    .ArrayBuffer[(Long, Long, Option[Long], Option[Long], Double, Long)]
  val knnRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]
  val fknnRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]
  val mipsRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]
  val fmipsRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]
  val rangeRestartRows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]
}
