package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions._

/** Tokenizer/shingle edge cases from SURVEY.md §0.1 / FIXTURES.md §B.4 —
  * each pins a Java `split("\\W+")` parity quirk of the reference
  * (BookQuery.java:35,64,126).
  */
class TextFunctionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    Seq(s).toDF("t").select(tokenize(col("t"))).as[Seq[String]].head()

  private def sh3(s: String): Seq[String] =
    Seq(s).toDF("t").select(shingleSet(col("t"), 3)).as[Seq[String]].head()

  test("tokenize splits on non-word runs") {
    assert(toks("a b  c!!d") == Seq("a", "b", "c", "d"))
  }

  test("tokenize keeps leading empty token (Java split parity)") {
    assert(toks("!!! a b c") == Seq("", "a", "b", "c"))
  }

  test("tokenize drops trailing empty tokens (Java split parity)") {
    assert(toks("a b ") == Seq("a", "b"))
    assert(toks("a b!!!") == Seq("a", "b"))
  }

  test("tokenize of empty/all-punct text") {
    assert(toks("") == Seq.empty)
    assert(toks("!!!") == Seq.empty)
  }

  test("shingles: fewer than k tokens -> empty set") {
    assert(sh3("one two") == Seq.empty)
    assert(sh3("") == Seq.empty)
  }

  test("shingleSet dedups repeated shingles (HashSet parity)") {
    assert(sh3("a b c a b c a b c").sorted == Seq("a b c", "b c a", "c a b").sorted)
  }

  test("leading empty token produces space-prefixed shingle (reference parity)") {
    assert(sh3("!!! a b c").sorted == Seq(" a b", "a b c").sorted)
  }

  test("multi-line text shingles span line breaks") {
    // The reference joins lines with " " (BookQuery.java:57-61); \W+ treats
    // \n as a delimiter, so either path yields the same tokens.
    assert(sh3("a b\nc d").sorted == Seq("a b c", "b c d").sorted)
  }

  test("shingleList kernel matches the HOF formulation (duplicates kept, order kept)") {
    val samples = Seq("a b c a b c", "x y", "", "one two three four", "a a a a a")
    for (s <- samples) {
      val kernel = Seq(s).toDF("t").select(shingleList(col("t"), 3)).as[Seq[String]].head()
      val hof = Seq(s).toDF("t")
        .select(shingles(tokenize(col("t")), 3)).as[Seq[String]].head()
      assert(kernel == hof, s"mismatch on '$s': $kernel vs $hof")
    }
  }

  test("repetition stats: looped phrase scores high dup fraction") {
    // "buy now again" ×4: 12 tokens → 10 3-grams, only 3 distinct
    // ("buy now again", "now again buy", "again buy now"); max count 4
    val docs = Seq(
      (1L, Seq.fill(4)("buy now again").mkString(" ")),
      (2L, "all twelve tokens here are fully distinct from one another truly"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_grams", "n_distinct_grams", "max_gram_count", "dup_gram_frac")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (a, b, c, d, e) => a -> ((b, c, d, e)) }.toMap
    assert(got(1L) == ((10L, 3L, 4L, 0.7)))
    assert(got(2L)._1 == got(2L)._2 && got(2L)._4 == 0.0)
  }

  test("qualityPredicate keeps exactly qualityFilter's ids on the real table") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaFilter = graft.operators.TextAnalysis.qualityFilter(docs)
      .select(col("doc_id")).as[Long].collect().toSet
    val viaPred = docs.where(graft.operators.TextAnalysis.qualityPredicate(col("text")))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(viaPred.nonEmpty && viaPred == viaFilter,
      s"predicate/filter drift: ${viaPred.diff(viaFilter)} vs ${viaFilter.diff(viaPred)}")
  }

  test("sourceMix: weight 1 keeps all, missing source drops all, fraction filters by bucket") {
    val docs = (0L until 40L).map(i =>
      (i, "en", s"src${i % 4}", s"some text body number $i with words"))
      .toDF("doc_id", "lang", "source", "text")
    val mixed = graft.operators.TextAnalysis.sourceMix(docs,
      Map("src0" -> 1.0, "src1" -> 0.5))
      .select("doc_id", "source", "bucket").as[(Long, String, Long)].collect()
    val bySource = mixed.groupBy(_._2)
    assert(bySource.getOrElse("src0", Array.empty).length == 10) // all kept
    assert(!bySource.contains("src2") && !bySource.contains("src3")) // dropped
    // src1 survivors are EXACTLY the docs whose bucket (read back via the
    // weight-1.0 run, which keeps everything) is under the 5000 line — set
    // equality against a non-empty expectation, so a threshold regression
    // (e.g. a zeroed weight) cannot pass vacuously
    val allBuckets = graft.operators.TextAnalysis.sourceMix(docs,
      Map("src0" -> 1.0, "src1" -> 1.0, "src2" -> 1.0, "src3" -> 1.0))
      .select("doc_id", "source", "bucket").as[(Long, String, Long)].collect()
    val expectedSrc1 = allBuckets.collect {
      case (id, "src1", b) if b < 5000L => id
    }.toSet
    assert(expectedSrc1.nonEmpty, "fixture produced no src1 doc under the 5000 line — adjust texts")
    assert(bySource.getOrElse("src1", Array.empty).map(_._1).toSet == expectedSrc1)
  }

  test("weightedSample: long docs always survive, survivors satisfy the hash rule") {
    val docs = (0L until 60L).map(i =>
      (i, ((0 to i.toInt % 55) map (j => s"w$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val kept = graft.operators.TextAnalysis.weightedSample(docs, cap = 20L)
      .select("doc_id", "n_tokens", "bucket").as[(Long, Long, Long)].collect()
    assert(kept.nonEmpty && kept.length < 60, "sample must thin the corpus but not empty it")
    kept.foreach { case (id, n, b) => assert(b < n, s"doc $id kept with bucket $b >= $n") }
    // every doc at or over the cap always survives (probability 1)
    val longDocs = docs.select($"doc_id")
      .where(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokenize($"text")) >= 20)
      .as[Long].collect().toSet
    assert(longDocs.subsetOf(kept.map(_._1).toSet), "a >=cap doc was dropped")
  }

  test("pmi top bigrams: planted collocation outranks frequent-word pairs") {
    // "alpha beta" always co-occur (and only with each other); filler words
    // are common but pair randomly -> the planted phrase has max PMI
    val docs = (0L until 30L).map { i =>
      val filler = (0 to 8).map(j => s"f${(i + j) % 6}").mkString(" ")
      (i, s"$filler alpha beta $filler")
    }.toDF("doc_id", "text")
    val top = graft.operators.TextAnalysis.pmiTopBigrams(docs, minCount = 5, kTop = 5)
      .select("bigram", "c_ab", "c_a", "c_b", "score_ppb")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(top.head._1 == "alpha beta", s"expected planted phrase first, got ${top.toSeq}")
    assert(top.head._2 == 30L && top.head._3 == 30L && top.head._4 == 30L)
    assert(top.head._5 == 30L * 1000000000L / (30L * 30L))
    // scores are non-increasing (rank order is the integer score)
    assert(top.sliding(2).forall(p => p.length < 2 || p(0)._5 >= p(1)._5))
  }

  test("rare bigrams: gibberish doc scores high, repeated-phrase docs score 0") {
    // docs 0-9 share one phrase -> all its bigrams have corpus count 10;
    // doc 99 is unique gibberish -> every bigram count 1 (rare at minDf=5)
    val docs = ((0L until 10L).map(i => (i, "the quick brown fox jumps again")) :+
      (99L, "zxq wvu tsr qpo nml kji")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.rareBigramStats(docs, minDf = 5)
      .select("doc_id", "n_bigrams", "n_rare", "rare_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    (0L until 10L).foreach { i =>
      assert(got(i) == ((i, 5L, 0L, 0L)), s"doc $i: ${got(i)}")
    }
    assert(got(99L) == ((99L, 5L, 5L, 1000000L)), s"gibberish: ${got(99L)}")
  }

  test("tokenBudget keeps docs in id order until the source budget is reached") {
    val docs = Seq(
      (1L, "a", "t1 t2 t3"),            // cum 3  <= 8: kept
      (2L, "a", "t1 t2 t3 t4"),         // cum 7  <= 8: kept
      (3L, "a", "t1 t2 t3 t4 t5"),      // cum 12 >  8: dropped
      (10L, "b", (1 to 9).map("x" + _).mkString(" ")))  // cum 9 > 8: dropped
      .toDF("doc_id", "source", "text")
    val kept = graft.operators.TextAnalysis.tokenBudget(docs, budgetTokens = 8L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(kept == Map(1L -> 3L, 2L -> 7L))
  }

  test("tokenBudgetBucketed: one bucket equals tokenBudget; buckets split a giant source") {
    val docs = (0L until 40L).map(i =>
      (i, "giant", s"tok a$i b$i c$i d$i e$i")).toDF("doc_id", "source", "text")
    // nBuckets=1 degenerates to the per-source exact form (bucket column aside)
    val one = graft.operators.TextAnalysis.tokenBudgetBucketed(docs, budgetPerBucket = 60L, nBuckets = 1)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    val exact = graft.operators.TextAnalysis.tokenBudget(docs, budgetTokens = 60L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(one.nonEmpty && one == exact)
    // 4 buckets: the single giant source spreads across >1 independent
    // window partition (the hot-partition fix), each within its own budget
    val b4 = graft.operators.TextAnalysis.tokenBudgetBucketed(docs, budgetPerBucket = 60L, nBuckets = 4)
      .select("bucket", "cum_tokens").as[(Long, Long)].collect()
    assert(b4.map(_._1).distinct.length > 1, "giant source not split across buckets")
    assert(b4.forall(_._2 <= 60L), "a bucket exceeded its own budget")
  }

  test("sourceCap keeps each source's top-quality docs; bucketed prune is lossless") {
    // "big" overflows cap=3: keep the 3 highest type-token ratios, the
    // ttr tie (docs 4 and 6, both 10^6) broken by doc_id; "small" fits
    val docs = Seq(
      (1L, "big", "a a a a"),          // ttr 250000
      (2L, "big", "a b a b"),          // ttr 500000
      (3L, "big", "a b c a"),          // ttr 750000
      (4L, "big", "a b c d"),          // ttr 1000000
      (5L, "big", "x x x x x x x x"),  // ttr 125000
      (6L, "big", "p q r s t u v w"),  // ttr 1000000, loses tie to 4
      (10L, "small", "m n"),
      (11L, "small", "k k"))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.TextAnalysis.sourceCap(docs, cap = 3, nBuckets = 8)
      .select("doc_id", "rank_in_source").as[(Long, Long)].collect().toMap
    assert(got == Map(4L -> 1L, 6L -> 2L, 3L -> 3L, 10L -> 1L, 11L -> 2L))
    // the two-stage (bucket-local then survivor) ranking is lossless:
    // nBuckets=1 computes the plain exact grouped top-k, nBuckets=8 must
    // return identical rows
    val exact = graft.operators.TextAnalysis.sourceCap(docs, cap = 3, nBuckets = 1)
      .collect().toSet
    val bucketed = graft.operators.TextAnalysis.sourceCap(docs, cap = 3, nBuckets = 8)
      .collect().toSet
    assert(exact == bucketed)
  }

  test("decontaminate flags the doc sharing a 5-gram with the eval set") {
    // eval = doc_id < 5; doc 10 embeds eval doc 0's exact 5-token run,
    // doc 11 shares nothing
    val evalRun = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (0L, evalRun + " zeta"),
      (10L, "prefix words then " + evalRun + " and a tail"),
      (11L, "nothing in common with the held out benchmark rows at all"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.decontaminate(docs, k = 5, nEval = 5)
      .select("doc_id", "n_overlap_grams", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((10L, 1L, true), (11L, 0L, false)))
  }

  test("bigram LM score equals an independent in-memory model on a small corpus") {
    val corpus = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat ran"),
      (2L, "a dog sat on a log"),
      (3L, "the dog and the cat sat"))
    val docs = corpus.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmScore(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val uni = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = uni.values.sum
    val voc = uni.size.toLong
    val big = toks.flatMap { case (_, ts) => ts.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = toks.map { case (id, ts) =>
      val lps = (r6(math.log(uni(ts.head).toDouble)) - r6(math.log(tot.toDouble))) +:
        ts.sliding(2).filter(_.size == 2).map(p =>
          r6(math.log((big((p(0), p(1))) + 1).toDouble)) -
            r6(math.log((uni(p(0)) + voc).toDouble))).toSeq
      val s = lps.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      id -> (ts.length.toLong, r6(s.toDouble / ts.length))
    }.toMap
    assert(got == expected, s"got=$got expected=$expected")
    // probabilities are < 1, so every mean log-prob is negative
    assert(got.values.forall(_._2 < 0.0))
  }

  test("LM tiers: equal-depth partition of the corpus, fluency-ordered") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tiers = graft.operators.TextAnalysis.lmTiers(docs)
      .as[(Long, Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    val total = docs.count()
    assert(tiers.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(tiers.map(_._2).sum == total, "tiers must partition the corpus")
    // ntile equal depth: sizes differ by at most 1
    assert(tiers.map(_._2).max - tiers.map(_._2).min <= 1)
    // fluency-ordered: tier k's worst score is >= tier k+1's best score,
    // and mean scores strictly decrease head -> tail
    tiers.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi._5 >= lo._4, s"tier ${hi._1} worst ${hi._5} < tier ${lo._1} best ${lo._4}")
      assert(hi._6 > lo._6)
    }
  }

  test("bm25 equals an independent in-memory model on a small corpus") {
    val corpus = Seq(
      (0L, "apple banana cherry apple"),
      (1L, "apple apple banana banana date elderberry fig"),
      (2L, "cherry date cherry grape"),
      (3L, "grape fig elderberry date grape plum quince rose"),
      (4L, "apple cherry"))
    val docs = corpus.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bm25TopDocs(docs, queryDocId = 0L)
      .select("doc_id", "n_shared_terms", "dl", "score")
      .as[(Long, Long, Long, Double)].collect()
    // independent model, plain Scala
    val (k1, b) = (1.2, 0.75)
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.length).sum.toDouble / n
    val q = toks(0L).distinct
    val expected = toks.filter(_._1 != 0L).flatMap { case (id, ts) =>
      val shared = q.filter(ts.contains).sorted
      if (shared.isEmpty) None else Some {
        val dl = ts.length.toDouble
        val score = shared.foldLeft(0.0) { (acc, term) =>
          val tf = ts.count(_ == term).toDouble
          val df = toks.values.count(_.contains(term)).toDouble
          val idf = math.log((n - df + 0.5) / (df + 0.5))
          acc + idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        }
        id -> (shared.length.toLong, ts.length.toLong,
          BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    assert(got.length == expected.size)
    got.foreach { case (id, nsh, dl, sc) =>
      val (ensh, edl, esc) = expected(id)
      assert(nsh == ensh && dl == edl, s"doc $id term/len mismatch")
      assert(math.abs(sc - esc) < 1e-9, s"doc $id score $sc vs $esc")
    }
    // ranking order: scores non-increasing
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.reverse.toSeq)
  }

  test("train/val/test split: duplicates can't straddle; shares are sane") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val split = graft.operators.TextAnalysis.trainValTestSplit(docs)
    // identical texts always share a split (the leakage-free property):
    // join assignments back to text and check one split per distinct text
    val perText = docs.select(col("doc_id"), col("text"))
      .join(split.select("doc_id", "split"), "doc_id")
      .groupBy(col("text")).agg(countDistinct(col("split")).as("n_splits"))
    assert(perText.where(col("n_splits") > 1).count() == 0)
    // every doc assigned exactly once; all three labels present-ish
    assert(split.count() == docs.count())
    val shares = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(shares.keySet.subsetOf(Set("train", "val", "test")))
    assert(shares("train") > shares.getOrElse("val", 0L))
    // synthetic straddle check: two byte-identical docs, different ids
    val dup = Seq((1L, "same text twice", "a"), (2L, "same text twice", "b"))
      .toDF("doc_id", "text", "source")
    val dupSplits = graft.operators.TextAnalysis.trainValTestSplit(dup)
      .select("split").distinct().count()
    assert(dupSplits == 1)
  }

  test("sequence packing: contiguous per-source layout, exact span math") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val L = 512L
    val got = graft.operators.TextAnalysis.packSequences(docs, seqLen = L)
      .select("doc_id", "source", "n_tokens", "start_tok", "seq_first", "seq_last")
      .as[(Long, String, Long, Long, Long, Long)]
      .collect()
    assert(got.nonEmpty)
    got.groupBy(_._2).values.foreach { g =>
      val inOrder = g.sortBy(_._1)
      // contiguous: each doc starts exactly where the previous one ended
      inOrder.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._3 == b._4,
          s"gap between ${a._1} and ${b._1}")
        case _ => ()
      }
      inOrder.foreach { case (_, _, n, start, first, last) =>
        assert(first == start / L && last == (start + n - 1) / L)
        // spanning docs really cross a boundary; non-spanning ones fit
        if (last > first) assert((start + n - 1) / L > start / L)
      }
      // some sequence holds more than one doc (packing actually packs)
      assert(inOrder.groupBy(_._5).values.exists(_.length > 1))
    }
  }

  test("bucketed packing: nBuckets=1 is the plain packer; buckets spread work") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val plain = graft.operators.TextAnalysis.packSequences(docs)
      .select("doc_id", "source", "n_tokens", "start_tok", "seq_first", "seq_last")
      .as[(Long, String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val one = graft.operators.TextAnalysis.packSequencesBucketed(docs, nBuckets = 1)
      .select("doc_id", "source", "n_tokens", "start_tok", "seq_first", "seq_last")
      .as[(Long, String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(one == plain)
    // with 8 buckets, a source's docs spread across >1 window partition
    // and each bucket's layout is itself contiguous
    val b8 = graft.operators.TextAnalysis.packSequencesBucketed(docs, nBuckets = 8)
      .select("doc_id", "source", "bucket", "n_tokens", "start_tok")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(b8.map(_._3).distinct.length > 1, "giant source not split across buckets")
    b8.groupBy(r => (r._2, r._3)).values.foreach { g =>
      val inOrder = g.sortBy(_._1)
      assert(inOrder.head._5 == 0L)
      inOrder.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._4 == b._5)
        case _ => ()
      }
    }
  }

  test("epoch shuffle: rerun-identical per epoch, decorrelated across epochs") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val nDocs = docs.count()
    def run() = graft.operators.TextAnalysis.epochShuffle(docs, epochs = 3)
      .select("epoch", "doc_id", "order_key")
      .as[(Long, Long, Long)].collect()
    val a = run()
    // every (epoch, doc) exactly once
    assert(a.length == 3 * nDocs)
    assert(a.map(r => (r._1, r._2)).distinct.length == a.length)
    // checkpoint-resume property: a rerun reproduces the keys bit-for-bit
    assert(a.sorted.toSeq == run().sorted.toSeq)
    // epochs decorrelate: the induced order of epoch 0 differs from epoch 1
    def order(e: Long) = a.filter(_._1 == e).sortBy(r => (r._3, r._2)).map(_._2).toSeq
    assert(order(0) != order(1) && order(1) != order(2))
    // map-side only: no exchange anywhere in the plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = graft.operators.TextAnalysis.epochShuffle(docs)
      .queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "epochShuffle must not shuffle")
  }

  test("line dedup: shared lines drop everywhere, unique lines survive in order") {
    // lineTokens=2 → "lines" are 2-token chunks. The chunk "x y" appears in
    // docs 1, 2 and 3 (df=3 ≥ 2 → boilerplate); everything else is unique.
    val docs = Seq(
      (1L, "x y a b c d"), // lines: "x y" | "a b" | "c d"
      (2L, "x y e f"),     // lines: "x y" | "e f"
      (3L, "x y x y")      // all boilerplate → empty clean_text
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lineDedup(docs, lineTokens = 2)
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 2L, "a b\nc d"),
      (2L, 2L, 1L, "e f"),
      (3L, 2L, 0L, "")))
    // a short tail chunk is its own line and is preserved verbatim
    val tail = Seq((1L, "a b c")).toDF("doc_id", "text")
    val t = graft.operators.TextAnalysis.lineDedup(tail, lineTokens = 2)
      .select("n_lines", "clean_text").as[(Long, String)].head()
    assert(t == ((2L, "a b\nc")))
  }

  test("pii scrub: typed placeholders, per-type counts, nested-case behavior") {
    val docs = Seq(
      (1L, "mail a.b-c@x-mail.co.uk or b@y.io call 415-555-0000 end"),
      (2L, "plain text no pii at all"),
      (3L, "link https://a.example/p?q=1 then http://b.example ok"),
      // a phone INSIDE a url: counted by both patterns (counts are taken on
      // the original text), then phone-scrubbed before the url collapses
      (4L, "see https://a.example/415-555-9999 done")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.piiScrub(docs)
      .select("doc_id", "n_email", "n_phone", "n_url", "clean_text")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 0L, "mail <EMAIL> or <EMAIL> call <PHONE> end"),
      (2L, 0L, 0L, 0L, "plain text no pii at all"),
      (3L, 0L, 0L, 2L, "link <URL> then <URL> ok"),
      (4L, 0L, 1L, 1L, "see <URL> done")))
  }

  test("chunking: overlap span math exact, short docs pass through whole") {
    def doc(n: Int) = (n.toLong, (1 to n).map(i => s"t$i").mkString(" "))
    val docs = Seq(doc(65), doc(64), doc(10), doc(16)).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .chunkDocuments(docs, chunkTokens = 64, overlap = 16)
      .select("doc_id", "chunk_no", "start_tok", "n_tok", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // 65 tokens, stride 48: chunks [0,64) and [48,65) — 16 tokens shared
    assert(got(65L).map(c => (c._2, c._3, c._4)) == Seq((0L, 0L, 64L), (1L, 48L, 17L)))
    assert(got(65L)(0)._5.split(" ").takeRight(16).toSeq ==
      got(65L)(1)._5.split(" ").take(16).toSeq)
    // exactly one chunk when the doc fits; short docs come through verbatim
    assert(got(64L).map(c => (c._3, c._4)) == Seq((0L, 64L)))
    assert(got(10L) == Seq((10L, 0L, 0L, 10L, doc(10)._2)))
    assert(got(16L).map(_._4) == Seq(16L))
  }

  test("contamination spread walks the paraphrase chain to minimum hops") {
    // Sliding 100-token windows over one token stream, stride 10: adjacent
    // windows share 90 tokens (3-shingle J = 88/108 ~ 0.81 >= 0.7), windows
    // two apart share 80 (J ~ 0.66 < 0.7) — so the near-dup graph is the
    // PATH 10-11-12-13, no shortcuts. Doc 10 overlaps eval doc 0's tokens
    // (shared 5-grams -> seed); 11/12/13 share nothing with doc 0 directly.
    val t = (0 until 230).map(i => s"tok$i")
    def window(lo: Int) = t.slice(lo, lo + 100).mkString(" ")
    val docs = Seq(
      (0L, window(0)),      // eval doc: tokens 0..99
      (10L, window(90)),    // shares grams 90..99 with eval -> hop 0
      (11L, window(100)),   // near-dup of 10, no eval overlap -> hop 1
      (12L, window(110)),   // -> hop 2
      (13L, window(120)),   // -> hop 3
      (14L, window(130)))   // hop 4 > maxHops -> excluded
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .contaminationSpread(docs, tau = 0.7, maxHops = 3, nEval = 5)
      .select("doc_id", "hops").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 3L))
  }

  test("curated corpus: admitted docs pass every stage's own predicate") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val admitted = graft.operators.TextAnalysis.curatedCorpus(docs)
      .select($"doc_id".as[Long], $"source".as[String], $"n_tokens".as[Long],
        $"cum_tokens".as[Long]).collect()
    assert(admitted.nonEmpty)
    val ids = admitted.map(_._1).toSet
    // stage 1: every admitted doc passes the quality predicate
    val quality = docs.where(
      graft.operators.TextAnalysis.qualityPredicate(col("text")))
      .select($"doc_id".as[Long]).collect().toSet
    assert(ids.subsetOf(quality))
    // stage 2: no admitted doc is flagged by standalone decontamination
    val contaminated = graft.operators.TextAnalysis.decontaminate(docs)
      .where($"contaminated")
      .select($"doc_id".as[Long]).collect().toSet
    assert(ids.intersect(contaminated).isEmpty)
    // stage 4: per-source cumulative sums respect the budget and id order
    admitted.groupBy(_._2).values.foreach { g =>
      val inOrder = g.sortBy(_._1)
      var cum = 0L
      inOrder.foreach { case (_, _, n, c) =>
        cum += n
        assert(c == cum && c <= 800L)
      }
    }
  }

  test("count-min sketch equals an independent model; estimates never undercount") {
    val dir = "/root/testdata/sf0.001"
    val texts = graft.sources.Tables.documents(spark, dir)
      .select($"text".as[String]).collect()
    val exact = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.split("\\W+").filter(_.nonEmpty)
      .foreach(t => exact(t) = exact.getOrElse(t, 0L) + 1))
    def h31(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c) % 2147483647L)
    def cell(t: String, j: Int): (Int, Long) =
      j -> (h31(t) * (2 * j + 1) + (12345 + 67891L * j)) % 2147483647L % 256
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    exact.foreach { case (t, c) =>
      (0 until 4).foreach { j => cells(cell(t, j)) = cells.getOrElse(cell(t, j), 0L) + c }
    }
    val top = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    val expected = top.map { case (t, c) =>
      val est = (0 until 4).map(j => cells(cell(t, j))).min
      (t, c, est, est - c)
    }.toSet
    val got = graft.operators.TextAnalysis
      .countMinAccuracy(graft.sources.Tables.documents(spark, dir))
      .select("token", "exact_count", "cm_estimate", "overestimate")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    got.foreach { case (t, ex, est, over) =>
      assert(est >= ex && over == est - ex, s"$t undercounted: exact=$ex est=$est")
    }
  }

  test("textrank equals an independent integer-PageRank model on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val minCount = 2L
    val texts = graft.sources.Tables.documents(spark, dir)
      .select($"text".as[String]).collect()
    // independent model: Java split (same quirks), bigram counts, undirected
    // weights, 5 damped rounds of the exact integer recurrence
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val w = t.split("\\W+")
      var i = 1
      while (i < w.length) {
        if (w(i - 1) != w(i))
          bi((w(i - 1), w(i))) = bi.getOrElse((w(i - 1), w(i)), 0L) + 1
        i += 1
      }
    }
    val kept = bi.filter(_._2 >= minCount)
    val sym = scala.collection.mutable.Map.empty[(String, String), Long]
    kept.foreach { case ((a, b), c) =>
      sym((a, b)) = sym.getOrElse((a, b), 0L) + c
      sym((b, a)) = sym.getOrElse((b, a), 0L) + c
    }
    val wOut = sym.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    val n = wOut.size
    var r = wOut.keys.map(_ -> 1000000000000L / n).toMap
    for (_ <- 1 to 5) {
      val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      sym.foreach { case ((s, d), w) =>
        in(d) += (BigInt(r(s)) * w / wOut(s)).toLong
      }
      r = r.keys.map(v => v -> (15L * (1000000000000L / n) / 100L + 85L * in(v) / 100L)).toMap
    }
    val expected = r.toSeq.map { case (t, rk) => (t, rk, wOut(t)) }
      .sortBy { case (t, rk, _) => (-rk, t) }.take(30)
    val got = graft.operators.TextAnalysis
      .textrank(graft.sources.Tables.documents(spark, dir), minCount = minCount, kTop = 30)
      .select("token", "rank_e12", "w_out").as[(String, Long, Long)].collect().toSeq
    assert(got == expected,
      s"first mismatch: ${got.zip(expected).find { case (g, e) => g != e }}")
  }

  test("quality classifier separates a planted two-vocabulary corpus perfectly") {
    // the driver corpus shares ONE vocabulary across langs by construction
    // (no linear signal — the registered entries gate the training
    // arithmetic there); learnability is pinned HERE: disjoint vocabularies
    // must separate perfectly at the default 3 GD rounds
    val va = "the quick brown fox jumps over lazy dog bright river stone".split(" ")
    val vb = "lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor".split(" ")
    val docs = (0 until 40).map { i =>
      val v = if (i % 2 == 0) va else vb
      val text = (0 until 30).map(k => v((i * 7 + k) % v.length)).mkString(" ")
      (i.toLong, text, if (i % 2 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val eval = graft.operators.TextAnalysis.qualityClassifierEval(docs)
      .select("label", "predicted", "n_docs").as[(Long, Long, Long)].collect().toSet
    assert(eval == Set((1L, 1L, 20L), (0L, 0L, 20L)),
      s"planted separable corpus not separated: $eval")
  }

  test("quality classifier training replays exactly driver-side at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val dims = 16; val iters = 3; val eta = 4.0
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)].collect()
    def h31(s: String): Long = {
      var a = 0L; var i = 0
      while (i < s.length) { a = (a * 31 + s.charAt(i)) % 2147483647L; i += 1 }
      a
    }
    val feats = docs.map { case (_, text, lang) =>
      val toks = text.split("\\W+").filter(_.nonEmpty)
      val x = new Array[Double](dims + 1)
      toks.foreach(t => x((h31(t) % dims).toInt) += 1.0)
      if (toks.nonEmpty) (0 until dims).foreach(j => x(j) = x(j) / toks.length.toDouble)
      x(dims) = 1.0
      (x, if (lang == "en") 1.0 else 0.0)
    }
    val n = docs.length
    var w = Array.fill(dims + 1)(0.0)
    for (_ <- 1 to iters) {
      val g = Array.fill(dims + 1)(BigDecimal(0))
      feats.foreach { case (x, y) =>
        var z = 0.0; var j = 0
        while (j <= dims) { z += w(j) * x(j); j += 1 }
        val d = 0.5 + 0.5 * z / (1.0 + math.abs(z)) - y
        j = 0
        while (j <= dims) {
          g(j) += BigDecimal(x(j) * d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          j += 1
        }
      }
      w = w.indices.map(j => w(j) - eta * (g(j).toDouble / n.toDouble)).toArray
    }
    val expected = w.indices.map(j => (j.toLong, w(j))).toSet
    val got = graft.operators.TextAnalysis
      .qualityClassifierWeights(graft.sources.Tables.documents(spark, dir), dims, iters, eta)
      .select("j", "weight").as[(Long, Double)].collect().toSet
    assert(got == expected, s"weights diverged from the driver replay:\n$got\nvs\n$expected")
  }

  test("temperature mix: sqrt(c_min/c_s) thresholds on a skewed planted corpus") {
    // source big carries ~4x small's tokens -> threshold ~ sqrt(1/4)*1e4;
    // the smallest source must keep EVERYTHING (threshold 10000)
    val docs = ((0 until 40).map(i => (i.toLong, Seq.fill(20)(s"tok$i").mkString(" "), "en", "big")) ++
      (100 until 110).map(i => (i.toLong, Seq.fill(20)(s"tok$i").mkString(" "), "en", "small")))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.operators.TextAnalysis.sourceMixTemperature(docs)
      .select("source", "threshold").as[(String, Long)].collect()
    val th = out.groupBy(_._1).map { case (s, rs) => s -> rs.head._2 }
    // counts: big = 40*20 = 800, small = 10*20 = 200 tokens
    val expectBig = math.round(math.sqrt(200.0 / 800.0) * 10000)
    assert(th.get("small").forall(_ == 10000L) || th.get("small").isEmpty == false,
      s"small source must keep everything: $th")
    assert(th("small") == 10000L, s"small threshold: ${th("small")}")
    assert(th("big") == expectBig, s"big threshold ${th("big")} != $expectBig")
    // and the small source's docs all survive (bucket < 10000 always)
    val kept = graft.operators.TextAnalysis.sourceMixTemperature(docs)
      .where($"source" === "small").count()
    assert(kept == 10L, s"small source lost docs: $kept/10")
  }

  test("persisted classifier model serves row-identical scores with zero retrains") {
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fresh = TextAnalysis
      .scoreWithClassifier(docs, TextAnalysis.qualityClassifierWeights(docs))
      .select("doc_id", "score", "predicted").as[(Long, Double, Long)].collect().toSet
    val idx = java.nio.file.Files.createTempDirectory("graft_clf_idx").toString + "/idx"
    val before = TextAnalysis.classifierTrainings.get()
    val first = TextAnalysis.qualityClassifierPersisted(docs, idx)
      .select("doc_id", "score", "predicted").as[(Long, Double, Long)].collect().toSet
    assert(TextAnalysis.classifierTrainings.get() == before + 1,
      "first invocation against an empty model path must train exactly once")
    val served = TextAnalysis.qualityClassifierPersisted(docs, idx)
      .select("doc_id", "score", "predicted").as[(Long, Double, Long)].collect().toSet
    assert(TextAnalysis.classifierTrainings.get() == before + 1,
      "second invocation retrained instead of serving the persisted model")
    assert(first == fresh, "train-and-persist call diverged from fresh scores")
    assert(served == fresh, "persisted-model serve diverged from fresh scores")
  }

  test("the four classifier entries share one literal + one wide training per dataset") {
    // r16 opt (the bpeModelFor discipline): each entry was re-running the
    // eager GD per call. After one warm pass, a second pass over all four
    // entries must add ZERO trainings, and the memoized rows must equal
    // the fresh-trained forms (training is deterministic).
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val entries = Seq("text_quality_classifier", "text_quality_classifier_eval",
      "text_quality_classifier_scores", "text_quality_classifier_scores_wide")
    for (e <- entries) assert(graft.SparkEntry.queries(e)(spark, dir).count() > 0)
    val before = TextAnalysis.classifierTrainings.get()
    for (e <- entries) assert(graft.SparkEntry.queries(e)(spark, dir).count() > 0)
    assert(TextAnalysis.classifierTrainings.get() == before,
      "a warmed classifier entry retrained instead of reading the memo")
    val memoW = graft.SparkEntry.queries("text_quality_classifier")(spark, dir)
      .as[(Long, Double)].collect().toSet
    val freshW = TextAnalysis.qualityClassifierWeights(docs)
      .as[(Long, Double)].collect().toSet
    assert(memoW == freshW, "memoized literal weights diverged from fresh training")
    val memoWide = graft.SparkEntry.queries("text_quality_classifier_scores_wide")(spark, dir)
      .select("doc_id", "score", "predicted").as[(Long, Double, Long)].collect().toSet
    val freshWide = TextAnalysis
      .scoreWithClassifierWide(docs, TextAnalysis.qualityClassifierWeightsWide(docs))
      .select("doc_id", "score", "predicted").as[(Long, Double, Long)].collect().toSet
    assert(memoWide == freshWide, "memoized wide scores diverged from fresh wide training")
  }

  test("CDC chunking: an edit shifts only chunks before the next anchor") {
    import graft.operators.TextAnalysis
    // content-defined boundaries: prepend tokens to a document and every
    // chunk from the first anchor onward must re-emerge hash-identical
    // (fixed-size chunking would re-cut the whole document); sub-splits
    // are anchor-relative, so the property survives the max-cap too
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .where($"doc_id" < 3).select($"text").as[String].collect().mkString(" ")
    val docs = Seq((0L, base, "en"), (1L, "zzz qqq " + base, "en"))
      .toDF("doc_id", "text", "lang")
    val ch = TextAnalysis.chunkDocumentsCdc(docs)
      .select("doc_id", "chunk_seq", "n_tokens", "chunk_hash")
      .as[(Long, Long, Long, Long)].collect()
    val anchored = ch.filter(r => r._1 == 0L && r._2 >= 1L).map(_._4).toSet
    assert(anchored.nonEmpty, "test corpus must contain at least one anchor token")
    val editedHashes = ch.filter(_._1 == 1L).map(_._4).toSet
    assert(anchored.subsetOf(editedHashes),
      s"anchored chunks did not survive the edit: ${anchored -- editedHashes}")
    // lossless cover: chunk token counts sum to the doc's token count
    val n0 = ch.filter(_._1 == 0L).map(_._3).sum
    assert(n0 == base.split(" ").length.toLong,
      s"chunks must partition the doc: $n0 tokens chunked")
    // and chunk-level dedup finds the passage even though it sits at
    // DIFFERENT offsets in the two docs — the CDC payoff
    val dup = TextAnalysis.cdcChunkDedup(docs)
      .select("chunk_hash", "n_docs").as[(Long, Long)].collect()
    assert(dup.nonEmpty && dup.forall(_._2 == 2L),
      s"shared passage not found by chunk dedup: ${dup.toSeq}")
    assert(anchored.subsetOf(dup.map(_._1).toSet),
      "every anchored chunk is shared by both docs and must be reported")
  }

  test("clustered split never lets a near-dup pair straddle folds") {
    import graft.operators.{TextAnalysis, Dedup, SimilarityJoin}
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = SimilarityJoin.allPairsJaccard(docs, tau = 0.7)
    val clusters = Dedup.dedupClusters(docs, pairs)
    val split = TextAnalysis.trainValTestSplitClustered(docs, clusters)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(split.size == docs.count(), "every doc must get a fold")
    val prs = pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(prs.nonEmpty, "sf0.001 must contain near-dup pairs for this test to bite")
    prs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dups $a/$b straddle folds: ${split(a)} vs ${split(b)}")
    }
  }

  test("DSIR importance scores separate a planted two-vocabulary corpus") {
    import graft.operators.TextAnalysis
    // target (en) docs draw from vocabulary A, the rest from B: every
    // A-token bucket's target share beats its raw share, so the add-one
    // smoothed log-likelihood-ratio sum must rank every A-doc above every
    // B-doc (deterministic hash -> stable even if A and B share buckets)
    val va = "the quick brown fox jumps over lazy dog bright river".split(" ")
    val vb = "lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor".split(" ")
    val docs = (0 until 40).map { i =>
      val v = if (i % 2 == 0) va else vb
      val text = (0 until 25).map(k => v((i * 3 + k) % v.length)).mkString(" ")
      (i.toLong, text, if (i % 2 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val scores = TextAnalysis.dsirScores(docs)
      .select("doc_id", "dsir_logweight").as[(Long, Double)].collect()
    val (target, rest) = scores.partition(_._1 % 2 == 0)
    assert(target.map(_._2).min > rest.map(_._2).max,
      s"planted target docs not separated: ${scores.sortBy(_._1).toSeq}")
    // and the ranked selection returns exactly the top docs by that order
    val sel = TextAnalysis.dsirSelect(docs, k = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(sel == target.map(_._1).toSet,
      s"top-20 selection should be exactly the 20 target docs: $sel")
  }

  test("BPE merges on a planted corpus follow the hand-computed sequence with early stop") {
    import graft.operators.TextAnalysis
    // words: abab x3, ab x2, ba x1
    // round 1: (a,b) = 2*3 + 2 = 8 beats (b,a) = 3 + 1 = 4 -> merge ab
    // round 2: (ab,ab) = 3 -> merge abab;  round 3: (b,a) = 1 -> merge ba
    // round 4: no adjacent pairs remain -> early stop at 3 of 5 rounds
    val docs = Seq((0L, "abab abab abab ab ab ba", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bpeMerges(docs, rounds = 5)
      .select("merge_round", "lhs", "rhs", "merged", "pair_count")
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", "b", "ab", 8L), (2L, "ab", "ab", "abab", 3L),
      (3L, "b", "a", "ba", 1L)), s"merge sequence: $got")
    val tc = TextAnalysis.bpeTokenCounts(docs, rounds = 5)
      .select("doc_id", "n_words", "n_chars", "n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // 6 words, 18 chars; tokens: abab->1 each, ab->1 each, and round 3's
    // (b,a) merge makes ba a single token = 3 + 2 + 1 = 6
    assert(tc == Seq((0L, 6L, 18L, 6L)), s"token counts: $tc")
  }

  test("BPE training replays exactly driver-side at sf0.001") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    def applyMerge(toks: Vector[String], a: String, b: String): Vector[String] = {
      // left-to-right non-overlapping, the replace() scan order
      val out = Vector.newBuilder[String]; var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }
    val words = graft.sources.Tables.documents(spark, dir)
      .select($"text").as[String].collect()
      .flatMap(_.split("\\W+")).filter(_.nonEmpty)
    var cur: Map[Vector[String], Long] =
      words.groupBy(w => w.map(_.toString).toVector).map { case (k, v) => k -> v.length.toLong }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to 8) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      cur.foreach { case (toks, c) =>
        toks.iterator.zip(toks.iterator.drop(1)).foreach(p => pc(p) += c)
      }
      if (pc.nonEmpty) {
        val ((a, b), n) = pc.toSeq.minBy { case ((x, y), m) => (-m, x, y) }
        expected += ((a, b, n))
        cur = cur.groupMapReduce { case (toks, _) => applyMerge(toks, a, b) }(_._2)(_ + _)
      }
    }
    assert(expected.size == 8, "sf0.001 corpus must sustain 8 merge rounds")
    // BPE invariant: the max pair count never increases round over round
    // (a merge only removes old adjacencies; a new pair's count is bounded
    // by the count of the merge that created its token)
    val counts = expected.map(_._3).toSeq
    counts.zip(counts.tail).foreach { case (p, q) =>
      assert(q <= p, s"pair counts increased: $counts")
    }
    val got = TextAnalysis.bpeMerges(graft.sources.Tables.documents(spark, dir), 8)
      .select("merge_round", "lhs", "rhs", "pair_count")
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
      .map(r => (r._2, r._3, r._4))
    assert(got == expected.toSeq, s"merges diverged from the driver replay:\n$got\nvs\n$expected")
  }

  test("BPE vocab totals equal the summed per-doc token counts at sf0.001") {
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocabTotal = TextAnalysis.bpeVocab(docs)
      .agg(sum($"freq")).as[Long].collect().head
    val docTotal = TextAnalysis.bpeTokenCounts(docs)
      .agg(sum($"n_bpe_tokens")).as[Long].collect().head
    assert(vocabTotal == docTotal,
      s"vocab instance total $vocabTotal != per-doc token total $docTotal")
  }

  test("persisted BPE model serves row-identical token counts with zero retrains") {
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fresh = TextAnalysis.bpeTokenCounts(docs)
      .select("doc_id", "n_words", "n_chars", "n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    val idx = java.nio.file.Files.createTempDirectory("graft_bpe_idx").toString + "/idx"
    val before = TextAnalysis.bpeTrainings.get()
    val first = TextAnalysis.bpeTokenCountsPersisted(docs, idx)
      .select("doc_id", "n_words", "n_chars", "n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(TextAnalysis.bpeTrainings.get() == before + 1,
      "first invocation against an empty model path must train exactly once")
    val served = TextAnalysis.bpeTokenCountsPersisted(docs, idx)
      .select("doc_id", "n_words", "n_chars", "n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(TextAnalysis.bpeTrainings.get() == before + 1,
      "second invocation retrained instead of serving the persisted model")
    assert(first == fresh, "train-and-persist call diverged from fresh counts")
    assert(served == fresh, "persisted-model serve diverged from fresh counts")
  }

  test("classifier trains and serves at dims=256 (honest-width knob, VERDICT r8 item 6)") {
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val weights = TextAnalysis.qualityClassifierWeights(docs, dims = 256)
    val w = weights.select($"j", $"weight").as[(Long, Double)].collect().sortBy(_._1)
    assert(w.length == 257, s"256 feature weights + bias expected, got ${w.length}")
    assert(w.forall(x => java.lang.Double.isFinite(x._2)), "non-finite weight")
    assert(w.exists(_._2 != 0.0), "training left all weights at zero")
    // serve path at the same width: one score per doc, all finite, and the
    // prediction boundary consistent with the score sign
    val scores = TextAnalysis.scoreWithClassifier(docs, weights, dims = 256)
      .select($"doc_id", $"score", $"predicted").as[(Long, Double, Long)].collect()
    assert(scores.length == docs.count())
    scores.foreach { case (id, sc, p) =>
      assert(java.lang.Double.isFinite(sc) && p == (if (sc >= 0.0) 1L else 0L),
        s"doc $id: score $sc / predicted $p inconsistent")
    }
    // the fit direction is non-degenerate: after 3 GD rounds the mean
    // score of the positive class (en) must exceed the negative class's
    // (the 0-threshold itself needn't be crossed in 3 rounds from zero)
    val lang = docs.select($"doc_id", ($"lang" === "en").as("en"))
      .as[(Long, Boolean)].collect().toMap
    val (pos, neg) = scores.partition(s => lang(s._1))
    assert(pos.nonEmpty && neg.nonEmpty)
    assert(pos.map(_._2).sum / pos.length > neg.map(_._2).sum / neg.length,
      "dims=256 model does not separate the training labels in score space")
  }

  test("wide (join-serve) classifier is bit-identical to the literal path at 16 and 256 dims") {
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    for (dims <- Seq(16, 256)) {
      // TRAINING: the table-weight GD must reproduce the literal-inlined
      // GD weight-for-weight, bit-exactly — same features (sparse skips
      // only exact-zero terms), same ascending-j fold order, same decimal
      // gradient sums
      val lit16 = TextAnalysis.qualityClassifierWeights(docs, dims = dims)
        .as[(Long, Double)].collect().sortBy(_._1)
      val wide16 = TextAnalysis.qualityClassifierWeightsWide(docs, dims = dims)
        .as[(Long, Double)].collect().sortBy(_._1)
      assert(wide16.length == dims + 1)
      assert(lit16.zip(wide16).forall { case ((ja, wa), (jb, wb)) =>
        ja == jb && wa.equals(wb) // Double.equals: bit-identity incl. ±0/NaN
      }, s"wide training diverged from literal training at dims=$dims")
      // SERVE: the join-based scorer must be row-identical to the dense
      // broadcast-array scorer against the same weight table
      val wdf = TextAnalysis.qualityClassifierWeightsWide(docs, dims = dims)
      val litScores = TextAnalysis.scoreWithClassifier(docs, wdf, dims = dims)
        .as[(Long, Double, Long)].collect().toSet
      val wideScores = TextAnalysis.scoreWithClassifierWide(docs, wdf, dims = dims)
        .as[(Long, Double, Long)].collect().toSet
      assert(litScores.nonEmpty && wideScores == litScores,
        s"wide serve diverged from literal serve at dims=$dims")
    }
  }

  test("hybrid retrieval equals an in-memory RRF fusion of its two rank lists") {
    import graft.operators.{TextAnalysis, EmbeddingSearch}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // the two rank lists, collected INDEPENDENTLY of the fused operator
    val lex = TextAnalysis.bm25TopDocs(docs, 0L, kTop = 20)
      .select($"doc_id", $"score").as[(Long, Double)].collect()
      .sortBy { case (id, sc) => (-sc, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val sem = EmbeddingSearch.exactTopK(spark, dir, EmbeddingSearch.Cos, k = 20, nQueries = 1)
      .select($"vec_id", $"rank").as[(Long, Long)].collect().toMap
    assert(lex.nonEmpty && sem.nonEmpty, "a retrieval list is empty — fusion pin is vacuous")
    // plain-Scala RRF over the union, fixed lexical-then-semantic order
    val fused = (lex.keySet ++ sem.keySet).toSeq.map { id =>
      val r = lex.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0) +
        sem.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0)
      (id, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, r) => (-r, id) }.take(10)
      .zipWithIndex.map { case ((id, r), i) => (id, r, i + 1L) }.toSet
    val got = TextAnalysis.hybridTopK(docs, emb)
      .select($"doc_id", $"rrf", $"rank").as[(Long, Double, Long)].collect().toSet
    assert(got == fused, "hybridTopK diverged from the in-memory RRF replay")
    // rank columns are consistent with membership: a doc with both ranks
    // must out-fuse a doc appearing in only one list at equal-or-worse ranks
    val rows = TextAnalysis.hybridTopK(docs, emb)
      .select($"doc_id", $"lex_rank", $"sem_rank").collect()
    assert(rows.forall(r => !(r.isNullAt(1) && r.isNullAt(2))),
      "a fused doc carries neither rank")
  }

  test("multi-query hybrid serve equals a full plain-Scala replay of both sides") {
    import graft.operators.{TextAnalysis, EmbeddingSearch}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_kernel").toString
    val bmIdx = s"$root/bm"; val ivfIdx = s"$root/ivf"
    TextAnalysis.buildBm25Index(docs, bmIdx)
    EmbeddingSearch.buildIvfIndex(emb.select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v")),
      ivfIdx)
    val queries = docs.select($"doc_id".as("query_id"), $"text")
      .join(emb.select($"vec_id".as("query_id"), $"embedding"), "query_id")
      .where($"query_id" < 2)

    // ——— plain-Scala replay, independent of every Spark plan above ———
    val corpus = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    val qs = queries.select($"query_id", $"text", $"embedding")
      .as[(Long, String, Seq[Float])].collect()
      .map { case (id, t, v) => (id, t, v.map(_.toDouble).toArray) }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // postings exactly as buildBm25Index materializes them (Java \W+
    // split parity is the engine's own tokenize contract, EXCEPT that
    // empty/all-punct text tokenizes to [] where Java yields [""])
    def engineToks(t: String): Seq[String] = {
      val raw = t.split("\\W+").toSeq
      if (raw == Seq("")) Seq.empty else raw
    }
    val postings = corpus.flatMap { case (id, t) =>
      engineToks(t).map(w => (id, w))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap // ((doc,term)) -> tf
    val dls = postings.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    val n = dls.size.toDouble
    val avgdl = dls.values.sum.toDouble / n
    val dfs = postings.keys.toSeq.map(_._2).groupBy(identity).view
      .mapValues(_.length.toDouble).toMap
    val expected = qs.flatMap { case (qid, qtext, qv) =>
      val qTerms = qtext.split("\\W+").toSeq.filter(_.nonEmpty).distinct
      val lexScores = corpus.map(_._1).flatMap { did =>
        val ts = qTerms.flatMap { term =>
          postings.get((did, term)).map { tf =>
            val df = dfs(term)
            val idf = math.log((n - df + 0.5) / (df + 0.5))
            term -> idf * (tf.toDouble * (1.2 + 1.0)) /
              (tf.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * dls(did).toDouble / avgdl))
          }
        }
        if (ts.isEmpty) None
        else Some(did -> round6(ts.sortBy(_._1).foldLeft(0.0)(_ + _._2)))
      }
      val lexRank = lexScores.sortBy { case (id, sc) => (-sc, id) }.take(20)
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
      def dotSeq(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
      }
      val semScores = vecs.map { case (id, v) =>
        val na = math.sqrt(dotSeq(v, v)); val nb = math.sqrt(dotSeq(qv, qv))
        id -> round6(if (na == 0.0 || nb == 0.0) 0.0 else dotSeq(v, qv) / (na * nb))
      }
      val semRank = semScores.sortBy { case (id, sc) => (-sc, id) }.take(20)
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
      (lexRank.keySet ++ semRank.keySet).toSeq.map { id =>
        val rrf = round6(lexRank.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0) +
          semRank.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0))
        (id, lexRank.get(id), semRank.get(id), rrf)
      }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(10)
        .zipWithIndex.map { case ((id, lr, sr, rrf), i) =>
          (qid, id, lr, sr, rrf, i + 1L)
        }
    }.toSet

    val got = TextAnalysis.hybridServeBatch(queries, bmIdx, ivfIdx)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getDouble(4), r.getLong(5))
      }.toSet
    assert(expected.nonEmpty && got == expected,
      "hybridServeBatch diverged from the plain-Scala two-sided replay")

    // ——— nprobe contracts on the same indexes/batch ———
    // full probe ≡ the exact flat scan, row-identical (every cell probed
    // means every vector scored — the same candidates, the same folds)
    val gotFull = TextAnalysis.hybridServeBatch(queries, bmIdx, ivfIdx, nprobe = 8)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getDouble(4), r.getLong(5))
      }.toSet
    assert(gotFull == expected, "nprobe=k diverged from the exact flat scan")
    // partial probe: every semantic candidate must come from the query's
    // probed cells (the recall trade is BOUNDED to unprobed cells)
    val assign = spark.read.parquet(s"$ivfIdx/ivf")
      .select($"vec_id", $"cl").as[(Long, Int)].collect().toMap
    val cent = spark.read.parquet(s"$ivfIdx/cent").collect()
    val probed1 = TextAnalysis.hybridServeBatch(queries, bmIdx, ivfIdx, nprobe = 1)
      .where($"sem_rank".isNotNull)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
    assert(probed1.nonEmpty, "nprobe=1 returned no semantic candidates")
    val qv = qs.map { case (id, _, v) => id -> v }.toMap
    def dotSeq2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    probed1.foreach { case (queryId, vecId) =>
      // the query's single probed cell, by the kmeansAssign discipline
      val v = qv(queryId)
      val best = cent.map { r =>
        val cv = r.getAs[Seq[Double]]("cv").toArray
        val na = math.sqrt(dotSeq2(v, v)); val nb = math.sqrt(dotSeq2(cv, cv))
        val c = if (na == 0.0 || nb == 0.0) 0.0 else dotSeq2(v, cv) / (na * nb)
        (round6(c), r.getAs[Int]("cl"))
      }.sortBy { case (c, cl) => (-c, cl) }.head._2
      assert(assign(vecId) == best,
        s"query $queryId: semantic candidate $vecId from cell ${assign(vecId)}, " +
          s"but nprobe=1 probes only cell $best")
    }
  }

  test("probed single-query hybrid serve: full probe equals exact; batch serve is batch-size invariant") {
    import graft.operators.{TextAnalysis, EmbeddingSearch}
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_probed").toString
    val bmIdx = s"$root/bm"; val ivfIdx = s"$root/ivf"
    TextAnalysis.buildBm25Index(graft.sources.Tables.documents(spark, dir), bmIdx)
    EmbeddingSearch.buildIvfIndex(graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("v")),
      ivfIdx)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3), r.getLong(4))
    }.toSet
    // the idmap side table (the by-id lookup path of the probed serve)
    // can never disagree with the vector table it derives from
    val fromIvf = spark.read.parquet(s"$ivfIdx/ivf")
      .select($"vec_id", $"cl".cast("int")).as[(Long, Int)].collect().toSet
    val fromIdmap = spark.read.parquet(s"$ivfIdx/idmap")
      .select($"vec_id", $"cl".cast("int")).as[(Long, Int)].collect().toSet
    assert(fromIvf.nonEmpty && fromIdmap == fromIvf,
      "idmap diverged from the ivf table's (vec_id, cl) assignments")
    // probing every trained cell scores every vector — row-identical to
    // the exact flat-scan tier (same candidates, same folds)
    val exact = rows(TextAnalysis.hybridTopKServed(spark, bmIdx, ivfIdx))
    val full = rows(TextAnalysis.hybridTopKServed(spark, bmIdx, ivfIdx, nprobe = 8))
    assert(exact.nonEmpty && full == exact,
      "single-query nprobe=k serve diverged from the exact flat scan")
    // a partial probe keeps the contract shape: kTop fused rows, and the
    // query's own doc is excluded exactly as in the exact serve
    val probed = TextAnalysis.hybridTopKServed(spark, bmIdx, ivfIdx, nprobe = 1)
    assert(probed.count() == 10 && probed.where($"doc_id" === 0L).isEmpty,
      "partial probe broke the serve contract (kTop rows, self-excluded)")

    // batch-size invariance (the book_query_batch discipline): the 3-query
    // batch's per-query rows equal each query served in its own batch
    val queries = TextAnalysis.hybridQuerySet(spark, dir, 3)
    val batched = TextAnalysis.hybridServeBatch(queries, bmIdx, ivfIdx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getLong(5))).toSet
    val oneByOne = (0L until 3L).flatMap { qid =>
      TextAnalysis.hybridServeBatch(queries.where($"query_id" === qid), bmIdx, ivfIdx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getLong(5)))
    }.toSet
    assert(batched.nonEmpty && batched == oneByOne,
      "hybridServeBatch results depend on how queries are batched")
  }

  test("BM25 index: serve equals the in-DAG ranking; build/extend/forget contracts hold") {
    import graft.operators.{TextAnalysis, Forget}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_bm25idx_spec").toString
    val idx = s"$root/full"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())

    // serve refuses an index that was never committed
    val uncommitted = intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopDocsWithIndex(spark, s"$root/nothere")
    }
    assert(uncommitted.getMessage.contains("_DONE"))
    // extend refuses to repair a missing/crashed build
    val noBuild = intercept[IllegalArgumentException] {
      TextAnalysis.extendBm25Index(s"$root/nothere", docs)
    }
    assert(noBuild.getMessage.contains("buildBm25Index"))

    TextAnalysis.buildBm25Index(docs, idx)
    val want = TextAnalysis.bm25TopDocs(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = TextAnalysis.bm25TopDocsWithIndex(spark, idx)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(want.nonEmpty && got == want,
      "persisted-index serve diverged from the in-DAG BM25 ranking")
    // the derived tables can never disagree with postings: doclens must
    // equal the lens a full scan derives, and the forward index must hold
    // exactly the postings' (doc_id, term) pairs
    def doclensDrift(): Set[(Long, Long)] = {
      val derived = spark.read.parquet(s"$idx/postings")
        .groupBy("doc_id").agg(sum($"tf").as("dl"))
        .as[(Long, Long)].collect().toSet
      val stored = spark.read.parquet(s"$idx/doclens")
        .as[(Long, Long)].collect().toSet
      stored.diff(derived) ++ derived.diff(stored)
    }
    def fwdDrift(): Set[(Long, String)] = {
      val derived = spark.read.parquet(s"$idx/postings")
        .select($"doc_id", $"term").as[(Long, String)].collect().toSet
      val stored = spark.read.parquet(s"$idx/fwd")
        .select($"doc_id", $"term").as[(Long, String)].collect().toSet
      stored.diff(derived) ++ derived.diff(stored)
    }
    assert(doclensDrift().isEmpty, "doclens diverged from postings after build")
    assert(fwdDrift().isEmpty, "fwd diverged from postings after build")

    // extend refuses while a crashed forget pass is pending
    val marker = new org.apache.hadoop.fs.Path(idx, "_FORGET_IDS")
    fs.create(marker, true).close()
    val crashed = intercept[IllegalArgumentException] {
      TextAnalysis.extendBm25Index(idx, docs.limit(1))
    }
    assert(crashed.getMessage.contains("forget"))
    fs.delete(marker, false)

    // forgetting a ranked doc re-ranks exactly like rebuilding without it:
    // df/N/avgdl all derive from the surviving postings, so the single
    // postings table IS the whole consistency story
    val victim = want.map(_._1).min
    Forget.forgetEverywhere(spark, s"$root/manifest",
      Seq(victim).toDF("doc_id"), Seq(Forget.bm25Target(idx)))
    val wantAfter = TextAnalysis.bm25TopDocs(docs.where($"doc_id" =!= victim))
      .as[(Long, Long, Long, Double)].collect().toSet
    val gotAfter = TextAnalysis.bm25TopDocsWithIndex(spark, idx)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(gotAfter == wantAfter,
      "post-forget serve diverged from a rebuild on the filtered corpus")
    assert(gotAfter != want, "forgetting a ranked doc must change the ranking")
    assert(doclensDrift().isEmpty,
      "doclens diverged from postings after forget — the generic kernel " +
        "must filter both doc_id-keyed tables together")
    assert(fwdDrift().isEmpty,
      "fwd diverged from postings after forget — all three doc_id-keyed " +
        "tables must filter together")

    // the forget rewrite PRESERVES the partitioned layouts (r12): the
    // bucket=/db= directories survive, so the pruned serve keeps its
    // plan-time partition pruning after a forget — and extend stays legal
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(idx, "postings"))
        .exists(_.getPath.getName.startsWith("bucket=")),
      "forget flattened the postings layout — partition dirs must survive")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(idx, "fwd"))
        .exists(_.getPath.getName.startsWith("db=")),
      "forget flattened the fwd layout — partition dirs must survive")
    // extend-AFTER-forget: append a brand-new doc over the preserved
    // layout; serving then must equal a full rebuild over (corpus minus
    // victim plus the new doc)
    val newDoc = Seq((990001L, "zzqx zzqy zzqx zzqy zzqz")).toDF("doc_id", "text")
    TextAnalysis.extendBm25Index(idx, newDoc)
    val wantExt = TextAnalysis.bm25TopDocs(
        docs.select($"doc_id", $"text").where($"doc_id" =!= victim)
          .unionByName(newDoc))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(TextAnalysis.bm25TopDocsWithIndex(spark, idx)
      .as[(Long, Long, Long, Double)].collect().toSet == wantExt,
      "serve after forget-then-extend diverged from a rebuild on the same corpus")

    // a genuinely FLAT table (a pre-r12 forget rewrite, or an external
    // writer) is still refused: flatten postings by hand and extend
    val pPath = new org.apache.hadoop.fs.Path(idx, "postings")
    val pTmp = new org.apache.hadoop.fs.Path(idx, "postings__flat")
    spark.read.parquet(pPath.toString)
      .write.mode("overwrite").parquet(pTmp.toString)
    fs.delete(pPath, true)
    assert(fs.rename(pTmp, pPath))
    val flat = intercept[IllegalArgumentException] {
      TextAnalysis.extendBm25Index(idx, docs.limit(1))
    }
    assert(flat.getMessage.contains("FLAT"))
    // serve still works on the flat layout (pruning degrades, rows don't)
    assert(TextAnalysis.bm25TopDocsWithIndex(spark, idx)
      .as[(Long, Long, Long, Double)].collect().toSet == wantExt)

    // a committed-but-EMPTY table is NOT flat: zero rows leave no
    // partition dirs and no data files (only _SUCCESS) — extend must
    // establish the layout, not refuse with the misleading FLAT diagnosis
    val emptyIdx = s"$root/empty"
    for (t <- Seq("postings", "doclens", "fwd")) {
      val tp = new org.apache.hadoop.fs.Path(emptyIdx, t)
      fs.mkdirs(tp)
      fs.create(new org.apache.hadoop.fs.Path(tp, "_SUCCESS"), true).close()
    }
    fs.create(new org.apache.hadoop.fs.Path(emptyIdx, "_DONE"), true).close()
    TextAnalysis.extendBm25Index(emptyIdx, newDoc)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(emptyIdx, "postings"))
        .exists(_.getPath.getName.startsWith("bucket=")),
      "the first append must establish the partitioned layout")
    // the only doc is the query doc itself (self-excluded) — 0 rows, but
    // the serve runs, proving the appended tables are a readable index
    assert(TextAnalysis.bm25TopDocsWithIndex(spark, emptyIdx, queryDocId = 990001L)
      .collect().isEmpty, "a single-doc index has no other docs to rank")

    // forget-ALL: removing every row of the partitioned tables must
    // leave a READABLE committed index (an empty partitioned write has
    // no part-files and would crash schema inference on every later
    // serve — the kernel rewrites the empty result as one
    // schema-bearing flat file) and a later extend reads it as FLAT
    // (rebuild is the honest remedy for repopulating an emptied index)
    val allIdx = s"$root/all"
    val threeDocs = docs.select($"doc_id", $"text").where($"doc_id" < 3)
    TextAnalysis.buildBm25Index(threeDocs, allIdx)
    Forget.forgetEverywhere(spark, s"$root/manifest_all",
      threeDocs.select($"doc_id"), Seq(Forget.bm25Target(allIdx)))
    assert(spark.read.parquet(s"$allIdx/postings").count() == 0,
      "forget-all must leave a readable empty postings table")
    assert(TextAnalysis.bm25TopDocsWithIndex(spark, allIdx).collect().isEmpty,
      "serving an emptied index must return 0 rows, not crash")
    val emptiedFlat = intercept[IllegalArgumentException] {
      TextAnalysis.extendBm25Index(allIdx, newDoc)
    }
    assert(emptiedFlat.getMessage.contains("FLAT"))

    // wrong-key partition dirs are refused too (not the empty allowance)
    val wrongIdx = s"$root/wrong"
    TextAnalysis.buildBm25Index(threeDocs, wrongIdx)
    val wp = new org.apache.hadoop.fs.Path(wrongIdx, "postings")
    val wTmp = new org.apache.hadoop.fs.Path(wrongIdx, "postings__w")
    spark.read.parquet(wp.toString).withColumnRenamed("bucket", "zone")
      .write.mode("overwrite").partitionBy("zone").parquet(wTmp.toString)
    fs.delete(wp, true)
    assert(fs.rename(wTmp, wp))
    val wrongKey = intercept[IllegalArgumentException] {
      TextAnalysis.extendBm25Index(wrongIdx, newDoc)
    }
    assert(wrongKey.getMessage.contains("wrong key"))

    // a crashed EXTEND (_DONE deleted, appends in an unknown state) can
    // only be repaired by rebuild: re-running extend would append the
    // batch postings a second time and silently double tf/df/dl
    val done = new org.apache.hadoop.fs.Path(idx, "_DONE")
    fs.delete(done, false)
    val halfExtended = intercept[IllegalArgumentException] {
      TextAnalysis.extendBm25Index(idx, docs.limit(1))
    }
    assert(halfExtended.getMessage.contains("crashed EXTEND"))
  }

  test("BM25 auto-compaction: an extend loop stays file-bounded, serves row-identical, empty doclens tolerated") {
    // r14: the IVF auto-compaction discipline on the lexical artifact —
    // extendBm25Index triggers the in-place rewrite once any bucket=/db=
    // dir (or flat doclens) crosses the shared threshold; no manual call
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val root = java.nio.file.Files.createTempDirectory("graft_bm25ac").toString
    val idx = s"$root/idx"
    TextAnalysis.buildBm25Index(docs.where($"doc_id" < 20), idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val extendsRun = graft.operators.EmbeddingSearch.IvfCompactFileThreshold + 4
    for (i <- 1 to extendsRun)
      TextAnalysis.extendBm25Index(idx,
        docs.where($"doc_id" >= 20 + (i - 1) * 3 && $"doc_id" < 20 + i * 3))
    def doclensFiles(): Int = fs
      .listStatus(new org.apache.hadoop.fs.Path(idx, "doclens"))
      .count(e => e.isFile && !e.getPath.getName.startsWith("_") &&
        !e.getPath.getName.startsWith("."))
    assert(doclensFiles() <= graft.operators.EmbeddingSearch.IvfCompactFileThreshold,
      s"auto-compaction did not bound doclens: ${doclensFiles()} files")
    def maxPartFiles(t: String, pk: String): Int = fs
      .listStatus(new org.apache.hadoop.fs.Path(idx, t)).toSeq
      .filter(e => !e.isFile && e.getPath.getName.startsWith(s"$pk="))
      .map(d => fs.listStatus(d.getPath).count(e => e.isFile &&
        !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith(".")))
      .foldLeft(0)(math.max)
    assert(maxPartFiles("postings", "bucket") <=
        graft.operators.EmbeddingSearch.IvfCompactFileThreshold,
      "auto-compaction did not bound the postings layout")
    // serve parity across the triggered rewrites: the index equals an
    // in-DAG ranking over exactly what was built + appended
    val corpus = docs.where($"doc_id" < 20 + extendsRun * 3)
    val want = TextAnalysis.bm25TopDocs(corpus)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(TextAnalysis.bm25TopDocsWithIndex(spark, idx)
      .as[(Long, Long, Long, Double)].collect().toSet == want,
      "post-loop serve diverged from the in-DAG ranking")
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx, "_DONE")))
    // direct compaction of an index whose doclens is committed-but-empty
    // must be a tolerated no-op on that table, not a crash after _DONE
    // dropped (the empty-table allowance, pre-flight)
    val emptyIdx = s"$root/empty"
    for (t <- Seq("postings", "doclens", "fwd")) {
      val tp = new org.apache.hadoop.fs.Path(emptyIdx, t)
      fs.mkdirs(tp)
      fs.create(new org.apache.hadoop.fs.Path(tp, "_SUCCESS"), true).close()
    }
    fs.create(new org.apache.hadoop.fs.Path(emptyIdx, "_DONE"), true).close()
    TextAnalysis.compactBm25Index(spark, emptyIdx)
    assert(fs.exists(new org.apache.hadoop.fs.Path(emptyIdx, "_DONE")),
      "compacting an empty index must recommit, not crash mid-pass")
  }

  test("BM25 incremental: build+extend equals full rebuild and resumes a crash between them") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val split = docs.count() * 4 / 5
    val root = java.nio.file.Files.createTempDirectory("graft_bm25inc_spec").toString
    val want = TextAnalysis.bm25TopDocs(docs)
      .as[(Long, Long, Long, Double)].collect().toSet

    // fresh: build 4/5 + append 1/5 ≡ the full-corpus ranking
    val inc = TextAnalysis.bm25Incremental(spark, dir, s"$root/a")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc == want, "incremental index serve diverged from the full ranking")

    // crash simulation: a prior run died between build and extend — the
    // index is committed (_DONE) but holds only the 4/5 corpus and no
    // _READY marker; the rerun must NOT serve it as-is
    TextAnalysis.buildBm25Index(docs.where($"doc_id" < split), s"$root/b")
    val resumed = TextAnalysis.bm25Incremental(spark, dir, s"$root/b")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(resumed == want,
      "crash-resume served the 4/5-only index instead of rebuilding+extending")
  }
}
