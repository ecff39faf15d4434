package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, SimilarityJoin}

/** Dedup fixtures (FIXTURES.md §B.5): exact duplicates, near-duplicates with
  * known Jaccard, and agreement between the exact prefix-join and the
  * approximate (MinHash/SimHash) detectors on clear-cut cases.
  */
class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat today"),   // near dup of 1/2
    (4L, "completely different words about spark engines and parquet files"),
    (5L, "one two")                                              // < 3 tokens: empty shingle set
  ).toDF("doc_id", "text")

  test("exact dedup groups duplicates, keeper = min doc_id") {
    val groups = Dedup.exactGroups(docs)
      .select("n_copies", "keeper").as[(Long, Long)].collect().toSet
    assert(groups.contains((2L, 1L)))          // docs 1,2 collapse, keep 1
    assert(groups.count(_._1 == 1L) == 3)      // 3 singleton groups
  }

  test("normalized exact dedup merges whitespace/case variants raw hashing keeps apart") {
    val messy = Seq(
      (1L, "The Quick  Brown fox"),
      (2L, "  the quick brown\tfox "),   // same doc modulo case + whitespace
      (3L, "a genuinely different document")
    ).toDF("doc_id", "text")
    assert(Dedup.exactGroups(messy).count() == 3) // raw md5 sees 3 distinct texts
    val norm = Dedup.exactGroupsNormalized(messy)
      .select("n_copies", "keeper").as[(Long, Long)].collect().toSet
    assert(norm == Set((2L, 1L), (1L, 3L)))
  }

  test("incremental dedup tiers a batch against a persisted corpus index") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an unrelated corpus document about distributed query engines"),
      (3L, "colorless green ideas sleep furiously inside the data center while " +
        "the replicated shards keep serving reads from every warm standby node")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (12L, "colorless green ideas sleep furiously inside the data center while " +
        "the replicated shards keep serving reads from every cold standby node"), // near dup of 3
      (13L, "nothing here resembles anything the index has seen before at all")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_dedupidx_spec").toString
    Dedup.buildDedupIndex(corpus, idx)
    val got = Dedup.dedupAgainst(idx, batch, tau = 0.5)
      .select("doc_id", "exact_keeper", "near_keeper", "status")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(11L) == ((11L, 1L, 1L, "exact_dup"))) // an exact dup is also J=1 near
    assert(got(12L) == ((12L, -1L, 3L, "near_dup")))
    assert(got(13L) == ((13L, -1L, -1L, "unique")))
  }

  test("incremental dedup equals full-corpus LSH pairs restricted to the batch") {
    // the contract that makes incremental SAFE to deploy: indexing the first
    // 4/5 and streaming the last 1/5 through dedupAgainst finds exactly the
    // (corpus, batch) pairs the full-corpus join finds (sf0.01 is the
    // smallest fixture with planted cross-split near-dup families)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val split = docs.count() * 4 / 5
    val idx = java.nio.file.Files.createTempDirectory("graft_dedupidx_equiv").toString
    Dedup.buildDedupIndex(docs.where(col("doc_id") < split), idx)
    val inc = Dedup.dedupAgainst(idx, docs.where(col("doc_id") >= split), tau = 0.7)
      .where(col("near_keeper") >= 0L)
      .select("doc_id", "near_keeper").as[(Long, Long)].collect().toMap
    val full = Dedup.minhashLshPairs(docs, tau = 0.7)
      .where(col("doc_a") < split && col("doc_b") >= split)
      .groupBy(col("doc_b")).agg(org.apache.spark.sql.functions.min(col("doc_a")))
      .as[(Long, Long)].collect().toMap
    assert(inc.nonEmpty, "fixture has no cross-split near-dups — equivalence check is vacuous")
    assert(inc == full)
  }

  test("extendDedupIndex serves identically to rebuilding over corpus+batch") {
    // the ingest loop: corpus -> index; day 1's batch appended; day 2's
    // batch must see exactly what a from-scratch corpus+day-1 index shows
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val extended = java.nio.file.Files.createTempDirectory("graft_dedupidx_ext").toString
    Dedup.buildDedupIndex(docs.where(col("doc_id") < 300L), extended)
    Dedup.extendDedupIndex(extended, docs.where(col("doc_id") >= 300L && col("doc_id") < 400L))
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_dedupidx_reb").toString
    Dedup.buildDedupIndex(docs.where(col("doc_id") < 400L), rebuilt)
    val batch2 = docs.where(col("doc_id") >= 400L)
    def serve(idx: String) = Dedup.dedupAgainst(idx, batch2, tau = 0.7)
      .select("doc_id", "exact_keeper", "near_keeper", "status")
      .as[(Long, Long, Long, String)].collect().toSet
    val a = serve(extended)
    assert(a.exists(_._4 != "unique"), "no cross-index dups — equivalence check is vacuous")
    assert(a == serve(rebuilt))

    // a crashed EXTEND (_DONE deleted, appends in an unknown state) can
    // only be repaired by rebuild — re-running would append the batch's
    // exact/sets/bands rows a second time and silently corrupt serves
    val done = new org.apache.hadoop.fs.Path(extended, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    fs.delete(done, false)
    val halfExtended = intercept[IllegalArgumentException] {
      Dedup.extendDedupIndex(extended, batch2.limit(1))
    }
    assert(halfExtended.getMessage.contains("crashed EXTEND"))
  }

  test("extend and serve refuse mismatched or legacy index params") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_dedupidx_params").toString
    Dedup.buildDedupIndex(corpus, idx) // defaults: 64/16/3
    intercept[IllegalArgumentException] {
      Dedup.extendDedupIndex(idx, corpus, bands = 8) // incompatible banding
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainst(idx, corpus, tau = 0.5, k = 5) // incompatible shingles
    }
    // legacy-format index: no _PARAMS -> refused outright, never read
    assert(new java.io.File(idx, "_PARAMS").delete())
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainst(idx, corpus, tau = 0.5)
    }
  }

  test("dedupAgainst refuses a half-built index (no _DONE marker)") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_dedupidx_nodone").toString
    Dedup.buildDedupIndex(corpus, idx)
    assert(new java.io.File(idx, "_DONE").delete()) // simulate a crashed extend
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainst(idx, corpus, tau = 0.7)
    }
  }

  test("exact all-pairs Jaccard finds the planted pairs") {
    // docs 1,2 identical -> J=1. docs 1,3 / 2,3: 8 shingles each; the changed
    // token (index 8) sits in shingles i=6,7 -> shared = 6, union = 10, J=0.6.
    val pairs = SimilarityJoin.allPairsJaccard(docs, tau = 0.4)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) == 0.6)
    assert(pairs((2L, 3L)) == 0.6)
    assert(pairs.size == 3)
  }

  test("containment join finds the planted excerpt that Jaccard misses") {
    import org.apache.spark.sql.functions.col
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, base), (2L, excerpt), (3L, "совсем unrelated text entirely"))
      .toDF("doc_id", "text")
    val got = SimilarityJoin.containmentPairs(d, tau = 0.8)
      .select("doc_a", "doc_b", "containment").as[(Long, Long, Double)].collect().toSet
    // excerpt (8 shingles) fully inside base (28 shingles): containment 1.0
    // one direction only; Jaccard = 8/28 < 0.3 would never pair them
    assert(got == Set((2L, 1L, 1.0)), s"got $got")
    val jac = SimilarityJoin.allPairsJaccard(d, tau = 0.8).count()
    assert(jac == 0, "Jaccard at the same tau should find nothing")
  }

  test("containment join equals the naive directed join on the real corpus") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = SimilarityJoin.containmentPairs(docs, tau = 0.8)
      .select("doc_a", "doc_b", "inter_len", "len_a").as[(Long, Long, Long, Long)]
      .collect().toSet
    val sets = docs.select(col("doc_id"),
        graft.functions.TextFunctions.shingleSet(col("text"), 3).as("sh"))
      .where(org.apache.spark.sql.functions.size(col("sh")) > 0)
    val naive = sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      .crossJoin(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb")))
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_intersect(col("sa"), col("sb")))
          .cast("long").as("inter_len"),
        org.apache.spark.sql.functions.size(col("sa")).cast("long").as("len_a"))
      .where(col("inter_len").cast("double") / col("len_a").cast("double") >= 0.8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
  }

  test("edit-distance join equals the naive quadratic join on real part names") {
    import org.apache.spark.sql.functions.{col, levenshtein}
    val names = graft.sources.Tables.part(spark, "/root/testdata/sf0.001")
      .select(col("p_name").as("name")).distinct()
    val got = SimilarityJoin.editDistancePairs(names, maxDist = 2)
      .select("name_a", "name_b", "edit_dist").as[(String, String, Long)].collect().toSet
    val naive = names.select(col("name").as("name_a"))
      .crossJoin(names.select(col("name").as("name_b")))
      .where(col("name_a") < col("name_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("edit_dist") <= 2)
      .as[(String, String, Long)].collect().toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
    assert(naive.nonEmpty, "fixture produced no close pairs to check")
  }

  test("edit-distance join: short strings below the q-gram bound still pair") {
    // "ab"/"cd" share NO 2-gram yet ed=2 — only the short bucket finds them
    // (ed("abc","cd") = 3, correctly excluded)
    val names = Seq("ab", "cd", "abc", "completely-unrelated-long-name").toDF("name")
    val got = SimilarityJoin.editDistancePairs(names, maxDist = 2)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(got == Set(("ab", "cd"), ("ab", "abc")))
  }

  test("minhash LSH finds the same high-similarity pairs") {
    val pairs = Dedup.minhashLshPairs(docs, tau = 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // J=1 pair is guaranteed (identical signatures); the J=0.6 pairs are
    // probabilistic (p ≈ 0.9 with 16 bands of 4) — assert only the
    // guaranteed pair + verification correctness (no false positives).
    assert(pairs.contains((1L, 2L)))
    assert(pairs.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
  }

  test("dup source matrix: pair mass conserved, sources normalized") {
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val nPairs = Dedup.minhashLshPairs(real, tau = 0.7).count()
    val matrix = Dedup.dupSourceMatrix(real, tau = 0.7)
      .select("src_a", "src_b", "n_pairs").as[(String, String, Long)].collect()
    assert(matrix.map(_._3).sum == nPairs, "matrix must conserve total pair count")
    matrix.foreach { case (a, b, n) =>
      assert(a <= b, s"source pair ($a,$b) not normalized")
      assert(n > 0)
    }
  }

  test("minhash accuracy: exact-dup pair estimates 1.0; estimates bound true Jaccard sensibly") {
    val rows = Dedup.minhashAccuracy(docs)
      .select("doc_a", "doc_b", "n_match", "est_ppm", "jaccard")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, nm, ppm, j) =>
      assert(nm >= 0 && nm <= 64 && ppm == nm * 1000000L / 64, s"($a,$b)")
      assert(j >= 0.0 && j <= 1.0)
      // identical shingle sets must agree on every slot (min is a function
      // of the set); 64 agreeing slots conversely don't prove identity,
      // so only the forward implication is asserted
      if (j == 1.0) assert(nm == 64L, s"exact dup ($a,$b) estimated $nm/64")
    }
  }

  test("simhash: identical docs at distance 0; unrelated docs not paired") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("keep-longest policy survives the full doc, not the first-ingested truncation") {
    import org.apache.spark.sql.functions.col
    // doc 1 short excerpt (min id), doc 2 the full version, doc 3 unrelated;
    // pairs say 1~2 — min-id keeps 1, keep-longest must keep 2
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, (1 to 12).map(i => s"w$i").mkString(" ")), (2L, base),
      (3L, "other thing entirely")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClustersKeepLongest(d, pairs)
      .select("doc_id", "cluster", "kept").as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (1L, false), "excerpt must lose despite lowest id")
    assert(got(2L) == (1L, true), "full doc must survive")
    assert(got(3L) == (3L, true), "isolated doc keeps itself")
    // exactly one keeper per cluster
    val perCluster = got.values.groupBy(_._1).view.mapValues(_.count(_._2)).toMap
    assert(perCluster.values.forall(_ == 1))
  }

  test("dedup clusters collapse transitive chains (A~B, B~C, A!~C)") {
    // 12 tokens; B differs from A in the last token, C differs from B in the
    // first. J(A,B)=J(B,C)=9/11≈0.82 ≥ 0.7 but J(A,C)=8/12≈0.67 < 0.7 —
    // only label propagation (not pairwise grouping) collapses all three.
    val base = Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9", "t10", "t11", "t12")
    val a = base.mkString(" ")
    val b = (base.dropRight(1) :+ "x").mkString(" ")
    val c = ("y" +: base.drop(1).dropRight(1) :+ "x").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "unrelated words entirely different here now"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.SimilarityJoin.allPairsJaccard(docs, tau = 0.7)
    assert(pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 3L)))
    val clusters = Dedup.dedupClusters(docs, pairs)
      .select("doc_id", "keeper", "kept").as[(Long, Long, Boolean)].collect().toSet
    assert(clusters == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 4L, true)))
  }

  test("soft dedup weights: 1/|cluster| per member, mass = one doc per cluster") {
    // reuse the transitive-chain shape: {1,2,3} one cluster, {4} singleton
    val base = Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9", "t10", "t11", "t12")
    val a = base.mkString(" ")
    val b = (base.dropRight(1) :+ "x").mkString(" ")
    val c = ("y" +: base.drop(1).dropRight(1) :+ "x").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "unrelated words entirely different here now"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.SimilarityJoin.allPairsJaccard(docs, tau = 0.7)
    val w = Dedup.softDedupWeights(docs, pairs)
      .select("doc_id", "keeper", "cluster_size", "weight")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(w == Set((1L, 1L, 3L, 0.333333), (2L, 1L, 3L, 0.333333),
      (3L, 1L, 3L, 0.333333), (4L, 4L, 1L, 1.0)))
    // every doc is retained — soft dedup never drops rows
    assert(w.size == 4)
  }

  test("soft dedup weights degrade to shuffle joins when broadcasting is off (VERDICT r8 item 3)") {
    // the over-threshold fallback path of Scale.maybeBroadcast: on a
    // crawl-shaped corpus the dup-keeper/size frames are corpus-
    // proportional, so the hints must be size-gated — with broadcasting
    // disabled the same plan shape must run as shuffle joins and return
    // identical weights (the hint changes where rows go, never results)
    val base = Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9", "t10", "t11", "t12")
    val a = base.mkString(" ")
    val b = (base.dropRight(1) :+ "x").mkString(" ")
    val c = ("y" +: base.drop(1).dropRight(1) :+ "x").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "unrelated words entirely different here now"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.SimilarityJoin.allPairsJaccard(docs, tau = 0.7)
    val default = Dedup.softDedupWeights(docs, pairs)
      .select("doc_id", "keeper", "cluster_size", "weight")
      .as[(Long, Long, Long, Double)].collect().toSet
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ungated = Dedup.softDedupWeights(docs, pairs)
        .select("doc_id", "keeper", "cluster_size", "weight")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(ungated == default,
        "soft-dedup weights changed when the broadcast hints fell back to shuffle joins")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("dedup clusters converge on a 30-hop chain within maxIters (path halving)") {
    // one-hop min propagation needs O(diameter) rounds and would exhaust
    // maxIters=10 on this chain; path halving converges in O(log diameter)
    val n = 30
    val chainDocs = (0L until n.toLong).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chainPairs = (0L until (n - 1).toLong)
      .map(i => (i, i + 1, 1L, 1L, 1.0))
      .toDF("doc_a", "doc_b", "inter_len", "union_len", "jaccard")
    val clusters = Dedup.dedupClusters(chainDocs, chainPairs)
      .select("doc_id", "keeper").as[(Long, Long)].collect().toMap
    assert(clusters.size == n && clusters.values.forall(_ == 0L),
      s"chain not fully collapsed: ${clusters.filter(_._2 != 0L)}")
  }

  test("120-hop chain with RELIABLE checkpointing converges in O(log d) rounds") {
    // the O(log diameter) claim at depth: one-hop propagation would need
    // ~120 rounds; the halving loop must land within the default budget of
    // 10. Runs through the reliable-checkpoint path (checkpointDir set) —
    // the cluster deployment mode where round files survive executor loss.
    val n = 120
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toString
    val chainDocs = (0L until n.toLong).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chainPairs = (0L until (n - 1).toLong)
      .map(i => (i, i + 1, 1L, 1L, 1.0))
      .toDF("doc_a", "doc_b", "inter_len", "union_len", "jaccard")
    // the checkpointed loop itself: a 238-edge chain is within the driver gate
    val (clustersRows, log) = stderrOf(Dedup.dedupClustersDistributed(chainDocs, chainPairs,
      checkpointDir = Some(ckpt)).select("doc_id", "keeper").as[(Long, Long)].collect())
    val clusters = clustersRows.toMap
    assert(clusters.size == n && clusters.values.forall(_ == 0L),
      s"deep chain not fully collapsed: ${clusters.filter(_._2 != 0L)}")
    assert(log.contains("(distributed)") && !log.contains("(driver)"), log)
  }

  /** What `body` prints to System.err (the `[graft]` progress lines),
    * with its result. */
  private def stderrOf[T](body: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try { val r = body; (r, buf.toString("UTF-8")) } finally System.setErr(saved)
  }

  /** The `dedupClusters round` lines with the path tag removed. */
  private def rounds(log: String): Seq[String] =
    log.linesIterator.filter(_.contains("dedupClusters round"))
      .map(_.replaceAll(" \\((driver|distributed)\\)", "")).toSeq

  private def pairsDf(ps: Seq[(Long, Long)]) =
    ps.map { case (a, b) => (a, b, 1L, 1L, 1.0) }
      .toDF("doc_a", "doc_b", "inter_len", "union_len", "jaccard")

  /** Both paths over one graph: rows, schema and per-round `changed`
    * counts must agree, and the public entry must have taken the driver. */
  private def assertTwin(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, maxIters: Int = 10): Unit = {
    val (drv, drvLog) = stderrOf {
      val df = Dedup.dedupClusters(docs, pairs, maxIters)
      (df.schema, df.collect().toSet)
    }
    val (dist, distLog) = stderrOf {
      val df = Dedup.dedupClustersDistributed(docs, pairs, maxIters)
      (df.schema, df.collect().toSet)
    }
    assert(drvLog.contains("(driver)") && !drvLog.contains("(distributed)"), drvLog)
    assert(drv._1 == dist._1, "driver twin's schema differs")
    assert(drv._2 == dist._2, s"driver twin's clusters differ: ${drv._2 diff dist._2}")
    assert(rounds(drvLog) == rounds(distLog), s"round lines differ:\n$drvLog\n$distLog")
  }

  test("dedupClusters driver twin equals the checkpointed loop (random graphs, cap-length chain, star)") {
    val rnd = new scala.util.Random(20261017)
    (1 to 6).foreach { g =>
      // sparse ids, self-loops and repeated pairs included; some docs isolated
      val ids = Seq.fill(5 + rnd.nextInt(40))(rnd.nextInt(500).toLong).distinct
      val ps = Seq.fill(1 + rnd.nextInt(60))((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
      val docs = (ids ++ Seq(1000L + g)).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      assertTwin(docs, pairsDf(ps))
    }
    // int ids keep their type through the driver twin
    val intDocs = (0 until 12).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val intPairs = Seq((0, 3), (3, 7), (5, 9), (11, 10))
      .map { case (a, b) => (a, b, 1L, 1L, 1.0) }
      .toDF("doc_a", "doc_b", "inter_len", "union_len", "jaccard")
    assertTwin(intDocs, intPairs)
    // a chain of LocalBatchCap pairs: exactly 2 × cap directed edges
    val cap = graft.operators.EmbeddingSearch.LocalBatchCap
    val chainDocs = (0L to cap.toLong).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    assertTwin(chainDocs, pairsDf((0L until cap.toLong).map(i => (i, i + 1))), maxIters = 20)
    val starDocs = (0L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    assertTwin(starDocs, pairsDf((1L to 4L).map(i => (0L, i))), maxIters = 1)
  }

  test("dedupClusters driver twin fails like the checkpointed loop when it cannot converge") {
    val docs = (0L to 49L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = pairsDf((0L until 49L).map(i => (i, i + 1)))
    val (drv, drvLog) = stderrOf(intercept[IllegalStateException](
      Dedup.dedupClusters(docs, pairs, maxIters = 2)))
    val (dist, distLog) = stderrOf(intercept[IllegalStateException](
      Dedup.dedupClustersDistributed(docs, pairs, maxIters = 2)))
    assert(drv.getMessage == dist.getMessage)
    assert(drvLog.contains("(driver)"), drvLog)
    assert(rounds(drvLog) == rounds(distLog) && rounds(drvLog).size == 2)
  }

  test("dedupClusters past the driver gate runs the checkpointed loop") {
    // 110 clusters of 11 docs each (10-hop chains): 2,200 directed edges > 2 × cap
    val ps = (0L until 110L).flatMap(c => (0L until 10L).map(i => (c * 100 + i, c * 100 + i + 1)))
    val docs = (0L until 11000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val (got, log) = stderrOf(Dedup.dedupClusters(docs, pairsDf(ps))
      .select("doc_id", "keeper").as[(Long, Long)].collect().toMap)
    assert(log.contains("(distributed)") && !log.contains("(driver)"), log)
    assert(got.size == 11000)
    got.foreach { case (d, k) =>
      val want = if (d % 100 <= 10) d - d % 100 else d
      assert(k == want, s"doc $d: keeper $k, want $want")
    }
    // a null endpoint also keeps the Spark loop (null join semantics)
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null))
      .toDF("doc_a", "doc_b")
    val (nullRows, nullLog) = stderrOf(Dedup.dedupClusters(docs.where(col("doc_id") < 5), withNull)
      .select("doc_id", "keeper").as[(Long, Long)].collect().toMap)
    assert(nullLog.contains("(distributed)") && !nullLog.contains("(driver)"), nullLog)
    assert(nullRows == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("maxIters=1 succeeds when the init round already converged (star graph)") {
    // every vertex is one hop from the hub, so the folded init assigns the
    // final labels; the single verification round must detect changed == 0
    // instead of throwing (r2 ADVICE: the old `it < maxIters` loop threw
    // unconditionally at maxIters=1)
    val starDocs = (0L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val starPairs = (1L to 4L).map(i => (0L, i, 1L, 1L, 1.0))
      .toDF("doc_a", "doc_b", "inter_len", "union_len", "jaccard")
    val clusters = Dedup.dedupClusters(starDocs, starPairs, maxIters = 1)
      .select("doc_id", "keeper").as[(Long, Long)].collect().toMap
    assert(clusters.values.forall(_ == 0L))
  }

  test("substring sharing: planted 10-token window found across docs") {
    // docs 1 and 2 share exactly the 10-token run w1..w10 (doc 2 embeds it
    // after a distinct prefix); doc 3 has no 10-token overlap with anyone
    val shared = (1 to 10).map("w" + _).mkString(" ")
    val subDocs = Seq(
      (1L, shared + " tail1 tail2"),                  // 12 tokens: 3 windows, 1 shared
      (2L, "p1 p2 " + shared),                        // 12 tokens: 3 windows, 1 shared
      (3L, (1 to 12).map("z" + _).mkString(" ")))     // 3 windows, 0 shared
      .toDF("doc_id", "text")
    val got = Dedup.substringShared(subDocs, k = 10)
      .select("doc_id", "n_windows", "n_shared_windows", "has_shared")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 3L, 1L, true), (2L, 3L, 1L, true), (3L, 3L, 0L, false)))
  }

  test("ngram jaccard pairs on word bigrams") {
    // bigrams: 9 each for docs 1-3; 1&3 share 9-2=7, union 11 -> 7/11 ≈ .6364
    val pairs = Dedup.ngramJaccardPairs(docs, tau = 0.5, n = 2)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) == 0.636364)
  }

  test("forget-from-index: serve equals an index rebuilt on the filtered corpus") {
    val full = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val split = full.count() * 4 / 5
    val corpus = full.where(col("doc_id") < split)
    val batch = full.where(col("doc_id") >= split)
    val forgetIds = corpus.where(col("doc_id") % 7 === 0).select(col("doc_id"))
    val forgotten = forgetIds.as[Long].collect().toSet
    assert(forgotten.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("graft_fgt").toString
    // path A: build on the full corpus, then forget
    Dedup.buildDedupIndex(corpus, s"$root/a")
    Dedup.forgetFromDedupIndex(spark, s"$root/a", forgetIds)
    // path B: build directly on the filtered corpus
    Dedup.buildDedupIndex(corpus.where(col("doc_id") % 7 =!= 0), s"$root/b")
    def serve(idx: String) = Dedup.dedupAgainst(idx, batch, tau = 0.7)
      .select("doc_id", "exact_keeper", "near_keeper", "status")
      .as[(Long, Long, Long, String)].collect().toSet
    val a = serve(s"$root/a")
    assert(a == serve(s"$root/b"),
      "forgetting from the index diverged from rebuilding on the filtered corpus")
    // and no forgotten id ever surfaces as a keeper
    a.foreach { case (_, ek, nk, _) =>
      assert(!forgotten(ek) && !forgotten(nk),
        s"forgotten doc surfaced as keeper: ($ek, $nk)")
    }
    // crash-recovery: simulate dying between delete(live) and the swap on
    // one table — staged copy committed, live dir gone, _DONE gone — then
    // rerun the SAME forget; it must resume the swap and converge
    val fsPath = new org.apache.hadoop.fs.Path(s"$root/a", "_DONE")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Dedup.buildDedupIndex(corpus, s"$root/c")
    val cForget = corpus.where(col("doc_id") % 7 === 0).select(col("doc_id"))
    spark.read.parquet(s"$root/c/sets")
      .join(cForget, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$root/c/sets__forgetting")
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/c/sets"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/c", "_DONE"), false)
    Dedup.forgetFromDedupIndex(spark, s"$root/c", cForget)
    assert(serve(s"$root/c") == a,
      "rerun after a simulated mid-swap crash diverged from the clean forget")
    // HALF-deleted live dir: directory delete is not atomic, so a crash
    // can leave live/_SUCCESS gone while part-files remain. The resume
    // must clear the leftover before the swap — renaming into an existing
    // dir NESTS the staged table inside it and the recreated _DONE would
    // bless the stale unfiltered part-files
    Dedup.buildDedupIndex(corpus, s"$root/d")
    spark.read.parquet(s"$root/d/sets")
      .join(cForget, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$root/d/sets__forgetting")
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/d/sets", "_SUCCESS"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/d", "_DONE"), false)
    Dedup.forgetFromDedupIndex(spark, s"$root/d", cForget)
    assert(serve(s"$root/d") == a,
      "rerun after a half-deleted live table diverged from the clean forget")
  }
}
