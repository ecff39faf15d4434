package graft

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.BookQuery
import graft.sources.Tables

/** Physical-plan regression guards: the scale properties SCALING.md claims
  * are asserted, not assumed. AQE is disabled per test to get concrete plans
  * to inspect (at runtime AQE can only improve on these shapes).
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def withStaticPlans[T](f: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("flagship plans are map-only: 0 shuffle and 0 broadcast exchanges") {
    withStaticPlans {
      val docs = Tables.documents(spark, dir)
      val plans = Seq(
        "referenceScores" -> BookQuery.referenceScores(docs),
        "referenceScoresBatch" -> BookQuery.referenceScoresBatch(docs),
        "topK" -> BookQuery.topK(BookQuery.referenceScores(docs), "score", 10))
        .map { case (name, f) => name -> f.queryExecution.executedPlan }
      for ((name, plan) <- plans) {
        // every exchange counts, SinglePartition ones included
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        val broadcasts = plan.collect { case e: BroadcastExchangeExec => e }
        assert(shuffles.isEmpty && broadcasts.isEmpty,
          s"$name: ${shuffles.size} shuffle and ${broadcasts.size} broadcast exchanges:\n$plan")
      }
      val topK = plans.last._2
      assert(topK.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec] &&
        topK.collect { case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }.size == 1,
        s"top-k is not a single TakeOrderedAndProject stage:\n$topK")
    }
  }

  test("runtime bloom-filter injection composes with the engine's join shapes") {
    // Spark's runtime filtering (spark.sql.optimizer.runtime.bloomFilter.*)
    // injects a bloom filter built from a SELECTIVE join side into the
    // other side's scan — at 100 TB this prunes most of a fact scan before
    // the shuffle. Default thresholds (10 GB application-side scan) are
    // sized for clusters, so this test scales them to the fixture; a real
    // deployment leaves them alone. The assertion: a date-sliced
    // orders→lineitem join gets might_contain on the lineitem side.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // injection targets SHUFFLE joins (a broadcast join already prunes at
      // the build side) — at 100 TB this fact-fact join is one; at the
      // fixture SF it must be forced out of broadcast range
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("2001-07-01")))
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom"),
        s"no runtime bloom filter injected:\n$opt")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val plan = graft.operators.Relational.pricingSummary(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"no pushed shipdate filter:\n$plan")
  }

  test("Q6 shape: all three scan predicates push to parquet; 4-column ReadSchema") {
    // the query's entire cost model is the scan — if the predicates don't
    // reach the reader (row-group stats pruning at scale) or the scan reads
    // more than the 4 referenced columns, the 100 TB argument is void
    val plan = graft.operators.Relational.filteredRevenue(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), s"no pushed filters:\n$plan")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(plan.contains(c), s"predicate column $c missing from scan:\n$plan") }
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
        .forall(readSchema.contains) &&
      !Seq("l_orderkey", "l_partkey", "l_returnflag").exists(readSchema.contains),
      s"scan does not prune to the 4 referenced columns: $readSchema")
  }

  test("jaccard scores are a zero-shuffle map-side plan") {
    withStaticPlans {
      val plan = BookQuery.jaccardScores(Tables.documents(spark, dir))
        .queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"expected no shuffle:\n$plan")
    }
  }

  test("bucketed layout join + aggregation plans with ZERO exchanges") {
    withStaticPlans {
      val plan = graft.operators.Relational.bucketedOrderRevenue(spark, dir)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      val broadcasts = plan.collect { case e: BroadcastExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed join should need no runtime exchange:\n$plan")
      assert(broadcasts.isEmpty,
        s"merge hint should keep the 100TB-shaped SMJ, not a broadcast:\n$plan")
      assert(plan.toString.contains("SortMergeJoin"),
        s"expected a co-located sort-merge join:\n$plan")
    }
  }

  test("events day-range predicate prunes partitions at the scan") {
    withStaticPlans {
      import graft.operators.Events
      val total = Events.eventsPartitioned(spark, dir)
        .select(org.apache.spark.sql.functions.col("event_day")).distinct().count()
      val plan = Events.prunedDailyRollup(spark, dir).queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, s"no file scan in:\n$plan")
      val scanned = scans.head.selectedPartitions.partitionCount.toLong
      assert(scanned < total && scanned <= 7,
        s"expected <=7 of $total day-partitions scanned, got $scanned:\n$plan")
      assert(plan.toString.contains("PartitionFilters") &&
        plan.toString.contains("event_day"), s"no partition filter:\n$plan")
    }
  }

  test("hybrid serve prunes postings to query buckets and ivf to probed cells at PLAN time") {
    // the serving tier's 100 TB claim made concrete: a small query's
    // lexical footprint is its terms' bucket DIRECTORIES and its semantic
    // footprint its probed cell directories — partition pruning visible
    // in selectedPartitions, not a post-scan filter
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_plan_hybrid").toString
    graft.operators.TextAnalysis.buildBm25Index(docs, s"$root/bm")
    graft.operators.EmbeddingSearch.buildIvfIndex(
      emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")),
      s"$root/ivf")
    val qEmb = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val queries = Seq((0L, "probability of the hypothesis")).toDF("query_id", "text")
      .withColumn("embedding", typedLit(qEmb))
    withStaticPlans {
      val plan = graft.operators.TextAnalysis
        .hybridServeBatch(queries, s"$root/bm", s"$root/ivf", nprobe = 2)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val postingsScans = scans.filter(_.output.exists(_.name == "tf"))
      val ivfScans = scans.filter(s =>
        s.output.exists(_.name == "v") && s.output.exists(_.name == "cl"))
      assert(postingsScans.nonEmpty && ivfScans.nonEmpty,
        s"could not identify the index scans in:\n$plan")
      val bucketsTotal = spark.read.parquet(s"$root/bm/postings")
        .select(col("bucket")).distinct().count()
      val cellsTotal = spark.read.parquet(s"$root/ivf/ivf")
        .select(col("cl")).distinct().count()
      // 4 distinct query terms -> at most 4 bucket dirs; 2 probed cells
      postingsScans.foreach { s =>
        val n = s.selectedPartitions.partitionCount.toLong
        assert(n <= 4 && n < bucketsTotal,
          s"postings scan read $n of $bucketsTotal buckets — not pruned:\n$plan")
      }
      ivfScans.foreach { s =>
        val n = s.selectedPartitions.partitionCount.toLong
        assert(n <= 2 && n < cellsTotal,
          s"ivf scan read $n of $cellsTotal cells — not pruned:\n$plan")
      }
    }
  }

  test("similarity surface never force-broadcasts corpus-derived sides") {
    // With broadcasting disabled a *hint* would still plan a
    // BroadcastExchange (a hint is a command) — so an empty collect proves
    // the corpus-sized df/hash-set sides carry no unconditional hint and a
    // 100× input degrades to shuffled joins instead of an executor OOM.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withStaticPlans {
      for (df <- Seq(
          graft.operators.SimilarityJoin.allPairsJaccard(Tables.documents(spark, dir), tau = 0.7),
          graft.operators.TextAnalysis.tfidfTopTerms(Tables.documents(spark, dir), kTop = 3))) {
        val plan = df.queryExecution.executedPlan
        // a broadcast of a GROUPLESS global aggregate is guaranteed 1 row by
        // construction (tfidf's folded-in corpus count) — categorically safe
        // at any corpus size; only corpus-proportional sides are forbidden
        val scalarSafe = plan.collect { case e: BroadcastExchangeExec => e }
          .filterNot(_.child.collectFirst {
            case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
              if h.groupingExpressions.isEmpty => h
          }.isDefined)
        assert(scalarSafe.isEmpty,
          s"corpus-derived side force-broadcast despite disabled threshold:\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pair-emitting queries never plan a cartesian/nested-loop join") {
    // the all-pairs family must always join on keys (term/band/doc id) — a
    // CartesianProduct or BroadcastNestedLoopJoin sneaking in means a join
    // condition degenerated and the query is O(n²) rows at scale
    withStaticPlans {
      val docs = Tables.documents(spark, dir)
      for (df <- Seq(
          graft.operators.SimilarityJoin.allPairsJaccard(docs, tau = 0.7),
          graft.operators.SimilarityJoin.containmentPairs(docs, tau = 0.8),
          graft.operators.SimilarityJoin.editDistancePairs(
            Tables.part(spark, dir).select(org.apache.spark.sql.functions.col("p_name").as("name")).distinct()),
          graft.operators.Dedup.minhashLshPairs(docs, tau = 0.7),
          graft.operators.Dedup.simhashPairs(docs),
          graft.operators.EmbeddingSearch.cosineNearDupPairsFor(
            Tables.embeddings(spark, dir), tau = 0.4))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"cartesian/nested-loop join in pair-emitting plan:\n$plan")
      }
    }
  }

  test("correlated subqueries decorrelate to equi-joins, never per-row loops") {
    // every subquery form must leave Catalyst as an aggregate + equi-join
    // (semi/anti/left) — a CartesianProduct or BNLJ means decorrelation
    // failed and the plan re-executes the inner query per outer row
    withStaticPlans {
      for (df <- Seq(
          graft.operators.Relational.corrAboveAvgOrders(spark, dir),
          graft.operators.Relational.corrLateShippedOrders(spark, dir),
          graft.operators.Relational.corrNeverBulkParts(spark, dir),
          graft.operators.Relational.corrOrderCounts(spark, dir))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"correlated subquery did not decorrelate:\n$plan")
      }
    }
  }

  test("kNN join and interval join plan as key joins, never cartesian") {
    withStaticPlans {
      for (df <- Seq(
          graft.operators.EmbeddingSearch.knnJoin(spark, dir),
          graft.operators.Events.sessionConcurrency(spark, dir))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"cartesian/nested-loop join:\n$plan")
      }
    }
  }

  test("hygiene operators join on keys, never cartesian") {
    withStaticPlans {
      val docs = Tables.documents(spark, dir)
      for (df <- Seq(
          graft.operators.TextAnalysis.decontaminate(docs),
          graft.operators.Dedup.substringShared(docs))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"cartesian/nested-loop join in hygiene plan:\n$plan")
      }
    }
  }

  test("decontaminate semi-joins the corpus against a broadcast eval set") {
    // the corpus side must NOT shuffle its grams: the eval gram set (small
    // by construction) broadcasts and the join is a map-side left-semi
    withStaticPlans {
      val plan = graft.operators.TextAnalysis.decontaminate(Tables.documents(spark, dir))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"expected broadcast left-semi join:\n$plan")
    }
  }

  test("cleanedCorpus scans the corpus exactly once") {
    // keep-first dedup is a min-over-window on the content hash — a keeper
    // groupBy+self-join shape would feed the filter subtree into two plan
    // branches and scan/tokenize/hash the corpus twice (the r3 scale-killer)
    withStaticPlans {
      val plan = graft.operators.TextAnalysis.cleanedCorpus(Tables.documents(spark, dir))
        .queryExecution.executedPlan
      val scans = plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size == 1, s"expected exactly 1 corpus scan, got ${scans.size}:\n$plan")
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1, s"expected exactly 1 shuffle (on h), got ${shuffles.size}:\n$plan")
    }
  }

  test("as-of join and RANGE window plan exactly one shuffle each") {
    // both are claimed single-shuffle compositions (SCALING.md): the as-of
    // window must not degrade into a purchase×click join, and the RANGE
    // frame must not add exchanges beyond the per-customer partitioning
    withStaticPlans {
      for (df <- Seq(
          graft.operators.Events.asofLastClick(spark, dir),
          graft.operators.Relational.trailingSpend(spark, dir))) {
        val plan = df.queryExecution.executedPlan
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.size == 1, s"expected exactly 1 shuffle:\n$plan")
        val s = plan.toString
        assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"))
      }
    }
  }

  test("incremental dedup serve side never plans a cartesian join") {
    withStaticPlans {
      val docs = Tables.documents(spark, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft_planidx").toString
      graft.operators.Dedup.buildDedupIndex(docs.where(
        org.apache.spark.sql.functions.col("doc_id") < 40L), idx)
      val plan = graft.operators.Dedup.dedupAgainst(idx, docs.where(
          org.apache.spark.sql.functions.col("doc_id") >= 40L), tau = 0.7)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"cartesian/nested-loop join in incremental dedup plan:\n$plan")
    }
  }

  test("scans prune columns: flagship reads only doc_id and text") {
    // the returned frame reads the checkpointed intermediate; the corpus
    // scans run in the jobs that build it, so check the plans those run
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        executed.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val returned = try {
      val f = BookQuery.referenceScores(Tables.documents(spark, dir))
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      f.queryExecution.executedPlan.toString
    } finally spark.listenerManager.unregister(listener)
    val plans = executed.toArray.map(_.toString).toSeq :+ returned
    val scans = plans.filter(_.contains("ReadSchema"))
    assert(scans.nonEmpty, s"no corpus scan among the plans:\n${plans.mkString("\n---\n")}")
    for (p <- plans) {
      assert(!p.contains("n_chars"), s"scan reads unneeded columns:\n$p")
      p.split("ReadSchema: ").drop(1).foreach(r =>
        assert(r.startsWith("struct<doc_id:bigint,text:string>"), s"unexpected ReadSchema:\n$p"))
    }
  }

  test("filtered kNN pushes the label predicate into the parquet scan") {
    // the filtered default's 100 TB argument starts at the scan: the
    // label equality must reach the reader (row-group stats pruning; a
    // label-partitioned layout prunes at plan time), not run as a
    // post-scan Filter over the full corpus
    val plan = graft.operators.EmbeddingSearch.exactTopK(spark, dir,
      graft.operators.EmbeddingSearch.Cos, graft.SparkEntry.registeredFilter)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"no pushed label filter:\n$plan")
  }

  test("standing vector defaults pay zero per-call assignment: zero source scans + cl-pruned index reads") {
    // r14 (the r13 verdict's item 2, plan-asserted): the registered
    // kNN/range/MIPS defaults serve from the standing index's stored
    // cl= cell files. The ONLY source-table touches in the served plan
    // are the query batch (pushed vec_id range — nQueries rows, never
    // the corpus), and every index read is partition-pruned to the
    // probed cells. A regression back to per-call assignment would
    // surface as an unfiltered embeddings scan (the corpus side of
    // kmeansAssign) or an unpruned ivf read.
    import org.apache.spark.sql.functions.col
    val idxDir = graft.SparkEntry.standingIvfIndexDirFor(dir)
    graft.operators.EmbeddingSearch.ensureStandingIvfIndex(spark, dir, idxDir)
    val cellsTotal = spark.read.parquet(s"$idxDir/ivf")
      .select(col("cl")).distinct().count()
    assert(cellsTotal > 4, "fixture index too coarse for a pruning pin")
    withStaticPlans {
      val serves = Seq(
        "knn" -> graft.operators.EmbeddingSearch
          .kmeansSizedStandingServe(spark, dir, idxDir),
        "mips" -> graft.operators.EmbeddingSearch
          .mipsStandingServe(spark, dir, idxDir),
        "range" -> graft.operators.EmbeddingSearch
          .rangeStandingServe(spark, dir, idxDir))
      for ((name, df) <- serves) {
        df.collect()
        // scan NODES, subqueries included: the range serve's query batch
        // lives inside a dynamic-pruning SubqueryBroadcast (and the join
        // side is a ReusedExchange), which a plain node collect cannot
        // reach; and the plan string is no substitute, because Spark cuts
        // a scan's Location at spark.sql.maxMetadataStringLength, so a
        // long artifact root hides the index path
        val plan = df.queryExecution.executedPlan
        val fileScans = plan.collectWithSubqueries {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        def scansUnder(part: String) =
          fileScans.filter(_.relation.location.rootPaths.exists(_.toString.contains(part)))
        // r15 strengthened the pin: the standing serves touch the source
        // table ZERO times per call — the query batch is a LocalRelation
        // rehydrated from the fingerprint-keyed cache, probe ranking runs
        // driver-side, and the serve reads only probed cl= dirs. ANY
        // embeddings.parquet scan in the served plan means a per-call
        // corpus (or even batch) read crept back in.
        val srcLines = plan.toString.linesIterator
          .filter(_.contains("embeddings.parquet")).toSeq ++
          scansUnder("embeddings.parquet").map(_.simpleString(200))
        assert(srcLines.isEmpty,
          s"$name: the standing serve scanned the source table — " +
            s"per-call reads crept back in:\n${srcLines.mkString("\n")}")
        val ivfScans = scansUnder(s"${new java.io.File(idxDir).getName}/ivf")
        assert(ivfScans.nonEmpty, s"$name: no index cell-file scan found")
        // every index read prunes on the cl partition key at PLAN time
        // (the probed-cell IN list); how many dirs survive is
        // data-dependent for the wider probes (MIPS' count-derived
        // width, range's triangle bound), so the STRICT count pin runs
        // only where it is structurally guaranteed: kNN probes
        // nQueries·nprobe = 20 of the 23 fixture cells at most
        ivfScans.foreach { f =>
          assert(f.partitionFilters.headOption.exists(_.toString.startsWith("cl")),
            s"$name: index scan carries no cl partition filter — " +
              s"the probed-cell pruning is gone: ${f.simpleString(200)}")
        }
        if (name == "knn") {
          val scans = ivfScans.map(_.selectedPartitions.partitionCount.toLong)
          assert(scans.nonEmpty && scans.forall(_ < cellsTotal),
            s"$name: index read $scans of $cellsTotal cells — not pruned")
        }
      }
    }
  }
}
