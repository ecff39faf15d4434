package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the engine's table surface, and the one write seam of its
  * standing artifacts ([[Tables.writeArtifact]]).
  *
  * The reference engine's only source is "one whole text file = one document
  * over HDFS" (BookQuery.java:44-61 — a manifest of paths, each opened inside
  * the mapper). In Spark that side-channel read becomes a real, optimizer-
  * visible source: either the pre-materialized `documents` parquet (columnar,
  * predicate-pushdown, split-packed) or a wholetext directory scan.
  *
  * All readers take the scale-factor directory so the same code runs at any
  * SF (and, on a real cluster, any 100 TB prefix — parquet scans scale by
  * adding executors; there is no driver-side enumeration here).
  */
object Tables {
  /** THE artifact-store root (r16, the r15 verdict's item 2): every
    * persisted standing artifact — the IVF/BM25/dedup/phash/PQ indexes,
    * the navigable graph, the quantizers, the bucketed-table and
    * roundtrip fixture exports — lives under ONE configurable root
    * instead of a hard-coded `java.io.tmpdir`. Resolution order:
    *
    *   1. `spark.graft.artifactRoot` session conf (per-session choice),
    *   2. `GRAFT_ARTIFACT_ROOT` env (deployment-wide choice),
    *   3. `java.io.tmpdir` (the local-mode default — unchanged behavior).
    *
    * Any Hadoop-FS URI works (`hdfs://nn/graft`, `s3a://bucket/graft`,
    * `file:/shared/graft`): the keying is already cluster-safe (`_DONE`
    * commit tokens, FS-walk fingerprints), and every consumer — dir
    * derivation, existence probes, stale-export reclaim — goes through
    * the Hadoop FileSystem API, so the standing-index architecture
    * deploys on a shared filesystem by setting one value. The root must
    * be SHARED between driver and executors on a real cluster (executors
    * read index partitions directly); tmpdir satisfies that only in
    * local mode, which is why it is the default, not a recommendation.
    */
  @volatile private[graft] var artifactRootOverride: Option[String] = None

  def artifactRoot: String =
    artifactRootOverride
      .orElse(SparkSession.getActiveSession
        .flatMap(s => s.conf.getOption("spark.graft.artifactRoot")))
      .orElse(sys.env.get("GRAFT_ARTIFACT_ROOT"))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  private def hadoopFs(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())

  /** Hadoop-FS existence probe for artifact markers (`_SUCCESS`/`_DONE`)
    * — the java.io.File probes this replaces were silently
    * local-FS-only, which pinned the whole artifact store to tmpdir. */
  private[graft] def markerExists(dir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    hadoopFs(p).exists(p)
  }

  /** Inferred-schema memo per (nanosAsLong conf, table path), validated by
    * the dataset fingerprint (r16 opt): every `spark.read.parquet` call
    * pays a footer-read schema inference (~68 ms measured vs ~6 ms with
    * the schema supplied), and a bench pass constructs ~940 table frames —
    * the single largest fixed cost in the flat tail. The memo holds only
    * the SCHEMA (metadata-scale); each call still builds a fresh
    * DataFrame/FileIndex over the current files, so nothing about the
    * data path is cached. A regenerated table re-infers (the fingerprint
    * folds file names+sizes+footer tails, and a schema change necessarily
    * changes the footer), and the drift check runs on every re-inference.
    * nanosAsLong is in the key because it changes what TIMESTAMP(NANOS)
    * infers AS — two sessions with different settings must not share.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, org.apache.spark.sql.types.StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // EVERY schema-affecting parquet inference conf in the key (r17,
    // ADVICE r16): nanosAsLong changes what TIMESTAMP(NANOS) infers as,
    // int96AsTimestamp/binaryAsString change INT96/BINARY — two sessions
    // in one JVM differing in any of them must not share an entry
    val confKey = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.binaryAsString")
      .map(k => spark.conf.getOption(k).getOrElse("")).mkString(";")
    val fp = datasetFingerprint(path)
    val key = (confKey, path)
    val cached = schemaMemo.get(key)
    val schema =
      if (cached != null && cached._1 == fp) cached._2
      else {
        val s = spark.read.parquet(path).schema
        assertExpectedSchema(name, s)
        schemaMemo.put(key, (fp, s))
        s
      }
    spark.read.schema(schema).parquet(path)
  }

  /** Expected logical types per fixture column. The accepted SET per column
    * covers every physical encoding the testdata generator has actually
    * shipped (e.g. `events.ts` has been both TIMESTAMP(NANOS)→BIGINT-via-
    * nanosAsLong and TIMESTAMP(MICROS)→timestamp/timestamp_ntz), so a
    * regeneration that flips between known encodings stays silent while a
    * NEW encoding fails with one targeted message instead of dozens of
    * scattered analysis errors downstream. Extra columns are ignored —
    * additive schema evolution is legal (see `source_schema_evolution`).
    */
  private val expectedColumnTypes: Map[String, Seq[(String, Set[String])]] = {
    // date/timestamp columns WITHOUT an adaptive reader accept only the
    // timestamp encodings — a BIGINT re-encoding of o_orderdate/l_shipdate
    // would silently null out every date predicate, which is exactly the
    // class of drift this probe exists to catch loudly. Only events.ts has
    // the ns-as-long branch (Events.events), so only it accepts bigint.
    val ts = Set("timestamp", "timestamp_ntz")
    val tsAdaptive = ts + "bigint"
    Map(
      "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
      "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
        "n_regionkey" -> Set("int")),
      "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
        "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
        "c_mktsegment" -> Set("string")),
      "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
        "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
      "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
        "p_brand" -> Set("string"), "p_type" -> Set("string"),
        "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
      "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
        "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
        "o_orderdate" -> ts, "o_orderpriority" -> Set("string")),
      "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
        "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
        "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
        "l_discount" -> Set("double"), "l_tax" -> Set("double"),
        "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
        "l_shipdate" -> ts),
      "events" -> Seq("event_id" -> Set("bigint"), "ts" -> tsAdaptive,
        "user_id" -> Set("bigint"), "event_type" -> Set("string"),
        "value" -> Set("double"), "props" -> Set("string")),
      "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
        "lang" -> Set("string"), "source" -> Set("string"),
        "n_chars" -> Set("bigint")),
      "embeddings" -> Seq("vec_id" -> Set("bigint"),
        "embedding" -> Set("array<float>"), "label" -> Set("int")))
  }

  /** Loud, targeted schema drift check for a known fixture table: every
    * expected column that IS present must carry a type in its accepted set.
    * Unknown table names pass silently (user tables aren't ours to police),
    * and ABSENT columns pass too — specs legitimately build minimal
    * same-named fixtures, and a genuinely dropped column already fails
    * downstream with a clear unresolved-column error. The failure mode this
    * exists for: the testdata generator RE-ENCODING a column (as it did to
    * `events.ts`), which without this probe surfaces as N unrelated
    * `DATATYPE_MISMATCH` analysis errors instead of one "testdata schema
    * changed" message naming the column and both types.
    */
  def assertExpectedSchema(name: String, schema: org.apache.spark.sql.types.StructType): Unit =
    expectedColumnTypes.get(name).foreach { cols =>
      val actual = schema.fields.map(f => f.name -> f.dataType.catalogString.toLowerCase).toMap
      val problems = cols.flatMap { case (c, ok) =>
        actual.get(c) match {
          case Some(t) if !ok.contains(t) =>
            Some(s"$c: $t (expected ${ok.mkString(" or ")})")
          case _ => None
        }
      }
      require(problems.isEmpty,
        s"testdata schema changed for table '$name': ${problems.mkString("; ")}. " +
          "Either the generator shipped a new physical encoding (extend the " +
          "accepted set here and adapt the reader — cf. Events.events) or the " +
          "wrong file is at this path.")
    }

  /** Parquet read of a STANDING-ARTIFACT table with the schema memoized
    * per path (r16 opt). Artifact layouts are versioned by their DIRECTORY
    * NAME (prefix + params + fingerprint — the fingerprintedDir
    * discipline), so a given path's schema is fixed for the life of the
    * session: extends append rows, compaction rewrites files, retrains
    * replace values, but none of them change columns — a layout change
    * ships under a NEW prefix by construction. The memo is nonetheless
    * VALIDATED against the dataset fingerprint on every call (r17, ADVICE
    * r16): the naming invariant is not enforced for user-supplied index
    * paths (buildDedupIndex/buildBm25Index/... take arbitrary dirs), and
    * an in-place rebuild that changed columns would otherwise silently
    * read missing columns as nulls. The fingerprint walk costs ~0.24 ms —
    * noise next to the ~60 ms footer inference it skips. Each call still
    * builds a fresh DataFrame/FileIndex, so appended partitions and
    * rewritten files are always visible. NOT for mutable user data —
    * source tables go through [[table]] (same validation plus the
    * expected-schema probe).
    */
  private val artifactSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  def artifactParquet(spark: SparkSession, path: String): DataFrame = {
    val fp = datasetFingerprint(path)
    val cached = artifactSchemaMemo.get(path)
    val schema =
      if (cached != null && cached._1 == fp) cached._2
      else {
        val s = spark.read.parquet(path).schema
        artifactSchemaMemo.put(path, (fp, s))
        s
      }
    spark.read.schema(schema).parquet(path)
  }

  /** At most `n` rows of `df`: the first ones in partition order, as
    * `limit(n).collect()` returns them, but in ONE Spark job over all
    * partitions instead of `executeTake`'s rounds (first partition, then
    * the rest). A frame whose optimized plan is a LocalRelation is read
    * with no job.
    */
  def firstRows(df: DataFrame, n: Int): Array[org.apache.spark.sql.Row] =
    if (org.apache.spark.sql.GraftShim.isLocalRelation(df)) df.collect().take(n)
    else {
      val rdd = df.rdd
      rdd.sparkContext.runJob(rdd, (it: Iterator[org.apache.spark.sql.Row]) => it.take(n).toArray)
        .flatten.take(n)
    }

  /** THE write seam of graft's standing artifacts — index builds,
    * extends, compactions, forget rewrites, quantizers and models: one
    * parquet write of `df` to `path`. On the local filesystem the write
    * creates its files through [[ArtifactFs]] (named in this write's own
    * options, so the session's conf and every read stay as they are);
    * any other filesystem writes as a plain `df.write` would. The files
    * written are the same either way.
    */
  def writeArtifact(df: DataFrame, path: String, mode: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.options(ArtifactFs.writeOptions(hadoopFs(new org.apache.hadoop.fs.Path(path))))
      .mode(mode)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(path)
  }

  /** `df` hash-partitioned on `key` into `defaultParallelism` partitions,
    * for a write partitioned by `key`: every `key=v` dir comes from one
    * task, so it gets exactly one file, and the dirs are written on all
    * cores. The count is explicit because adaptive execution coalesces a
    * bare `repartition(col)` or `rebalance` of a batch-sized frame into
    * one task, and never coalesces an explicit count. */
  def onePerDir(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Run independent Spark actions from up to 4 driver threads, so one
    * action's planning, scheduling and commit overlap another's tasks
    * (an extend writes several small tables, a forget stages several,
    * each a few-task job behind ~100 ms of driver work). Results keep
    * `tasks`' order; every task finishes before the first failure is
    * rethrown as itself. */
  def inParallel[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(tasks.size, 4))
      try {
        val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = { SparkSession.setActiveSession(spark); t() }
        }))
        val results = futures.map(f => scala.util.Try(f.get()).recoverWith {
          case e: java.util.concurrent.ExecutionException => scala.util.Failure(e.getCause)
        })
        results.map(_.get)
      } finally pool.shutdown()
    }

  /** THE data-file predicate every index layout/commit/compaction guard
    * and the driver-side schema read share (a regular file that is not a
    * `_marker` or `.hidden`) — single-sourced (r14 review) so a future
    * change to what counts as data cannot leave the extend guards, the
    * compaction census, and the empty-table allowances silently
    * disagreeing.
    */
  private[graft] def isDataFile(e: org.apache.hadoop.fs.FileStatus): Boolean =
    e.isFile && !e.getPath.getName.startsWith("_") &&
      !e.getPath.getName.startsWith(".")

  /** Every data file of an artifact table (flat, or under its `key=v`
    * dirs), walking the directories Spark's listing reads: a `_name`
    * directory without `=` (a writer's `_temporary`) and a `.name` one
    * are skipped, as Spark skips them. Empty for a missing path. */
  private[graft] def dataFiles(path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopFs(root)
    def walk(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { e =>
        val n = e.getPath.getName
        if (e.isDirectory) {
          if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) Nil
          else walk(e.getPath)
        } else if (isDataFile(e)) Seq(e) else Nil
      }
    if (fs.exists(root)) walk(root) else Nil
  }

  /** Row count of artifact tables (or some of their `key=v` dirs) from
    * their data files' parquet footers, read on the driver: the value
    * `spark.read.parquet(path).count()` gives, with no Spark job. 0 for
    * paths without data files. */
  private[graft] def footerRows(spark: SparkSession, paths: String*): Long =
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
      .footerRows(spark, paths.flatMap(dataFiles))

  /** Data schema of ONE artifact directory (a `key=v` partition dir or a
    * flat table), read on the DRIVER from the footer of its first data
    * file — the same footer→schema conversion Spark's inference runs, but
    * without the one-file Spark job that inference launches. Memoized
    * per directory and validated by that directory's own fingerprint, so
    * a rewritten directory re-reads its footer and an untouched one
    * costs a listing. None for a directory without data files.
    */
  private val dirSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  private def dirSchema(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val fp = datasetFingerprint(dir)
    val cached = dirSchemaMemo.get(dir)
    if (cached != null && cached._1 == fp) Some(cached._2)
    else {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = hadoopFs(p)
      val first = if (!fs.exists(p)) None
        else fs.listStatus(p).filter(isDataFile).sortBy(_.getPath.getName).headOption
      first.flatMap(org.apache.spark.sql.execution.datasources.parquet
        .GraftParquetShim.footerSchema(spark, _)).map { s =>
        dirSchemaMemo.put(dir, (fp, s))
        s
      }
    }
  }

  /** [[artifactParquet]] for a PARTITION-PRUNED read: only the named
    * directories under `basePath` (`key=v` subdirectories, or the table
    * itself for a flat table) are listed, and the read constructs with NO
    * Spark job.
    *   - Schema: each named directory's data schema comes from
    *     [[dirSchema]] (driver-side footer read, validated per directory),
    *     merged in path order; the partition column is inferred from the
    *     directory names as usual. Every probed path's fingerprint takes
    *     part in the validation, so a partial rewrite of some directories
    *     is seen on the next read, and unprobed directories are never
    *     walked.
    *   - Listing: Spark lists more than
    *     `spark.sql.sources.parallelPartitionDiscovery.threshold` root
    *     paths with a Spark job, so the paths are read in groups of at
    *     most that many and unioned — the files read are the same.
    */
  def artifactPartitionedParquet(spark: SparkSession, basePath: String,
      paths: Seq[String]): DataFrame = {
    val schema = paths.flatMap(dirSchema(spark, _))
      .reduceOption(org.apache.spark.sql.GraftShim.mergeSchemas)
    val group = math.max(1, spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt)
    paths.grouped(group).map { g =>
      schema.fold(spark.read)(spark.read.schema(_))
        .option("basePath", basePath).parquet(g: _*)
    }.reduce(_ union _)
  }

  /** Read ONLY the named `key=v` partition dirs of an int-partitioned
    * artifact table (the IVF index's `cl=` cells, the BM25 index's
    * `bucket=`/`db=` buckets, the graph's verts/edges) through
    * [[artifactPartitionedParquet]]: `spark.read.parquet(table)` lists
    * EVERY partition dir at construct time before pruning — with a Spark
    * job past the discovery threshold (64 BM25 buckets), and a metadata
    * storm at 100 TB (65,536 cells listed per serve for a ~20-cell
    * probe). Listing the named dirs keeps the partition column and row
    * content identical (the dir name IS the key value either way) at
    * probe-set metadata cost. A named value with no dir holds nothing to
    * read, so skipping it is result-invariant; `where(key isin values)`
    * stays on top as the semantic guard. When every named dir is absent
    * (an empty serve: no values, or only values without rows) the read
    * is EMPTY: one existing dir gives the schema (the probed read of it,
    * filtered to nothing, so no file is read and no job runs). Only a
    * table without any `key=v` dir falls back to the full-listing read.
    */
  def probedPartitionRead(spark: SparkSession, tbl: String,
      key: String, values: Seq[Int]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(tbl)
    val fs = hadoopFs(root)
    val paths = values.distinct.sorted
      .map(v => s"$tbl/$key=$v")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    lazy val anyDir = if (!fs.exists(root)) None
      else fs.listStatus(root).iterator
        .filter(e => e.isDirectory && e.getPath.getName.startsWith(s"$key="))
        .map(_.getPath.toString).find(dirSchema(spark, _).isDefined)
    val df = if (paths.nonEmpty) artifactPartitionedParquet(spark, tbl, paths)
      else anyDir.fold(artifactParquet(spark, tbl))(d =>
        artifactPartitionedParquet(spark, tbl, Seq(d)).where(lit(false)))
    df.where(col(key).isin(values.map(Integer.valueOf): _*))
  }

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")

  /** Materialize one of the sf dir's tables as a BUCKETED+SORTED external
    * table and return its catalog name: repeated equi-joins / aggregations
    * on `bucketCol` then plan with ZERO runtime exchange (co-located
    * sort-merge join) — the 100 TB layout for fact tables that join on the
    * same key query after query (at that scale numBuckets is thousands;
    * the principle is identical).
    *
    * Export-once discipline: the files are written once per source
    * fingerprint (same as the csv/json/orc roundtrip fixtures) under a
    * fingerprint-keyed tmpdir, and stale exports of regenerated source data
    * are reclaimed. The bucket SPEC, however, lives in the catalog — which
    * is in-memory per session — so a later JVM finding the files already on
    * disk re-REGISTERS them via `CREATE TABLE ... CLUSTERED BY ... LOCATION`
    * instead of rewriting; the files' bucket layout is deterministic
    * (`repartition(numBuckets, key)` pre-aligns writer tasks with the bucket
    * hash, one file per bucket), so registration and write produce the same
    * physical table.
    */
  def bucketedTable(spark: SparkSession, dir: String, name: String,
      bucketCol: String, numBuckets: Int = 8): String = {
    val src = s"$dir/$name.parquet"
    val tbl = s"graft_bkt_${name}_" + java.lang.Long.toHexString(datasetFingerprint(src))
    if (!spark.catalog.tableExists(tbl)) {
      val root = artifactRoot
      cleanStaleExports(root, s"graft_bkt_${name}_", tbl, blocks = 1)
      val out = s"$root/$tbl"
      if (markerExists(out, "_SUCCESS")) {
        val ddl = spark.read.parquet(src).schema.toDDL
        spark.sql(s"CREATE TABLE $tbl ($ddl) USING parquet " +
          s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $numBuckets BUCKETS " +
          s"LOCATION '$out'")
      } else {
        spark.read.parquet(src)
          .repartition(numBuckets, col(bucketCol))
          .write.mode("overwrite")
          .format("parquet")
          .bucketBy(numBuckets, bucketCol)
          .sortBy(bucketCol)
          .option("path", out)
          .saveAsTable(tbl)
      }
    }
    tbl
  }

  private val embCountMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long)]()

  /** The embeddings table's row count, memoized per dataset fingerprint
    * (r15): every count-gated auto default (MIPS/hybrid/kNN-join) pays
    * one metadata count() per call to pick its branch — correct but a
    * fixed ~0.15 s job on serves that now cost ~0.4 s total. The
    * fingerprint walk is a listing, the count itself sums the data
    * files' parquet footers on the driver ([[footerRows]], no job), and a
    * regenerated table re-prices the branch exactly like the eval
    * memos. Compute runs outside the map lock (the memoizedExactPairs
    * discipline). */
  def embeddingsCount(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val path = s"$dir/embeddings.parquet"
    val fp = datasetFingerprint(path)
    val cached = embCountMemo.get(dir)
    if (cached != null && cached._1 == fp) cached._2
    else {
      val n = footerRows(spark, path)
      embCountMemo.put(dir, (fp, n))
      n
    }
  }

  /** Fingerprint of a parquet table's files (sorted names + sizes) — keys
    * exported fixture dirs and the in-memory ground-truth memos so
    * REGENERATED source data can never be served from a stale export.
    *
    * CLUSTER-FS-SAFE (r15, the r14 verdict's item 4): the walk runs
    * through the Hadoop FileSystem API under the session conf, so a
    * remote path (hdfs://, s3a://) lists its real files instead of
    * folding to a constant — a regenerated remote dataset invalidates
    * its caches like a local one. Modification times are deliberately
    * EXCLUDED from the fold: a tree copied or rsync'd to another
    * filesystem (or restored from backup) keeps byte-identical files
    * with fresh mtimes, and an mtime-keyed fingerprint would discard
    * every memo and artifact on such a move — the shared-deployment
    * failure mode this rework removes. Names + sizes still catch any
    * real regeneration: compressed parquet written from different data
    * lands at a different byte length (and usually different part-file
    * names) with near-certainty. MUTABLE-in-place artifacts don't rely
    * on this at all — index dirs key off the `_DONE` commit TOKEN
    * ([[graft.operators.Markers]]), which changes on every commit by
    * construction.
    *
    * The "near-certainty" is hardened with a cheap CONTENT signal
    * (ADVICE r15): the last 8 bytes of each file fold into the hash —
    * for parquet that is the footer-length word + magic, which differs
    * whenever the metadata (row counts, column stats) differs, so an
    * in-place regeneration that happens to reproduce identical
    * part-file names AND byte lengths still invalidates. The tail read
    * is memoized per (path, len, mtime) so steady-state fingerprints
    * stay listing-only — mtime keys the MEMO, never the fingerprint: a
    * copied/restored tree re-reads its tails once, finds the same
    * bytes, and keeps its fingerprint (pinned in ArtifactKeySpec).
    */
  def datasetFingerprint(path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(
      org.apache.spark.sql.GraftShim.sessionHadoopConf())
    // a missing path folds to the name-only seed (the pre-r15 java.io
    // behavior): callers fingerprint not-yet-exported dirs during
    // existence checks, so throwing here would break the probe-then-build
    // pattern
    if (!fs.exists(root))
      return 17L * 31 + root.getName.hashCode
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(walk)
      else Seq(st)
    walk(fs.getFileStatus(root)).foldLeft(17L) { (acc, st) =>
      ((acc * 31 + st.getPath.getName.hashCode) * 31 + st.getLen) * 31 +
        tailSignal(fs, st)
    }
  }

  /** Per-file content signal for [[datasetFingerprint]]: a hash of the
    * file's last 64 bytes (parquet: the footer-length + magic plus the
    * tail of the serialized footer metadata itself — r17, ADVICE r16: 8
    * bytes saw only the footer LENGTH, so a rewrite that reproduced the
    * length was invisible to the content signal), memoized per
    * (path, len, mtime) so repeat fingerprints of an unchanged tree cost
    * zero reads. Bounded: entries are tiny and keyed by live fixture
    * files; a long-lived session touches a fixed set of tables.
    */
  private val tailSigMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def tailSignal(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    if (st.getLen == 0) return 0L
    val key = s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
    val cached = tailSigMemo.get(key)
    if (cached != null) return cached.longValue()
    val n = math.min(64L, st.getLen).toInt
    val buf = new Array[Byte](n)
    val in = fs.open(st.getPath)
    try { in.seek(st.getLen - n); in.readFully(buf) } finally in.close()
    val sig = buf.foldLeft(1125899906842597L)((h, b) => h * 31 + b)
    tailSigMemo.put(key, sig)
    sig
  }

  /** Delete fixture dirs under `parent` whose name is `prefix` + a STALE
    * fingerprint (hex, optionally the `.ingest.parquet` sibling) — the
    * superseded exports of regenerated testdata. Each new source
    * fingerprint keys a fresh export dir and nothing else ever reclaims the
    * old ones, so without this they accumulate in tmpdir forever. The hex
    * match (not a bare startsWith) keeps a dataset whose name extends
    * another's (`sf1` vs `sf1_extra` → prefix `graft_wtcorpus_sf1_` would
    * otherwise swallow `..._sf1_extra_<fp>`) from having its live fixtures
    * deleted. Local-FS tooling, like the export itself.
    *
    * `blocks` anchors the match to EXACTLY that many `_`-joined hex
    * fingerprint blocks (= the number of source files the prefix keys
    * on). Without the anchor a dataset whose name extends another's with
    * a hex-only segment (`sf1` vs `sf1_7a`) has its live dirs matched by
    * the shorter dataset's prefix — `graft_x_sf1_` + `7a_<fp>` parses as
    * two blocks — and keepPrefix only protects the caller's own dataset.
    * `blocks = 0` means "any count ≥ 1": legacy-prefix reclaims
    * (keepPrefix matches nothing) use it, where every match is stale by
    * definition, including sibling datasets' dirs under the dead prefix.
    *
    * Runs through the Hadoop FileSystem API (r16, the artifactRoot
    * rework): reclaim honors whatever filesystem the root lives on —
    * previously java.io.File, which on a remote root would silently
    * never reclaim anything.
    */
  def cleanStaleExports(parent: String, prefix: String, keepPrefix: String,
      blocks: Int = 0): Unit = {
    // multi-file fingerprints join hex blocks with '_' (hybfgt keys on
    // documents AND embeddings) — the character class must admit them or
    // those dirs are never reclaimed
    val blockPat =
      if (blocks <= 0) "[0-9a-f]+(_[0-9a-f]+)*"
      else "[0-9a-f]+" + ("(_[0-9a-f]+)" * (blocks - 1))
    val staleName = ("^" + java.util.regex.Pattern.quote(prefix) +
      blockPat + "(\\.ingest\\.parquet)?$").r
    val root = new org.apache.hadoop.fs.Path(parent)
    val fs = hadoopFs(root)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(st => staleName.matches(st.getPath.getName) &&
        !st.getPath.getName.startsWith(keepPrefix))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Export (doc_id, text) as one UTF-8 `<doc_id>.txt` per document — the
    * fixture generator for exercising the reference's real ingestion shape
    * (a directory of text files, BookQuery.java:216-226). Writes happen
    * executor-side to a path all executors share (local mode / shared FS);
    * this is parity/test tooling, not a production sink. Idempotent via a
    * `_SUCCESS` marker (which the wholetext reader ignores, like any
    * underscore-prefixed file).
    *
    * Export a documents DataFrame as a doc-per-file text corpus, once per
    * fixture dir (`_SUCCESS`-keyed). Delegates to the `graft-text` DSv2
    * sink — the engine's ONE file-per-doc writer (task-commit parallel
    * publish, atomic per-document renames, `_SUCCESS` on job commit) —
    * instead of a second hand-rolled `foreachPartition` writer. The sink
    * publishes text line-NORMALIZED, which is exactly what every reader of
    * this format (v1 wholetext, the DSv2 scan, the reference's ingestion)
    * observes anyway, so fixture hashes are unchanged.
    */
  def exportTextCorpus(docs: DataFrame, dir: String): Unit = {
    if (markerExists(dir, "_SUCCESS")) return
    docs.select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .write.format("graft-text").mode("overwrite").save(dir)
  }

  /** One-time fingerprint-keyed fixture export shared by the source-
    * roundtrip gate entries: reclaims superseded exports for `base`, writes
    * via `write` only if the keyed dir isn't already `_SUCCESS`-marked, and
    * returns the dir. Same idempotency discipline as the wholetext corpus.
    */
  def exportOnce(sourceParquet: String, base: String, write: String => Unit): String = {
    val keep = base + java.lang.Long.toHexString(datasetFingerprint(sourceParquet))
    val root = artifactRoot
    cleanStaleExports(root, base, keep, blocks = 1)
    val out = s"$root/$keep"
    if (!markerExists(out, "_SUCCESS")) write(out)
    out
  }

  /** Parity source with the reference's ingestion (BookQuery.java:44-61):
    * one row per text file in `dir`, doc_id = basename without extension,
    * lines joined by a single space (the reference concatenates lines with
    * " ", BookQuery.java:57-61 — here the whole file arrives as one string
    * and we just normalize the line breaks).
    */
  def wholeTextDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").text(dir)
      .select(
        regexp_extract(input_file_name(), "([^/]+?)(\\.[^./]*)?$", 1).as("doc_id"),
        regexp_replace(col("value"), "\\r?\\n", " ").as("text"))

  /** Same document-per-file ingestion through the custom DataSourceV2 source
    * ([[graft.sources.v2.TextCorpusSource]]): doc_id is IN the source schema
    * (no filename projection) and column pruning reaches the file reader —
    * a doc_id-only query never reads file contents.
    */
  def wholeTextDocumentsV2(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-text").load(dir)
}
