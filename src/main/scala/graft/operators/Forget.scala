package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** CROSS-ARTIFACT right-to-be-forgotten — the composition layer over the
  * per-index staged-swap kernel ([[Dedup.forgetFromIndexTables]]).
  *
  * Each index's forget pass is individually crash-safe, but a real forget
  * request spans every per-record artifact a pipeline keeps (text dedup
  * index, vector index, image/audio/video fingerprint indexes, …), and a
  * crash mid-SEQUENCE used to leave the composition inconsistent: the
  * corpus forgotten while a fingerprint index still served the doc —
  * exactly the compliance hole forget exists to close (VERDICT r8 item 4).
  *
  * The fix is a global INTENT MARKER: [[forgetEverywhere]] writes a
  * manifest (id-set fingerprint + the target list) BEFORE touching any
  * index, re-runs every target's pass on resume (each pass is idempotent
  * and converges), and removes the manifest only after ALL targets
  * swapped. A crash at any point leaves the manifest on disk, so the
  * incomplete composition is detectable and resumable; a resume with a
  * DIFFERENT id set or target list fails loudly instead of applying
  * inconsistently (the same contract the per-index `_FORGET_IDS` marker
  * enforces one level down). At 100 TB the manifest is metadata-scale —
  * one small file — and the resume cost is bounded by re-filtering
  * already-filtered tables (anti-join of ids already absent: a no-op
  * rewrite per table).
  *
  * PARTITION-SCOPED REWRITE. A request of at most
  * [[EmbeddingSearch.LocalBatchCap]] ids is collected once
  * ([[Request]]): the manifest's and every index's fingerprints come from
  * a driver-side twin of [[idSetFingerprint]] (no job), and the
  * partitioned BM25 and IVF tables rewrite only the `key=v` dirs
  * [[route]] places a forgotten key in — `fwd`/`idmap` by their bucket
  * rules, `ivf` through the ids' `idmap` cells, `postings` through the
  * forgotten docs' `fwd` terms — instead of copying every table whole.
  * Each index swaps its rewritten dirs one at a time through a staging
  * root that holds exactly the dirs not yet swapped
  * ([[Dedup.forgetFromIndexTables]]). The passes over different
  * indexes run side by side. Flat tables, larger requests and a
  * routing table that cannot place a key keep the whole-table rewrite.
  */
object Forget {

  /** One per-record artifact to forget from: an index root, the parquet
    * tables under it, and the id column those tables key on.
    */
  final case class Target(indexPath: String, tables: Seq[String], keyCol: String)

  /** The standard target shapes, so callers compose a full forget without
    * re-stating each index's table layout.
    */
  def textDedupTarget(indexPath: String): Target =
    Target(indexPath, Seq("exact", "sets", "bands"), "doc_id")
  def bm25Target(indexPath: String): Target =
    Target(indexPath, Seq("postings", "doclens", "fwd"), "doc_id")
  /** The IVF index's VECTOR table — the per-record side of the ANN
    * artifact. The `cent` table is the trained MODEL and deliberately NOT
    * a target (the index-vs-model GDPR distinction: record deletion
    * removes the record's data, not statistics trained over the corpus —
    * see [[graft.operators.Dedup]]'s forget doc).
    */
  def ivfTarget(indexPath: String): Target =
    Target(indexPath, Seq("ivf", "idmap"), "vec_id")

  /** Order-independent fingerprint of a forget id set: distinct count +
    * summed crc32 of the key's string form — one aggregation over a frame
    * that is request-scale (a forget list), never corpus-scale. Two id
    * sets that differ collide with crc-sum probability; the marker guards
    * against OPERATOR error (rerunning with the wrong request), not an
    * adversary, so a 32-bit-sum check is proportionate.
    */
  def idSetFingerprint(ids: DataFrame, keyCol: String): String = {
    val r = ids.select(col(keyCol).cast("string").as("k")).distinct()
      .agg(count(lit(1)).as("n"), coalesce(sum(crc32(col("k"))), lit(0L)).as("s"))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** The driver-side twin of [[idSetFingerprint]] over the keys' string
    * casts: distinct count (a null key counts once, as `count(1)` over
    * the distinct rows does) + summed crc32 of the non-null keys' UTF-8
    * bytes. Equal to the job's value for the same keys. */
  private[graft] def localIdSetFingerprint(keys: Seq[String]): String = {
    val distinct = keys.distinct
    val crcSum = distinct.iterator.filter(_ != null).map { k =>
      val c = new java.util.zip.CRC32
      c.update(k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      c.getValue
    }.sum
    s"${distinct.size}:$crcSum"
  }

  /** One forget request's ids. A request of at most
    * [[EmbeddingSearch.LocalBatchCap]] rows comes to the driver ONCE
    * (one bounded collect; none for a LocalRelation): per key column, the
    * raw values (the anti-join side and the routing input) and Spark's
    * string cast of them (the fingerprint input). A larger request keeps
    * its frame: fingerprints run as jobs and every table is rewritten
    * whole, as a routed rewrite needs the keys on the driver. */
  private[graft] final class Request private (ids: DataFrame,
      local: Option[Map[String, Seq[(Any, String)]]]) {
    def fingerprint(keyCol: String): String =
      local.fold(idSetFingerprint(ids, keyCol))(m => localIdSetFingerprint(m(keyCol).map(_._2)))

    /** The distinct non-null keys, when the request was collected. */
    def keys(keyCol: String): Option[Seq[Any]] =
      local.map(_(keyCol).map(_._1).filter(_ != null).distinct)

    /** True on a row keyed by one of the collected ids. */
    def matches(keyCol: String): Column = col(keyCol).isin(keys(keyCol).get: _*)

    /** `rows` minus the rows keyed by an id — a left anti-join on
      * `keyCol`. A collected request plans it as a `NOT IN` filter over
      * its keys, so the rewrite runs no broadcast job; a null key never
      * matches a join key, so null-keyed rows stay, as the join keeps
      * them. An uncollected request joins the frame's key column,
      * size-gated like every other small-side hint: a bulk GDPR batch
      * (millions of ids) stays a shuffle join instead of pinning an
      * unbounded frame into every executor. */
    def removeFrom(rows: DataFrame, keyCol: String): DataFrame = keys(keyCol) match {
      case Some(_) => rows.where(col(keyCol).isNull || !matches(keyCol))
      case None => rows.join(Scale.maybeBroadcast(ids.select(col(keyCol))), Seq(keyCol), "left_anti")
    }
  }

  private[graft] object Request {
    def apply(ids: DataFrame, keyCols: Seq[String]): Request = {
      val rows = EmbeddingSearch.smallBatchRows(
        ids.select(keyCols.flatMap(kc => Seq(col(kc), col(kc).cast("string"))): _*))
      new Request(ids, rows.map(rs => keyCols.zipWithIndex.map { case (kc, i) =>
        kc -> rs.toSeq.map(r => (r.get(2 * i), r.getString(2 * i + 1)))
      }.toMap))
    }
  }

  /** The partition dirs (`pk=v`, by value) of one index table that can
    * hold a forgotten key, and — where the routing table cannot place a
    * key by itself — a check on the rows the rewrite of those dirs
    * removes: the sum of a per-row weight over them must equal the value
    * the route expects. */
  private[operators] final case class Route(dirs: Seq[Int], removed: Option[(Column, Long)])

  /** Route a collected request's keys to the dirs of `table` that can
    * hold them, or None when the table must be rewritten whole (a flat
    * table, a request over the cap, a layout without a routing rule, or
    * a routing table that cannot place every key):
    *   - BM25 `fwd` (`db=`) and IVF `idmap` (`ib=`): the layouts' own
    *     bucket rules ([[TextAnalysis.fwdBucketOf]],
    *     [[EmbeddingSearch.idmapBucketOf]]).
    *   - IVF `ivf` (`cl=`): the cells the keys' `idmap` rows name; the
    *     rewrite must remove one row per such idmap row. A key without an
    *     idmap row is placed only if `ivf` and `idmap` hold as many rows
    *     as each other (footer counts: the map is derived one row per
    *     vector, so a key absent from both has nothing to remove).
    *   - BM25 `postings` (`bucket=`): [[TextAnalysis.termBucketOf]] over
    *     the forgotten docs' `fwd` terms; the Σ tf the rewrite removes
    *     must equal the docs' Σ dl in `doclens` (a term missing from
    *     `fwd` would otherwise leave its postings row behind).
    * Every read is of the live tables, before the forget stages
    * anything. */
  private[operators] def route(spark: SparkSession, indexPath: String, table: String,
      partCols: Seq[String], keyCol: String, req: Request): Option[Route] = {
    val fs = new Path(indexPath).getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    def committed(t: String): Boolean = fs.exists(new Path(indexPath, s"$t/_SUCCESS"))
    val keys = req.keys(keyCol)
      .filter(_.forall(k => k.isInstanceOf[java.lang.Long] || k.isInstanceOf[java.lang.Integer]))
      .map(_.map(_.asInstanceOf[Number].longValue))
    (keys, table, partCols, keyCol) match {
      case (Some(ks), "fwd", Seq("db"), "doc_id") =>
        Some(Route(ks.map(TextAnalysis.fwdBucketOf).distinct, None))
      case (Some(ks), "idmap", Seq("ib"), "vec_id") =>
        Some(Route(ks.map(EmbeddingSearch.idmapBucketOf).distinct, None))
      case (Some(ks), "ivf", Seq("cl"), "vec_id") if committed("idmap") =>
        val idmap = s"$indexPath/idmap"
        val rows = Tables.probedPartitionRead(spark, idmap, "ib",
            ks.map(EmbeddingSearch.idmapBucketOf).distinct)
          .where(req.matches(keyCol)).select(col("vec_id").cast("long"), col("cl").cast("int"))
          .collect()
        val found = rows.map(_.getLong(0)).toSet
        if (ks.forall(found) ||
            Tables.footerRows(spark, s"$indexPath/ivf") == Tables.footerRows(spark, idmap))
          Some(Route(rows.map(_.getInt(1)).distinct.toSeq, Some((lit(1L), rows.length.toLong))))
        else None
      case (Some(ks), "postings", Seq("bucket"), "doc_id") if committed("fwd") && committed("doclens") =>
        val doclens = s"$indexPath/doclens"
        val terms = Tables.probedPartitionRead(spark, s"$indexPath/fwd", "db",
            ks.map(TextAnalysis.fwdBucketOf).distinct)
          .where(req.matches(keyCol)).select(col("term"), lit(null).cast("long").as("dl"))
        // one job for both lookups; a committed-but-empty doclens has no
        // schema to read and no length to add
        val lens = if (Tables.dataFiles(doclens).isEmpty) terms.limit(0)
          else Tables.artifactPartitionedParquet(spark, doclens, Seq(doclens))
            .where(req.matches(keyCol))
            .select(lit(null).cast("string").as("term"), col("dl").cast("long"))
        val rows = terms.union(lens).collect()
        val buckets = rows.filter(!_.isNullAt(0))
          .map(r => TextAnalysis.termBucketOf(r.getString(0))).distinct.toSeq
        val dl = rows.filter(!_.isNullAt(1)).map(_.getLong(1)).sum
        Some(Route(buckets, Some((col("tf").cast("long"), dl))))
      case _ => None
    }
  }

  /** Claim `marker` for this id-set fingerprint: absent → write it
    * (tmp + rename so a torn write can't read as valid); present → require
    * it matches, else fail loudly. The caller removes the marker after its
    * pass completes.
    */
  private[operators] def claimIdSet(fs: FileSystem, marker: Path, fp: String): Unit = {
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val prior = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(prior == fp,
        s"a prior forget at $marker is incomplete and was started with a DIFFERENT " +
          s"id set (marker '$prior' != this request '$fp') — resume it with the " +
          "original ids (or finish/inspect it manually) before forgetting new ones; " +
          "applying a different set mid-recovery would filter tables inconsistently")
    } else {
      val tmp = marker.suffix(".tmp")
      graft.sources.ArtifactFs.writeFile(fs, tmp, fp.getBytes("UTF-8"))
      require(fs.rename(tmp, marker), s"could not commit forget marker $marker")
    }
  }

  /** Full REBUILDERS call this right before committing `_DONE`: a rebuild
    * wholesale-overwrites the tables, so any crashed forget's state is
    * moot — and a surviving `_FORGET_IDS` marker would poison every
    * future forget with a different id set ("started with a DIFFERENT id
    * set" against an index that no longer carries the old pass's partial
    * filtering). Also clears leftover staging — whole-table
    * `__forgetting` and per-dir `__forgetting_dirs` — so a later forget
    * cannot resume a stale stage over the fresh tables.
    */
  private[operators] def clearStaleForgetState(fs: FileSystem, indexPath: String,
      tables: Seq[String]): Unit = {
    fs.delete(new Path(indexPath, "_FORGET_IDS"), false)
    for (t <- tables; suffix <- Seq("__forgetting", "__forgetting_dirs"))
      fs.delete(new Path(indexPath, t + suffix), true)
    ()
  }

  /** EXTENDS (and compactions, retrains) call this before writing:
    * appending to an index whose forget crashed mid-pass would interleave
    * new rows with half-filtered tables, and a per-dir swap still staged
    * would later replace dirs the append wrote to — the forget must be
    * resumed (same ids) or the index rebuilt first. The `_FORGET_IDS`
    * marker outlives every stage, so a stage left without it was
    * orphaned by hand and is refused too.
    */
  private[operators] def requireNoCrashedForget(fs: FileSystem, indexPath: String): Unit = {
    require(!fs.exists(new Path(indexPath, "_FORGET_IDS")),
      s"a forget pass at $indexPath is incomplete (_FORGET_IDS present) — " +
        "resume it with the original ids (or rebuild the index) before extending")
    val root = new Path(indexPath)
    val staged = if (!fs.exists(root)) Nil
      else fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith("__forgetting_dirs")).toSeq
    require(staged.isEmpty,
      s"a forget pass at $indexPath left dirs staged in ${staged.mkString(", ")} — " +
        "resume it with the original ids (or rebuild the index) before extending")
  }

  /** Forget `ids` from EVERY target as one resumable composition (see
    * object doc). `manifestPath` is the global intent marker's location —
    * one per logical forget pipeline, NOT per request (a second request
    * while a crashed one is unresumed must fail, not interleave).
    */
  def forgetEverywhere(spark: SparkSession, manifestPath: String, ids: DataFrame,
      targets: Seq[Target]): Unit = {
    require(targets.nonEmpty, "forgetEverywhere needs at least one target")
    // sorted like the target lines below: the manifest must not depend on
    // the order a recovery script happens to rebuild the target list in
    val keyCols = targets.map(_.keyCol).distinct.sorted
    val req = Request(ids, keyCols)
    val fps = keyCols.map(kc => kc + "=" + req.fingerprint(kc)).mkString(";")
    val manifest = new Path(manifestPath)
    val fs = manifest.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val body = fps + "\n" + targets.map(t =>
      s"${t.indexPath}|${t.tables.mkString(",")}|${t.keyCol}").sorted.mkString("\n")
    claimIdSet(fs, manifest, body)
    // every target runs on both the fresh and the resume path — the
    // per-index kernel is idempotent, and re-running completed targets is
    // what makes "resume = rerun the same request" the whole contract.
    // Passes over different indexes share no file, so they run side by
    // side; targets naming the same index run one after another
    Tables.inParallel(spark, targets.groupBy(_.indexPath).values.toSeq.map(ts => () =>
      ts.foreach(t => Dedup.forgetFromIndexTables(spark, t.indexPath, t.tables, t.keyCol, req))))
    fs.delete(manifest, false)
  }
}
