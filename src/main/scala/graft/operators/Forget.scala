package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
      val out = fs.create(tmp, true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, marker), s"could not commit forget marker $marker")
    }
  }

  /** Full REBUILDERS call this right before committing `_DONE`: a rebuild
    * wholesale-overwrites the tables, so any crashed forget's state is
    * moot — and a surviving `_FORGET_IDS` marker would poison every
    * future forget with a different id set ("started with a DIFFERENT id
    * set" against an index that no longer carries the old pass's partial
    * filtering). Also clears leftover `__forgetting` staging dirs so a
    * later forget cannot resume a stale stage over the fresh tables.
    */
  private[operators] def clearStaleForgetState(fs: FileSystem, indexPath: String,
      tables: Seq[String]): Unit = {
    fs.delete(new Path(indexPath, "_FORGET_IDS"), false)
    tables.foreach(t => fs.delete(new Path(indexPath, s"${t}__forgetting"), true))
    ()
  }

  /** EXTENDS call this before appending: appending to an index whose
    * forget crashed mid-pass would interleave new rows with half-filtered
    * tables — the forget must be resumed (same ids) or the index rebuilt
    * first.
    */
  private[operators] def requireNoCrashedForget(fs: FileSystem, indexPath: String): Unit =
    require(!fs.exists(new Path(indexPath, "_FORGET_IDS")),
      s"a forget pass at $indexPath is incomplete (_FORGET_IDS present) — " +
        "resume it with the original ids (or rebuild the index) before extending")

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
    val fps = keyCols.map(kc => kc + "=" + idSetFingerprint(ids, kc)).mkString(";")
    val manifest = new Path(manifestPath)
    val fs = manifest.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val body = fps + "\n" + targets.map(t =>
      s"${t.indexPath}|${t.tables.mkString(",")}|${t.keyCol}").sorted.mkString("\n")
    claimIdSet(fs, manifest, body)
    // every target runs on both the fresh and the resume path — the
    // per-index kernel is idempotent, and re-running completed targets is
    // what makes "resume = rerun the same request" the whole contract
    targets.foreach { t =>
      Dedup.forgetFromIndexTables(spark, t.indexPath, t.tables, t.keyCol, ids)
    }
    fs.delete(manifest, false)
  }
}
