package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.operators.Markers

/** The artifact-keying contracts (r15, the r14 verdict's item 4 +
  * ADVICE): fingerprints must survive a tree copy / mtime-less
  * filesystem (rsync, backup-restore, object stores with coarse or
  * rewritten timestamps) while still invalidating on real content
  * change; commit markers must change on EVERY commit even when two
  * mutations land inside one mtime tick.
  */
class ArtifactKeySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def writeTable(path: String, n: Int): Unit =
    spark.range(n).toDF("id").coalesce(1).write.mode("overwrite").parquet(path)

  test("datasetFingerprint survives an mtime rewrite (copied tree) and still invalidates on content change") {
    val root = java.nio.file.Files.createTempDirectory("graft_fp").toString
    val a = s"$root/tbl"
    writeTable(a, 100)
    val fp0 = Tables.datasetFingerprint(a)
    // simulate the copied/restored tree: same bytes, all-new mtimes
    java.nio.file.Files.walk(java.nio.file.Paths.get(a)).forEach { p =>
      p.toFile.setLastModified(System.currentTimeMillis() - 86400000L)
    }
    assert(Tables.datasetFingerprint(a) == fp0,
      "an mtime-only change must NOT invalidate fingerprint-keyed memos/artifacts")
    // a byte-for-byte copy at another path fingerprints identically too
    // (names + sizes — the copy carries the same files)
    val b = s"$root/tbl_copy"
    val src = java.nio.file.Paths.get(a)
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = java.nio.file.Paths.get(b).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
    assert(Tables.datasetFingerprint(b) == fp0,
      "a byte-identical copy must fingerprint identically")
    // REGENERATED data (different row count -> different parquet bytes)
    // must invalidate
    writeTable(a, 101)
    assert(Tables.datasetFingerprint(a) != fp0,
      "regenerated content must invalidate the fingerprint")
  }

  test("datasetFingerprint invalidates on a same-name same-size content rewrite (tail signal)") {
    // the ADVICE r15 hardening: an in-place regeneration that reproduces
    // identical part-file names AND byte lengths must still invalidate —
    // names+sizes alone cannot see it, the tail signal can
    val root = java.nio.file.Files.createTempDirectory("graft_fptail").toString
    val f = java.nio.file.Paths.get(root, "part-00000")
    java.nio.file.Files.write(f, "content-A".getBytes("UTF-8"))
    val fp0 = Tables.datasetFingerprint(root)
    java.nio.file.Files.write(f, "content-B".getBytes("UTF-8")) // same length
    // force a DIFFERENT mtime: the tail memo is (path, len, mtime)-keyed,
    // and a rewrite landing in the same millisecond tick would hide
    // behind the memo (real regenerations always move mtime)
    f.toFile.setLastModified(f.toFile.lastModified() + 5000)
    assert(Tables.datasetFingerprint(root) != fp0,
      "same-size in-place regeneration must invalidate via the tail signal")
  }

  test("commitValue publishes atomically, rejects reserved ranges, and round-trips through token") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val dir = java.nio.file.Files.createTempDirectory("graft_cv").toString
    val p = new org.apache.hadoop.fs.Path(dir, "_BATCH")
    Markers.commitValue(fs, p, "batch_7")
    assert(Markers.token(fs, p) == "batch_7")
    Markers.commitValue(fs, p, "batch_8")
    assert(Markers.token(fs, p) == "batch_8")
    // no leftover temp files from the staged rename
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .forall(_.getPath.getName == "_BATCH"))
    // reserved token ranges stay disjoint from caller values
    for (bad <- Seq("", "absent", "mtime:123"))
      intercept[IllegalArgumentException](Markers.commitValue(fs, p, bad))
  }

  test("commit tokens change per commit even inside one mtime tick; legacy empty markers fall back to mtime") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val dir = java.nio.file.Files.createTempDirectory("graft_tok").toString
    val p = new org.apache.hadoop.fs.Path(dir, "_DONE")
    Markers.commit(fs, p)
    val t1 = Markers.token(fs, p)
    Markers.commit(fs, p)
    // force the two commits into the SAME apparent mtime tick — the
    // exact coarse-granularity scenario mtime keying got wrong
    val st = fs.getFileStatus(p)
    fs.setTimes(p, st.getModificationTime / 1000 * 1000, -1)
    val t2 = Markers.token(fs, p)
    assert(t1 != t2, "two commits must never share a token")
    assert(t2 != "absent" && !t2.startsWith("mtime:"))
    // legacy (pre-r15) empty marker: token keys off the mtime form, so
    // an existing deployment stays readable and upgrades at next commit
    fs.create(p, true).close()
    assert(Markers.token(fs, p).startsWith("mtime:"))
    fs.delete(p, false)
    assert(Markers.token(fs, p) == "absent")
  }

  test("the eval memo survives an mtime-only rewrite and re-prices on regeneration") {
    // end-to-end: a recall twin's memoized ground truth must stay valid
    // across the copied-tree scenario and refresh when the table really
    // changes. Uses the real entry at sf0.001 via a scratch dataset dir
    // so the testdata stays untouched.
    val root = java.nio.file.Files.createTempDirectory("graft_fpmemo").toString
    for (t <- Seq("embeddings", "documents"))
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .write.parquet(s"$root/$t.parquet")
    val fpBefore = Tables.datasetFingerprint(s"$root/embeddings.parquet")
    val r1 = SparkEntry.queries("embed_kmeans_sized_recall")(spark, root)
      .collect().map(_.toString).toSet
    // mtime-only rewrite (the copied-tree simulation): the memoized
    // exact pairs must still serve — same fingerprint, same rows
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/embeddings.parquet"))
      .forEach(p => p.toFile.setLastModified(System.currentTimeMillis() - 3600000L))
    assert(Tables.datasetFingerprint(s"$root/embeddings.parquet") == fpBefore)
    val r2 = SparkEntry.queries("embed_kmeans_sized_recall")(spark, root)
      .collect().map(_.toString).toSet
    assert(r1 == r2, "memoized serve drifted across an mtime-only rewrite")
  }

  test("the table-schema memo re-infers on regeneration (schema change included)") {
    // r16 opt: Tables.table memoizes the INFERRED SCHEMA per fingerprint
    // (the data path itself is never cached — each call builds a fresh
    // frame over the current files). A regenerated table must re-infer:
    // same-schema regeneration serves the new ROWS, and a regeneration
    // that CHANGES the schema must surface the new columns, not the memo.
    val root = java.nio.file.Files.createTempDirectory("graft_schmemo").toString
    val p = s"$root/documents.parquet"
    spark.range(5).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val t1 = Tables.table(spark, root, "documents")
    assert(t1.columns.toSet == Set("doc_id", "text") && t1.count() == 5)
    // same schema, new rows: the memo serves the schema, the scan the data
    spark.range(7).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .coalesce(1).write.mode("overwrite").parquet(p)
    assert(Tables.table(spark, root, "documents").count() == 7,
      "schema memo must not pin the file listing — new rows must be read")
    // schema change: additive column must appear (fingerprint moved)
    spark.range(3).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text",
        "'en' AS lang")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val t3 = Tables.table(spark, root, "documents")
    assert(t3.columns.toSet == Set("doc_id", "text", "lang"),
      "regenerated schema must re-infer, not serve the memoized one")
  }

  test("a pruned partitioned read picks up rewritten partition dirs, whichever dirs it probes first") {
    // the schema memo of the pruned read validates EVERY probed dir: rewrite
    // bucket=1 and bucket=2 with a new column and new rows, leave bucket=0
    // (the first probed dir) alone, and the next read must see the new
    // column, the new rows, and nulls for the untouched dir
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_partschema").toString
    val tbl = s"$root/postings"
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 2)).toDF("id", "x", "bucket")
      .write.partitionBy("bucket").parquet(tbl)
    def read(): org.apache.spark.sql.DataFrame =
      Tables.probedPartitionRead(spark, tbl, "bucket", Seq(0, 1, 2))
    assert(read().columns.toSeq == Seq("id", "x", "bucket"))
    assert(read().count() == 3)
    // the driver-side footer schema is the one Spark's own inference gives
    val dirs = Seq(0, 1, 2).map(b => s"$tbl/bucket=$b")
    assert(Tables.artifactPartitionedParquet(spark, tbl, dirs).schema ==
      spark.read.option("basePath", tbl).parquet(dirs: _*).schema)
    val staged = s"$root/staged"
    Seq((20L, "bb", 7L, 1), (30L, "cc", 8L, 2)).toDF("id", "x", "y", "bucket")
      .write.partitionBy("bucket").parquet(staged)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    for (b <- Seq(1, 2)) {
      val live = new org.apache.hadoop.fs.Path(tbl, s"bucket=$b")
      assert(fs.delete(live, true))
      assert(fs.rename(new org.apache.hadoop.fs.Path(staged, s"bucket=$b"), live))
    }
    val after = read()
    assert(after.columns.toSeq == Seq("id", "x", "y", "bucket"),
      "the rewritten dirs' new column must be visible")
    val rows = after.select($"id", $"x", $"y", $"bucket")
      .as[(Long, String, Option[Long], Int)].collect().toSet
    assert(rows == Set((1L, "a", None, 0), (20L, "bb", Some(7L), 1), (30L, "cc", Some(8L), 2)))
  }
}
