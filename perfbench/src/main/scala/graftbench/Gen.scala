package graftbench

import java.security.MessageDigest
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

final case class Doc(id: Long, text: String, lang: String, source: String)
final case class Vec(id: Long, v: Array[Float], label: Int)

/** A known near-duplicate: `dup` was derived from `src` by changing a few
  * tokens (text) or adding a little noise (vector). Only the benchmark knows
  * these pairs; the program sees plain rows.
  */
final case class DupPair(src: Long, dup: Long)

/** One ingest batch: new docs and vectors (ids new to the index), with
  * near-duplicates of indexed docs among the docs.
  */
final case class Batch(docs: Array[Doc], vecs: Array[Vec], nearDups: Array[DupPair])

/** Sizes of one workload's inputs. `replicas` copies of a `baseDocs`-doc base
  * corpus are indexed; `heldOut` further replicas feed ingest batches.
  */
final case class Shape(baseDocs: Int, replicas: Int, heldOut: Int = 0,
    nearDups: Int, exactDups: Int, vecDups: Int, batches: Int = 0,
    batchDocs: Int = 0, batchDups: Int = 0, queries: Int = 0)

final case class Inputs(shape: Shape, seed: Long, docs: Array[Doc], vecs: Array[Vec],
    nearDups: Array[DupPair], exactDups: Array[DupPair], vecDups: Array[DupPair],
    docQueries: Array[Long], vecQueries: Array[Vec], hybridQueries: Array[(Long, String, Array[Float])],
    batches: Array[Batch]) {

  def textMb: Double = docs.iterator.map(_.text.length.toLong).sum / 1e6

  /** SHA-256 over a canonical serialization of every generated value — the
    * byte-identity check of the generator (same seed, same digest).
    */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    def s(x: Any): Unit = md.update((x.toString + "\u0001").getBytes(UTF_8))
    def vec(v: Vec): Unit = { s(v.id); v.v.foreach(f => s(java.lang.Float.floatToIntBits(f))); s(v.label) }
    docs.foreach(d => { s(d.id); s(d.text); s(d.lang); s(d.source) })
    vecs.foreach(vec)
    Seq(nearDups, exactDups, vecDups).foreach(_.foreach(p => { s(p.src); s(p.dup) }))
    docQueries.foreach(s)
    vecQueries.foreach(vec)
    hybridQueries.foreach { case (id, t, e) => s(id); s(t); e.foreach(f => s(java.lang.Float.floatToIntBits(f))) }
    batches.foreach { b =>
      b.docs.foreach(d => { s(d.id); s(d.text) }); b.vecs.foreach(vec)
      b.nearDups.foreach(p => { s(p.src); s(p.dup) })
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Seeded input generator. Same seed and shape ⇒ identical inputs.
  *
  * The base corpus mimics the graft fixture's documents table: a small
  * uniform vocabulary, 8–100 tokens per doc, five languages, twenty
  * sources; vectors are 64-d, clustered by one of ten labels. Scaling copies
  * the base corpus with the replication rules of
  * `graft.tools.ScaleBench.scaledDocs`: replica r > 0 maps every token t to
  * `t + "x" + r` (a vocabulary bijection, so within-replica shingle structure
  * is kept and cross-replica shingles never collide) and rotates each
  * vector's dims by r (cosines within a replica are exact). Held-out
  * replicas give the ingest batches their docs.
  */
object Gen {
  val Vocab: Array[String] = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
    "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega", "red", "green",
    "blue", "north", "south", "east", "west", "a")
  val Langs: Array[String] = Array("en", "en", "en", "de", "fr", "es", "zh")
  val Dim = 64
  val Labels = 10
  /** A text near-duplicate must have true 3-shingle Jaccard at least this. */
  val MinDupJaccard = 0.8

  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split("\\W+")
    if (t.length < k) Set.empty else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  private def replicaWord(w: String, rep: Int): String = if (rep == 0) w else s"${w}x$rep"

  private def rotate(v: Array[Float], rep: Int): Array[Float] = {
    val r = rep % Dim
    Array.tabulate(Dim)(i => v((i + r) % Dim))
  }

  /** Replace `n` distinct token positions with other words of the same
    * replica's vocabulary.
    */
  private def mutate(tokens: Array[String], n: Int, rep: Int, rnd: java.util.Random): Array[String] = {
    val out = tokens.clone()
    val picked = scala.collection.mutable.Set.empty[Int]
    while (picked.size < n) picked += rnd.nextInt(out.length)
    picked.toSeq.sorted.foreach { i =>
      var w = out(i)
      while (w == out(i)) w = replicaWord(Vocab(rnd.nextInt(Vocab.length)), rep)
      out(i) = w
    }
    out
  }

  private def perturb(v: Array[Float], scale: Double, rnd: java.util.Random): Array[Float] =
    v.map(x => (x + scale * rnd.nextGaussian()).toFloat)

  def generate(shape: Shape, seed: Long): Inputs = {
    val rnd = new java.util.Random(seed)
    // base corpus: token lists and labelled vectors
    val baseTok = Array.fill(shape.baseDocs) {
      Array.fill(8 + rnd.nextInt(93))(Vocab(rnd.nextInt(Vocab.length)))
    }
    val baseMeta = Array.tabulate(shape.baseDocs)(i => (Langs(rnd.nextInt(Langs.length)), s"src${i % 20}"))
    val centers = Array.fill(Labels)(Array.fill(Dim)(rnd.nextGaussian()))
    val baseVecs = Array.fill(shape.baseDocs * 2 / 5) {
      val l = rnd.nextInt(Labels)
      (Array.tabulate(Dim)(d => (centers(l)(d) + 0.7 * rnd.nextGaussian()).toFloat), l)
    }
    val reps = shape.replicas + shape.heldOut
    // every doc (replicas, then injected copies) draws its id from one
    // seeded permutation, so which docs play queries/eval docs is seeded too
    val nDocs = reps * shape.baseDocs + shape.nearDups + shape.exactDups +
      shape.batches * shape.batchDups
    val docIds = permutation(nDocs, rnd)
    val nVecs = reps * baseVecs.length + shape.vecDups
    val vecIds = permutation(nVecs, rnd)
    var nextDoc = 0
    var nextVec = 0
    def docId(): Long = { nextDoc += 1; docIds(nextDoc - 1) }
    def vecId(): Long = { nextVec += 1; vecIds(nextVec - 1) }

    def replicaDocs(rep: Int): Array[(Doc, Array[String], Int)] = Array.tabulate(shape.baseDocs) { i =>
      val toks = baseTok(i).map(replicaWord(_, rep))
      (Doc(docId(), toks.mkString(" "), baseMeta(i)._1, baseMeta(i)._2), toks, rep)
    }
    def replicaVecs(rep: Int): Array[Vec] =
      baseVecs.map { case (v, l) => Vec(vecId(), rotate(v, rep), l) }

    val indexed = (0 until shape.replicas).flatMap(replicaDocs).toArray
    val indexedVecs = (0 until shape.replicas).flatMap(replicaVecs).toArray
    val held = (shape.replicas until reps).flatMap(replicaDocs).toArray
    // batch vectors are new draws from the indexed distribution, so the
    // index's trained quantizer fits them as it fits the corpus
    val heldVecs = Array.fill(shape.heldOut * baseVecs.length) {
      val l = rnd.nextInt(Labels)
      Vec(vecId(), Array.tabulate(Dim)(d => (centers(l)(d) + 0.7 * rnd.nextGaussian()).toFloat), l)
    }

    /** A near-duplicate of a long indexed doc with Jaccard ≥ MinDupJaccard. */
    def nearDupOf(pool: Array[(Doc, Array[String], Int)]): (Doc, DupPair) = {
      var made: Option[(Doc, DupPair)] = None
      while (made.isEmpty) {
        val (src, toks, rep) = pool(rnd.nextInt(pool.length))
        if (toks.length >= 40) {
          val copy = mutate(toks, 1 + toks.length / 60, rep, rnd).mkString(" ")
          if (jaccard(shingles(src.text), shingles(copy)) >= MinDupJaccard) {
            val d = Doc(-1L, copy, src.lang, src.source)
            made = Some((d, DupPair(src.id, -1L)))
          }
        }
      }
      val id = docId()
      val (d, p) = made.get
      (d.copy(id = id), p.copy(dup = id))
    }

    val near = Array.fill(shape.nearDups)(nearDupOf(indexed))
    val exact = Array.fill(shape.exactDups) {
      val (src, _, _) = indexed(rnd.nextInt(indexed.length))
      val id = docId()
      (src.copy(id = id), DupPair(src.id, id))
    }
    val vdup = Array.fill(shape.vecDups) {
      val src = indexedVecs(rnd.nextInt(indexedVecs.length))
      val id = vecId()
      (Vec(id, perturb(src.v, 0.01, rnd), src.label), DupPair(src.id, id))
    }
    val docs = shuffle(indexed.map(_._1) ++ near.map(_._1) ++ exact.map(_._1), rnd)
    val vecs = shuffle(indexedVecs ++ vdup.map(_._1), rnd)

    val docQueries = Array.fill(shape.queries)(docs(rnd.nextInt(docs.length)).id)
    val vecQueries = Array.tabulate(shape.queries) { i =>
      val src = vecs(rnd.nextInt(vecs.length))
      Vec(i.toLong, perturb(src.v, 0.3, rnd), src.label)
    }
    val hybridQueries = Array.tabulate(shape.queries) { i =>
      val (src, toks, rep) = indexed(rnd.nextInt(indexed.length))
      val v = vecs(rnd.nextInt(vecs.length))
      (i.toLong, mutate(toks, 1 + toks.length / 20, rep, rnd).mkString(" "), perturb(v.v, 0.3, rnd))
    }

    val perBatchVecs = if (shape.batches == 0) 0 else heldVecs.length / shape.batches
    val batches = Array.tabulate(shape.batches) { b =>
      val fresh = held.slice(b * shape.batchDocs, (b + 1) * shape.batchDocs).map(_._1)
      val dups = Array.fill(shape.batchDups)(nearDupOf(indexed))
      Batch(shuffle(fresh ++ dups.map(_._1), rnd),
        heldVecs.slice(b * perBatchVecs, (b + 1) * perBatchVecs), dups.map(_._2))
    }
    require(shape.batches * shape.batchDocs <= held.length,
      s"${shape.batches} batches of ${shape.batchDocs} docs exceed the ${held.length} held-out docs")

    Inputs(shape, seed, docs, vecs, near.map(_._2), exact.map(_._2), vdup.map(_._2),
      docQueries, vecQueries, hybridQueries, batches)
  }

  private def permutation(n: Int, rnd: java.util.Random): Array[Long] =
    shuffle(Array.tabulate(n)(_.toLong), rnd)

  private def shuffle[T](a: Array[T], rnd: java.util.Random): Array[T] = {
    val out = a.clone()
    var i = out.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType, nullable = false)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType, nullable = false)))

  def docRows(docs: Seq[Doc]): Seq[Row] =
    docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
  def vecRows(vecs: Seq[Vec]): Seq[Row] = vecs.map(v => Row(v.id, v.v.toSeq, v.label))

  /** Write docs and vectors as a graft dataset dir (documents.parquet,
    * embeddings.parquet). Reuses `dir` when a previous run of the same seed
    * and shape completed it (its `_INPUT` marker holds the digest).
    */
  def writeDataset(spark: SparkSession, in: Inputs, dir: String, digest: String): Unit = {
    val marker = new java.io.File(dir, "_INPUT")
    val ok = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), UTF_8) == digest
    if (!ok) {
      val tmp = new java.io.File(dir + ".tmp-" + ProcessHandle.current().pid())
      spark.createDataFrame(spark.sparkContext.parallelize(docRows(in.docs.toSeq), 4), DocSchema)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      spark.createDataFrame(spark.sparkContext.parallelize(vecRows(in.vecs.toSeq), 4), VecSchema)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      java.nio.file.Files.write(new java.io.File(tmp, "_INPUT").toPath, digest.getBytes(UTF_8))
      Files.deleteTree(new java.io.File(dir))
      require(tmp.renameTo(new java.io.File(dir)), s"could not publish inputs at $dir")
    }
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def dataFiles(f: java.io.File): Int =
    if (!f.exists()) 0
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0
    else 1
}
