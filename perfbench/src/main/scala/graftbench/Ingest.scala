package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators._
import Workloads._

/** `ingest`: writes beside reads on the index layer. Each request is one
  * batch through the write path: dedup against the index, extend the
  * dedup, BM25 and IVF indexes (compacting as shipped), then forget a few
  * of the batch's records from all three. One read of each type follows,
  * its query drawn from the batch just written, so every read starts after
  * commits invalidated graft's metadata memos.
  */
object Ingest {
  /** Records (doc and vector) each batch asks to forget again. */
  val ForgetCount = 4

  private val vSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false)), StructField("label", IntegerType, nullable = false)))
  private val idSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false)))

  private def docsDf(r: Run, docs: Seq[Doc]): DataFrame =
    r.spark.createDataFrame(r.spark.sparkContext.parallelize(Gen.docRows(docs), 4), Gen.DocSchema)

  private def vecsDf(r: Run, vecs: Seq[Vec]): DataFrame =
    r.spark.createDataFrame(r.spark.sparkContext.parallelize(
      vecs.map(v => Row(v.id, v.v.toSeq.map(_.toDouble), v.label)), 4), vSchema)

  def run(r: Run, timings: LinkedHashMap[String, ArrayBuffer[Double]]): (Indexes, Live) = {
    val live = new Live(r.in.docs.toVector, r.in.vecs.toVector)
    val t0 = System.nanoTime()
    val ix = buildIndexes(r, s"${r.root}/ingest", withDedup = true, timings)
    warmUp(r, ix, live)
    r.setup = (System.nanoTime() - t0) / 1e9
    def note(k: String, s: Double): Unit = timings.getOrElseUpdate(k, new ArrayBuffer) += s
    val t = r.tracer
    r.startTimed()
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    var b = 0
    while (System.nanoTime() < deadline && b < r.in.batches.length) {
      val batch = r.in.batches(b)
      var accepted = Seq.empty[Doc]
      var gone = Seq.empty[(Doc, Vec)]
      r.attempt("ingest.batch") {
        val (status, ms) = t.request("ingest.batch") {
          val status = t.df("Dedup.dedupAgainst")(Dedup.dedupAgainst(ix.dedup, docsDf(r, batch.docs.toSeq), r.tau))(
            _.select("doc_id", "status").collect().map(x => x.getLong(0) -> x.getString(1)).toMap)
          accepted = batch.docs.filter(d => status.get(d.id).contains("unique")).toSeq
          val acc = docsDf(r, accepted)
          note("dedup.extend", t.unit("index.dedup.extend")(Dedup.extendDedupIndex(ix.dedup, acc)))
          note("bm25.extend", t.unit("index.bm25.extend")(TextAnalysis.extendBm25Index(ix.bm25, acc, autoCompact = false)))
          // the auto-compaction extend runs as shipped, called as its own step
          note("bm25.compact", t.unit("index.bm25.compact")(TextAnalysis.ensureCompactedBm25Index(r.spark, ix.bm25)))
          note("ivf.extend", t.unit("index.ivf.extend")(
            EmbeddingSearch.extendIvfIndex(ix.ivf, vecsDf(r, batch.vecs.toSeq), autoCompact = false)))
          note("ivf.compact", t.unit("index.ivf.compact")(EmbeddingSearch.ensureCompactedIvfIndex(r.spark, ix.ivf)))
          // a deletion request for part of the batch just written
          gone = accepted.zip(batch.vecs).take(ForgetCount)
          val ids = r.spark.createDataFrame(r.spark.sparkContext.parallelize(
            gone.map { case (d, v) => Row(d.id, v.id) }, 1), idSchema)
          note("forget", t.unit("index.forget")(Forget.forgetEverywhere(r.spark, s"${r.root}/forget.manifest", ids,
            Seq(Forget.textDedupTarget(ix.dedup), Forget.bm25Target(ix.bm25), Forget.ivfTarget(ix.ivf)))))
          status
        }
        r.record("batch", ms)
        r.bulk += ((batch.docs.length.toLong, ms / 1e3))
        val dupIds = batch.nearDups.map(_.dup).toSet
        r.dupsInjected += dupIds.size
        r.dupsFound += dupIds.count(id => status.get(id).exists(_ != "unique"))
        // fresh held-out docs share no shingle with the index: all unique;
        // and a forgotten doc no longer resolves as a lexical query
        t.check(batch.docs.forall(d => dupIds(d.id) || status.get(d.id).contains("unique")) &&
          gone.headOption.forall(g => TextAnalysis.bm25TopDocsWithIndex(r.spark, ix.bm25, g._1.id).isEmpty))
      }
      val goneDocs = gone.map(_._1.id).toSet
      val goneVecs = gone.map(_._2.id).toSet
      accepted = accepted.filterNot(d => goneDocs(d.id))
      live.docs = live.docs ++ accepted
      live.vecs = live.vecs ++ batch.vecs.filterNot(v => goneVecs(v.id))
      // reads reflect the batch: queries come from what was just written
      for (round <- 0 until readRounds(r)) {
        val n = b * 3 + round
        val qDoc = if (accepted.isEmpty) r.in.docQueries(n % r.in.docQueries.length)
          else accepted(round % accepted.length).id
        val qs = (0 until VectorBatch).map { j =>
          val src = batch.vecs(r.rnd.nextInt(batch.vecs.length))
          Vec(j.toLong, src.v.map(x => (x + 0.05 * r.rnd.nextGaussian()).toFloat), src.label)
        }
        Reads.Types.foreach { k =>
          read(r, ix, live, k, if (k == "lexical") qDoc else r.in.docQueries(n % r.in.docQueries.length),
            qs, r.in.hybridQueries(n % r.in.hybridQueries.length))
        }
      }
      b += 1
    }
    (ix, live)
  }
}
