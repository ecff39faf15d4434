package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** The reference engine's entire query capability: score every corpus
  * document against one query document by (approximate) Jaccard similarity of
  * 3-word shingle sets.
  *
  * Reference pipeline (BookQuery.java, two chained MR jobs + three HDFS
  * materializations):
  *   job 1: per-doc shingle-set ∩ query-set (":77"), emit (term, doc@len)
  *          (":81-83"), group by term, drop groups of size 1 or n (":105").
  *   job 2: per surviving (term, doc) emit 1 keyed by (doc,len,|Q|)
  *          (":143-147"), sum (":154-158"), score = sum/(len+|Q|-sum) with a
  *          ==-guard returning 1 (":162-166").
  *
  * Here the corpus-sized work is ONE map-only pass; everything bounded by
  * the query's shingle set Q is planned on the driver, in three Spark jobs
  * (the reference's two, plus one small pass for the query and `n`):
  *   1. one aggregate over the corpus returns `n` (every row, null ids and
  *      the query doc included — the reference's `ContentSummary` count,
  *      ":211-214") and the query doc's shingle set Q — the Spark analog of
  *      the reference stuffing the query into the job `Configuration`
  *      (":205");
  *   2. each non-query doc's intersection t = sh(D) ∩ Q is computed ONCE
  *      into a lazily checkpointed intermediate (the reference's job-1
  *      output, its own bound O(Σ_D |sh(D) ∩ Q|)); one job over it brings
  *      the per-term df back to the driver — at most |Q| counts;
  *   3. the returned frame scores that intermediate map-side, with the
  *      stop-shingles (reference df = n) riding as one literal array: no exchange,
  *      no broadcast, and no corpus-sized value ever reaches the driver.
  * The query batch ([[referenceScoresBatch]]) is the same plan with one
  * row per (query, doc) generated inside the pass. A query id matching
  * other than one row, or a batch past [[EmbeddingSearch.LocalBatchCap]]
  * query rows (or with a repeated id), keeps the in-plan DAG
  * ([[inPlanScores]], [[inPlanBatch]]) — two exchanges and broadcast
  * query/n/df sides — which returns the same rows.
  *
  * IMPORTANT semantic note (SURVEY.md §0.1): the reference's score is NOT
  * true Jaccard — the denominator uses len_D = |sh(D) ∩ Q| in place of
  * |sh(D)|, so absent stop-shingle hits it reduces to the query-containment
  * coefficient |sh(D) ∩ Q| / |Q|. [[referenceScores]] reproduces that formula
  * bit-for-bit; [[jaccardScores]] is the principled variant the reference
  * intended (comment at BookQuery.java:165).
  */
object BookQuery {

  /** Reference-exact scores against document `queryDocId`.
    * Output: (doc_id, len, sum_shared, score).
    */
  def referenceScores(docs: DataFrame, queryDocId: Long = 0L, k: Int = 3): DataFrame =
    referenceScoresFor(docs, lit(queryDocId), k)

  /** Generalized over any doc_id type (the CLI/wholetext form keys documents
    * by basename string, reference `equals("query")` at BookQuery.java:144).
    */
  def referenceScoresFor(docs: DataFrame, queryDocId: Column, k: Int = 3): DataFrame =
    driverPlanned(docs, col("doc_id") === queryDocId, _ => col("doc_id") =!= queryDocId, k,
        cap = 1, exactlyOne = true)
      .map(_.drop("query_id"))
      .getOrElse(inPlanScores(docs, queryDocId, k))

  /** BATCH scoring — the reference pipeline generalized from one query
    * document to a query SET (the docs with id < `nQueries`), amortizing
    * the corpus scan the reference re-runs per query (its driver is invoked
    * once per query document; BookQuery.java:176-208): every (corpus doc,
    * query) pair scores with the EXACT per-query reference semantics — the
    * df table and the df ≤ n−2 stop-shingle filter are computed per query
    * over the docs that aren't it, so each query's scores equal a
    * standalone [[referenceScoresFor]] run bit-for-bit (spec-asserted).
    * Output: (query_id, doc_id, len, sum_shared, score).
    */
  def referenceScoresBatch(docs: DataFrame, nQueries: Int = 3, k: Int = 3): DataFrame =
    driverPlanned(docs, col("doc_id") < nQueries, col("doc_id") =!= _, k,
        cap = EmbeddingSearch.LocalBatchCap, exactlyOne = false)
      .getOrElse(inPlanBatch(docs, nQueries, k))

  /** The driver plan (see the object doc), or None when it does not apply:
    * more than `cap` query rows, a repeated query id, or — `exactlyOne` —
    * other than one query row. `isQuery` picks the query rows; `notQuery`
    * is the pair predicate over a query's id. A query whose shingle set is
    * null scores nothing, as in the in-plan DAG.
    * Output: (query_id, doc_id, len, sum_shared, score).
    */
  private def driverPlanned(docs: DataFrame, isQuery: Column, notQuery: Column => Column,
      k: Int, cap: Int, exactlyOne: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    // job 1: n and the query rows (at most cap + 1 of them) in one pass,
    // one (row count, query rows) pair per partition
    val probe = docs.select(when(isQuery, struct(col("doc_id"), shingleSet(col("text"), k))).as("q"))
    val perPart = probe.mapPartitions { rows =>
      var n = 0L
      val qs = scala.collection.mutable.ArrayBuffer.empty[Row]
      rows.foreach { r =>
        n += 1
        if (!r.isNullAt(0) && qs.length <= cap) qs += r.getStruct(0)
      }
      Iterator.single(Row(n, qs.toSeq))
    }(Encoders.row(StructType(Seq(StructField("n", LongType),
      StructField("qs", ArrayType(probe.schema("q").dataType)))))).collect()
    val n = perPart.map(_.getLong(0)).sum
    val qRows = perPart.flatMap(_.getSeq[Row](1)).take(cap + 1)
    val ids = qRows.map(_.get(0))
    if (qRows.length > cap || ids.distinct.length != ids.length ||
        (exactlyOne && qRows.length != 1)) return None
    val queries = qRows.filterNot(_.isNullAt(1))
    if (queries.isEmpty) return None
    val shType = ArrayType(StringType, containsNull = false)
    val idField = docs.schema("doc_id")
    val qLit = literal(queries.map(q => Row(q.get(0), q.getSeq[String](1))),
      ArrayType(StructType(Seq(StructField("query_id", idField.dataType, idField.nullable),
        StructField("q_sh", shType, nullable = false))), containsNull = false))
    def query(field: String) = element_at(qLit, col("qi") + 1).getField(field)
    // job 2's input: t = sh(D) ∩ Q once per (non-query doc, query), the
    // empty ones dropped (they can never score, same as the reference never
    // emitting them); checkpointed so the df job and the returned frame
    // share ONE shingling pass (r17). The generator reads `sh`, so each doc
    // is shingled once below it, whatever the number of queries.
    val ex = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .select(col("doc_id"), explode(array(queries.indices.map(i => struct(lit(i).as("qi"),
        array_intersect(col("sh"), literal(queries(i).getSeq[String](1), shType)).as("t"))): _*)).as("q"))
      .select(col("q.qi").as("qi"), col("doc_id"), col("q.t").as("t")) // BookQuery.java:77 retainAll
      .select(col("qi"), query("query_id").as("query_id"), col("doc_id"),
        size(query("q_sh")).as("q_len"), col("t"), size(col("t")).as("len"))
      .where(notQuery(col("query_id")) && col("len") > 0)
      .localCheckpoint(eager = false)
    // job 2: df over NON-query docs per (query, term); the query trivially
    // holds every surviving term (t ⊆ Q), so reference df = df_nq + 1, and
    // the reference filter (":105") keeps 2 <= df <= n-1 ⇔ df_nq <= n-2
    // (df_nq >= 1 holds for every term that occurs at all)
    val df = scala.collection.mutable.HashMap.empty[(Int, String), Long]
    ex.select(col("qi"), col("t")).mapPartitions { rows =>
      val m = scala.collection.mutable.HashMap.empty[(Int, String), Long]
      rows.foreach { r =>
        val qi = r.getInt(0)
        r.getSeq[String](1).foreach(t => m((qi, t)) = m.getOrElse((qi, t), 0L) + 1)
      }
      m.iterator.map { case ((qi, t), c) => (qi, t, c) }
    }(Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaLong)).collect()
      .foreach { case (qi, t, c) => df((qi, t)) = df.getOrElse((qi, t), 0L) + c }
    // the stop-shingles of each query: every term in some t is either kept
    // or dropped, so |t ∩ kept| = len − |t ∩ dropped|
    val dropped = Array.fill(queries.length)(Vector.newBuilder[String])
    df.foreach { case ((qi, t), c) => if (c > n - 2) dropped(qi) += t }
    val droppedLit = literal(dropped.map(_.result()).toSeq,
      ArrayType(ArrayType(StringType, containsNull = false), containsNull = false))
    // job 3 (the caller's): map-only scoring of the intermediate; a doc with
    // no kept term has no row, as the reference emits none (":143-147")
    val shared = col("len") - size(array_intersect(col("t"), element_at(droppedLit, col("qi") + 1)))
    Some(ex.select(col("query_id"), col("doc_id"), col("len"), col("q_len"),
        knownNotNull(shared.cast("long")).as("sum_shared")) // count()'s type: BookQuery.java:154-158
      .where(col("sum_shared") > 0)
      .select(
        col("query_id"), col("doc_id"),
        col("len").cast("long").as("len"), // long: DuckDB len(list) is BIGINT
        col("sum_shared"),
        round(referenceScore(col("sum_shared"), col("len"), col("q_len")), 6).as("score")))
  }

  private def literal(v: Any, t: org.apache.spark.sql.types.DataType): Column =
    org.apache.spark.sql.GraftShim.toColumn(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, t))

  private def knownNotNull(c: Column): Column = {
    import org.apache.spark.sql.GraftShim.{toColumn, toExpression}
    toColumn(org.apache.spark.sql.catalyst.expressions.KnownNotNull(toExpression(c)))
  }

  /** Per-document intermediate of the in-plan DAG: doc_id, its
    * query-intersected shingle set and size, and the query set size — rows
    * with empty intersection dropped.
    */
  private def intersected(docs: DataFrame, queryDocId: Column, k: Int): DataFrame = {
    val query = broadcast(
      docs.where(col("doc_id") === queryDocId)
        .select(shingleSet(col("text"), k).as("q_sh"))
        .withColumn("q_len", size(col("q_sh"))))
    docs.where(col("doc_id") =!= queryDocId)
      .select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .crossJoin(query) // 1-row broadcast: BroadcastNestedLoopJoin, no shuffle
      .select(
        col("doc_id"),
        array_intersect(col("sh"), col("q_sh")).as("t"), // BookQuery.java:77 retainAll
        col("q_len"))
      .withColumn("len", size(col("t")))
      .where(col("len") > 0)
  }

  /** [[referenceScoresFor]] as ONE lazy DataFrame DAG with two exchanges
    * (term, then doc_id) and broadcast query, `n` and df sides — the plan
    * for a query id that does not match exactly one row.
    */
  private[graft] def inPlanScores(docs: DataFrame, queryDocId: Column, k: Int = 3): DataFrame = {
    // guaranteed 1 row (global aggregate), so the broadcast hint can never
    // OOM an executor; its exchange is SinglePartition — one long crosses
    // the wire, metadata-scale, not a data shuffle
    val nRow = broadcast(docs.agg(count(lit(1)).as("__n")))
    // ONE corpus pass (r17): `ex` feeds BOTH the df aggregation and the
    // final scoring rollup
    val ex = intersected(docs, queryDocId, k)
      .select(col("doc_id"), col("len"), col("q_len"), explode(col("t")).as("term"))
      .localCheckpoint(eager = false)
    val df = ex.groupBy("term").agg(count(lit(1)).as("df_nq"))
      .crossJoin(nRow) // |Q|-bounded rows × 1 row
      .where(col("df_nq") <= col("__n") - 2)
      .select(col("term"), col("df_nq"))
    ex.join(broadcast(df), "term") // |df| ≤ |Q| ⇒ broadcast, no re-shuffle of ex
      .groupBy("doc_id", "len", "q_len")
      .agg(count(lit(1)).as("sum_shared")) // BookQuery.java:154-158
      .select(
        col("doc_id"),
        col("len").cast("long").as("len"), // long: DuckDB len(list) is BIGINT
        col("sum_shared"),
        round(referenceScore(col("sum_shared"), col("len"), col("q_len")), 6).as("score"))
  }

  /** [[referenceScoresBatch]] as one in-plan DAG: queries ride as one
    * broadcast, the (query × term)-bounded df table is broadcast back, and
    * the same two exchanges as [[inPlanScores]] carry keys widened by
    * query_id — the plan for a query set past the driver plan's cap.
    */
  private[graft] def inPlanBatch(docs: DataFrame, nQueries: Int = 3, k: Int = 3): DataFrame = {
    val nRow = broadcast(docs.agg(count(lit(1)).as("__n")))
    val queries = broadcast(docs.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), shingleSet(col("text"), k).as("q_sh"))
      .withColumn("q_len", size(col("q_sh"))))
    val ex = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .crossJoin(queries)
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("q_len"),
        array_intersect(col("sh"), col("q_sh")).as("t"))
      .withColumn("len", size(col("t")))
      .where(col("len") > 0)
      .select(col("query_id"), col("doc_id"), col("len"), col("q_len"),
        explode(col("t")).as("term"))
      .localCheckpoint(eager = false)
    val df = ex.groupBy("query_id", "term").agg(count(lit(1)).as("df_nq"))
      .crossJoin(nRow)
      .where(col("df_nq") <= col("__n") - 2)
      .select(col("query_id"), col("term"))
    ex.join(broadcast(df), Seq("query_id", "term"))
      .groupBy("query_id", "doc_id", "len", "q_len")
      .agg(count(lit(1)).as("sum_shared"))
      .select(
        col("query_id"), col("doc_id"),
        col("len").cast("long").as("len"),
        col("sum_shared"),
        round(referenceScore(col("sum_shared"), col("len"), col("q_len")), 6).as("score"))
  }

  /** sum/(len+qlen−sum), guard → 1.0 when denominator would be 0
    * (BookQuery.java:162-166).
    */
  def referenceScore(sum: Column, len: Column, qlen: Column): Column =
    when(sum === len + qlen, lit(1.0))
      .otherwise(sum.cast("double") / (len + qlen - sum).cast("double"))

  /** True Jaccard |sh(D) ∩ Q| / |sh(D) ∪ Q| of every corpus doc vs the query
    * — the formula the reference intended (comment BookQuery.java:165). Pure
    * map-side: one broadcast, zero shuffles (the scan streams and scores).
    * Output: (doc_id, inter_len, union_len, jaccard).
    */
  def jaccardScores(docs: DataFrame, queryDocId: Long = 0L, k: Int = 3): DataFrame =
    jaccardScoresFor(docs, lit(queryDocId), k)

  def jaccardScoresFor(docs: DataFrame, queryDocId: Column, k: Int = 3): DataFrame = {
    val query = broadcast(
      docs.where(col("doc_id") === queryDocId)
        .select(shingleSet(col("text"), k).as("q_sh")))
    docs.where(col("doc_id") =!= queryDocId)
      .select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .crossJoin(query)
      .select(
        col("doc_id"),
        size(array_intersect(col("sh"), col("q_sh"))).as("inter_len"),
        (size(col("sh")) + size(col("q_sh")) - size(array_intersect(col("sh"), col("q_sh")))).as("union_len"))
      .where(col("inter_len") > 0)
      .select(
        col("doc_id"),
        col("inter_len").cast("long").as("inter_len"),
        col("union_len").cast("long").as("union_len"),
        round(col("inter_len").cast("double") / col("union_len").cast("double"), 6).as("jaccard"))
  }

  /** Ranked top-k — the query shape the reference's users actually wanted
    * (its output was unranked text lines; SURVEY.md §2.2). Deterministic
    * tie-break on doc_id.
    */
  def topK(scored: DataFrame, scoreCol: String, kTop: Int): DataFrame =
    scored.orderBy(col(scoreCol).desc, col("doc_id").asc).limit(kTop)

  /** Reference text-sink parity: the exact `"<doc> - query\t<score>"` lines
    * the reference's TextOutputFormat emits (key "doc - query", value score;
    * BookQuery.java:162-167,255). Write with `.write.text(dir)`.
    */
  def referenceOutputLines(scored: DataFrame): DataFrame =
    scored.select(concat(
      col("doc_id").cast("string"), lit(" - query"), lit("\t"),
      col("score").cast("string")).as("value"))
}
