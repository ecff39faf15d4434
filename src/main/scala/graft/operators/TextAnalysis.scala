package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.HashFunctions._
import graft.sources.{ArtifactFs, Tables}

/** Text-analysis surface of the engine: per-document statistics, quality
  * scoring, language ID, token counting, fingerprinting, TF-IDF. All pure
  * map-side Column expressions except TF-IDF (one term-df aggregation + one
  * per-doc window) — at 100 TB everything here streams through the scan with
  * no driver involvement.
  */
object TextAnalysis {

  private val stopwordsEn = Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")
  private val stopwordsEs = Seq("el", "la", "de", "y", "o", "en", "es", "un", "una", "que")
  private val stopwordsFr = Seq("le", "la", "de", "et", "ou", "en", "est", "un", "une", "que")

  /** Per-doc token/char statistics + a heuristic quality score in [0,1]:
    * mean of (type-token ratio, non-stopword ratio, length adequacy
    * min(n_tokens,100)/100). Output mirrors what corpus-quality filters
    * (e.g. C4/Gopher rules) compute, expressed as pure Column arithmetic.
    */
  def qualityStats(docs: DataFrame): DataFrame = {
    val toks = tokenize(col("text"))
    docs
      .withColumn("toks", toks)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        size(array_intersect(array_distinct(col("toks")), array(stopwordsEn.map(lit): _*)))
          .cast("long").as("n_stopword_types"))
      .withColumn("type_token_ratio",
        round(col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("avg_token_len",
        round((col("n_chars_measured") - (col("n_tokens") - 1)).cast("double")
          / col("n_tokens").cast("double"), 6))
      .withColumn("quality_score",
        round((col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double")
          + (lit(1.0) - col("n_stopword_types").cast("double") / col("n_distinct_tokens").cast("double"))
          + least(col("n_tokens").cast("double"), lit(100.0)) / lit(100.0)) / 3.0, 6))
  }

  /** Stopword-profile language ID: score each candidate language by how many
    * of its top stopword TYPES occur in the doc; argmax with deterministic
    * tie-break (en > es > fr > und). A doc matching no list is "und".
    * (An n-gram-profile classifier reduces to the same argmax-over-profiles
    * shape; stopword profiles are the degenerate 1-gram case.)
    */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = array_distinct(tokenize(col("text")))
    val en = size(array_intersect(toks, array(stopwordsEn.map(lit): _*)))
    val es = size(array_intersect(toks, array(stopwordsEs.map(lit): _*)))
    val fr = size(array_intersect(toks, array(stopwordsFr.map(lit): _*)))
    docs.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      en.cast("long").as("en_hits"),
      es.cast("long").as("es_hits"),
      fr.cast("long").as("fr_hits"),
      when(greatest(en, es, fr) === 0, "und")
        .when(en >= es && en >= fr, "en")
        .when(es >= fr, "es")
        .otherwise("fr").as("pred_lang"))
  }

  /** Zipf profile — the vocabulary's rank-frequency shape, log2-bucketed
    * by token frequency: how many distinct types and how much token mass
    * each frequency decade carries. The one-glance corpus statistic that
    * says whether a corpus is natural text (heavy head, long tail),
    * boilerplate-heavy (mass concentrated high), or synthetic. Two
    * aggregations; the second runs over the VOCABULARY. Output:
    * (freq_bucket_lo, n_types, n_tokens, max_freq).
    */
  def zipfProfile(docs: DataFrame): DataFrame =
    docs.select(explode(tokenize(col("text"))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .groupBy(expr("CAST(pow(2, floor(log2(n))) AS BIGINT)").as("freq_bucket_lo"))
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_tokens"),
        max(col("n")).as("max_freq"))

  /** Language-ID CONFUSION MATRIX — the evaluation loop for [[languageId]]:
    * labeled vs predicted language with counts and per-cell recall share
    * (integer ppm of the labeled row), the quality measurement run before
    * trusting a heuristic classifier on a new corpus slice. One extra
    * aggregation over [[languageId]]'s map-side scan. Output:
    * (labeled_lang, pred_lang, n_docs, row_ppm).
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    languageId(docs)
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_ppm",
        expr("n_docs * 1000000 div sum(n_docs) OVER (PARTITION BY labeled_lang)"))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (letter runs / digit runs / single other chars — the shape of a GPT-2
    * pre-tokenizer, minus unicode classes). Plus chars-per-token, the
    * standard tokens≈chars/4 sanity metric.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokenize(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("bpe_ish_tokens"),
      round(length(col("text")).cast("double")
        / greatest(size(tokenize(col("text"))), lit(1)).cast("double"), 6).as("chars_per_ws_token"))

  /** Document fingerprints: the portable 31-bit rolling hash of the full
    * text (cheap order-sensitive), md5 (cryptographic), and the rolling hash
    * of the SORTED DISTINCT token list (order-insensitive bag-of-words
    * fingerprint — survives shuffling words around).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      portableHash31(col("text")).as("rolling_fp"),
      md5(col("text")).as("md5_fp"),
      portableHash31(concat_ws(" ", array_sort(array_distinct(tokenize(col("text")))))).as("bow_fp"))

  /** Global n-gram frequency table: top-k word n-grams by document
    * frequency, deterministic tie-break on the gram. One explode + one
    * aggregation; the k cutoff is a bounded TakeOrdered, not a full sort.
    */
  def ngramFrequencies(docs: DataFrame, n: Int = 3, kTop: Int = 20): DataFrame = {
    // orderBy+limit plans as TakeOrderedAndProject (bounded, per-partition
    // heaps); the row_number window then runs over only kTop rows — never
    // put a global (partitionBy-less) window over the full table.
    val top = docs.select(explode(shingleSet(col("text"), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram").asc)
      .limit(kTop)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("df").desc, col("gram").asc)).cast("long"))
  }

  /** Document-frequency table of the HOT grams (df ≥ minDf) via the
    * TWO-PHASE salted aggregation ([[Scale.saltedCount]]): each gram's
    * count accumulates across `buckets` independent partial groups before
    * the final combine, so a stop-shingle-grade gram (present in nearly
    * every document — the classic skew key of corpus statistics) spreads
    * over `buckets` reducers instead of melting one. Salting is
    * result-invariant — the oracle is the plain GROUP BY.
    */
  def saltedGramCounts(docs: DataFrame, n: Int = 3, minDf: Long = 10,
      buckets: Int = 8): DataFrame =
    Scale.saltedCount(
        docs.select(explode(shingleSet(col("text"), n)).as("gram")),
        Seq("gram"), buckets)
      .where(col("n") >= minDf)

  /** Deterministic stratified sample: keep ~`percent`% of documents PER
    * LANGUAGE by a portable hash of the text (hash mod 100 < percent) —
    * reproducible across runs, engines, and cluster sizes, unlike
    * rand()-based sampling. The training-data way to downsample a corpus
    * while preserving strata. Output: sampled rows + their bucket.
    */
  def stratifiedSample(docs: DataFrame, percent: Int = 20): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        (portableHash31(col("text")) % 100L).as("bucket"))
      .where(col("bucket") < percent)

  /** Train/val/test SPLIT — the assignment every supervised pipeline makes
    * once and must never get wrong: split membership is decided by the
    * portable CONTENT hash bucketed out of 10000, which buys the property a
    * row-number or random split cannot give at any scale — byte-identical
    * documents land in the SAME split by construction, so exact duplicates
    * can never straddle train and test (the classic silent leak; near-dups
    * still need [[decontaminate]]/[[graft.operators.Dedup]]). Pure map-side
    * projection: zero shuffles, reproducible across engines, runs, and
    * partitionings, and rebalancing sources later never reassigns a doc.
    * Output: (doc_id, source, bucket, split).
    */
  def trainValTestSplit(docs: DataFrame, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "split percentages must leave room for a test share")
    val bucket = portableHash31(col("text")) % 10000L
    docs.select(col("doc_id"), col("source"), bucket.as("bucket"),
      when(bucket < trainPct * 100L, "train")
        .when(bucket < (trainPct + valPct) * 100L, "val")
        .otherwise("test").as("split"))
  }

  /** Epoch-reproducible training-order SHUFFLE — the order pass between
    * [[packSequences]] and the data loader: each epoch needs a different
    * pseudo-random document order, every rerun of the SAME epoch needs the
    * IDENTICAL order (checkpoint-resume reads the stream from an offset —
    * a nondeterministic shuffle silently changes what "offset 1M" means).
    * The order key is the portable SCRAMBLE of `"<doc_id>:<epoch>"` — pure
    * map-side projection, no shuffle HERE (ordering happens where it's
    * consumed: a range-partition write or the loader's merge); ties are
    * broken by doc_id so the induced order is total. Different epochs
    * decorrelate because the hash mixes the epoch into every key. NOT the
    * bare hash31: a single polynomial fold never wraps mod P on these short
    * strings, so it is order-preserving in doc_id — sorting by it would
    * replay corpus order every epoch (see HashFunctions.portableScramble).
    * Output: (epoch, doc_id, order_key).
    */
  def epochShuffle(docs: DataFrame, epochs: Int = 2): DataFrame = {
    require(epochs >= 1, "epochShuffle needs at least one epoch")
    docs
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .select(col("epoch").cast("long").as("epoch"), col("doc_id"),
        portableScramble(concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))).as("order_key"))
  }

  /** The per-doc line split shared by the in-corpus pass and the
    * index-serve path: (doc_id, line_no, line, h62). */
  private def docLines(docs: DataFrame, lineTokens: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(split(text, ' ')) / $lineTokens.0) AS INT) - 1),
           |  i -> array_join(slice(split(text, ' '), i * $lineTokens + 1, $lineTokens), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("line_no"), col("col").as("line"),
        portableHash62(col("col")).as("h62"))

  /** The corpus-global boilerplate-line table of [[lineDedup]]: 62-bit
    * hashes of lines appearing in ≥ minDf distinct docs. */
  private def boilerplateLines(docs: DataFrame, lineTokens: Int, minDf: Long): DataFrame =
    docLines(docs, lineTokens).select(col("doc_id"), col("h62")).distinct()
      .groupBy("h62").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("h62"), lit(true).as("boiler"))

  /** [[lineDedup]]'s SERVE half against an explicit boilerplate table —
    * what the streaming/incremental path runs with the PERSISTED table
    * (the line df is corpus-global, so a stream can't compute it; it loads
    * it). One left join on the 8-byte hash + one per-doc rollup. */
  def lineDedupAgainst(docs: DataFrame, boiler: DataFrame, lineTokens: Int = 10): DataFrame =
    docLines(docs, lineTokens).join(Scale.maybeBroadcast(boiler), Seq("h62"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("boiler").isNull, 1)).as("n_kept"),
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("line_no"), col("line"),
              col("boiler").isNull.as("keep")))), s => s.getField("keep")),
            s => s.getField("line")),
          "\n").as("clean_text"))

  /** CCNet-style LINE-level boilerplate removal: a "line" that appears in
    * `minDf`+ distinct documents (headers, footers, nav chrome, license
    * blurbs) is dropped from EVERY document; survivors are reassembled in
    * original order. The line unit is injectable — real corpora split on
    * `\n`; the fixture corpus has no newlines, so the registered query uses
    * fixed `lineTokens`-token chunks (the operator is identical either way:
    * it consumes the (doc_id, line_no, line) exploded form).
    *
    * Scale shape: all df machinery and the boilerplate join run on the
    * 62-bit line hash — fixed 8 bytes per line through both exchanges, the
    * line TEXT never shuffles (it stays co-partitioned with its document
    * through the final per-doc rollup). Boilerplate table is
    * line-vocabulary-sized after the df floor (Zipf-small: almost all lines
    * are unique) → size-gated broadcast. 3 shuffles total: distinct
    * (doc,line) pairs, df count, per-doc reassembly — the canonical CCNet
    * dedup pass, linear in corpus tokens at any scale.
    * Output: (doc_id, n_lines, n_kept, clean_text).
    */
  def lineDedup(docs: DataFrame, lineTokens: Int = 10, minDf: Long = 2): DataFrame = {
    require(lineTokens >= 1 && minDf >= 2, "lineTokens >= 1, minDf >= 2")
    lineDedupAgainst(docs, boilerplateLines(docs, lineTokens, minDf), lineTokens)
  }

  /** Persist the corpus-global boilerplate-line table so ingest can
    * line-dedup new documents without rescanning the corpus (the df is
    * corpus-global — the one part of [[lineDedup]] a stream cannot
    * compute). Same `_PARAMS` + `_DONE` discipline as the dedup indexes:
    * marker deleted first, written after the table and params commit, and
    * a serve under different lineTokens is refused (different split →
    * incompatible hashes, silently-empty joins otherwise).
    */
  def buildBoilerplateIndex(docs: DataFrame, path: String,
      lineTokens: Int = 10, minDf: Long = 2): Unit = {
    require(lineTokens >= 1 && minDf >= 2, "lineTokens >= 1, minDf >= 2")
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    fs.delete(done, false)
    Tables.writeArtifact(boilerplateLines(docs, lineTokens, minDf), s"$path/boiler", "overwrite")
    ArtifactFs.writeFile(fs, new org.apache.hadoop.fs.Path(path, "_PARAMS"),
      s"blv1lt${lineTokens}df$minDf".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Markers.commit(fs, done)
  }

  /** Serve [[lineDedup]] from a persisted boilerplate index (param-checked). */
  def lineDedupFromIndex(docs: DataFrame, indexPath: String,
      lineTokens: Int = 10, minDf: Long = 2): DataFrame = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    require(fs.exists(new org.apache.hadoop.fs.Path(indexPath, "_DONE")),
      s"no complete boilerplate index at $indexPath — run buildBoilerplateIndex first")
    val tag = {
      val in = fs.open(new org.apache.hadoop.fs.Path(indexPath, "_PARAMS"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    require(tag == s"blv1lt${lineTokens}df$minDf",
      s"boilerplate index at $indexPath has params $tag — " +
        s"caller wants blv1lt${lineTokens}df$minDf; rebuild or match params")
    lineDedupAgainst(docs, graft.sources.Tables.artifactParquet(spark, s"$indexPath/boiler"), lineTokens)
  }

  /** RAG-style document CHUNKING — the retrieval-corpus build step: split
    * every document into overlapping `chunkTokens`-token windows with
    * `overlap` tokens shared between consecutive chunks (so no answer span
    * straddles a boundary unseen). Chunk count is exact integer arithmetic
    * — `(max(n − overlap, 1) + stride − 1) div stride`, stride =
    * chunkTokens − overlap — identical in any engine; a document shorter
    * than one chunk yields exactly itself. Pure map-side explode: zero
    * shuffles, linear in corpus tokens, embarrassingly parallel — the
    * embedding stage downstream dominates, so this pass must never be the
    * bottleneck. Output: (doc_id, chunk_no, start_tok, n_tok, chunk_text).
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        // integral `div`, not `/`: Column./ is floating-point division
        posexplode(expr(s"sequence(0, CAST((greatest(size(w) - $overlap, 1)" +
          s" + ${stride - 1}) div $stride AS INT) - 1)")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_no"),
        (col("col") * stride).cast("long").as("start_tok"),
        size(slice(col("w"), col("col") * stride + 1, lit(chunkTokens))).cast("long").as("n_tok"),
        array_join(slice(col("w"), col("col") * stride + 1, lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Content-defined chunking — the dedup-friendly alternative to
    * [[chunkDocuments]]'s fixed-size windows: a chunk boundary opens at
    * every ANCHOR token (portable hash ≡ 0 mod `targetTokens`, so expected
    * chunk length ≈ targetTokens with a geometric tail), and oversized
    * chunks are sub-split every `maxTokens` tokens RELATIVE TO THE ANCHOR.
    * Because boundaries follow content, not positions, an edit near the
    * start of a document shifts only the chunks up to the first anchor
    * after the edit — every later chunk re-emerges byte-identical (the CDC
    * stability property storage dedup systems are built on, spec-pinned),
    * where fixed-size chunking re-cuts the whole document. Output per
    * chunk: (doc_id, chunk_seq, sub_seq, n_tokens, start_pos, end_pos,
    * chunk_hash). One doc-keyed shuffle: both windows and the final
    * rollup share the doc_id partitioning; per-doc sorts only — linear in
    * corpus tokens at any scale.
    */
  def chunkDocumentsCdc(docs: DataFrame, targetTokens: Int = 32,
      maxTokens: Int = 128): DataFrame = {
    require(targetTokens >= 1 && maxTokens >= 1, "chunk sizes must be positive")
    val toks = docs
      .select(col("doc_id"), posexplode(tokenize(col("text"))).as(Seq("p", "t")))
      .where(col("t") =!= "")
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("t"),
        when(pmod(portableHash31(col("t")), lit(targetTokens)) === 0, 1L)
          .otherwise(0L).as("f"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cids = toks.withColumn("cid", sum(col("f")).over(wDoc))
    val starts = cids.withColumn("cstart",
      min(col("pos")).over(Window.partitionBy(col("doc_id"), col("cid"))))
    starts
      .withColumn("sub", floor((col("pos") - col("cstart")) / lit(maxTokens)).cast("long"))
      .groupBy(col("doc_id"), col("cid").as("chunk_seq"), col("sub").as("sub_seq"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("t")))),
          s => s.getField("t")), " ").as("ct"))
      .select(col("doc_id"), col("chunk_seq"), col("sub_seq"), col("n_tokens"),
        col("start_pos"), col("end_pos"), portableHash31(col("ct")).as("chunk_hash"))
  }

  /** Cross-document chunk-level dedup over the CDC chunking — the payoff
    * CDC boundaries exist for: because boundaries follow content, shared
    * passages land in identical chunks regardless of where they sit in
    * each document, so ONE groupBy on the chunk hash finds every shared
    * region (fixed-size chunks would only match passages at equal offsets
    * modulo the window). Output: per duplicated chunk, how many documents
    * and total occurrences carry it, its token length, and the smallest
    * carrying doc_id (the canonical-owner convention). At 100 TB this is
    * a hash-keyed aggregation over 8-byte chunk hashes — the storage-dedup
    * shape, linear in chunk count.
    */
  def cdcChunkDedup(docs: DataFrame, targetTokens: Int = 32,
      maxTokens: Int = 128): DataFrame =
    chunkDocumentsCdc(docs, targetTokens, maxTokens)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("canonical_doc"))
      .where(col("n_docs") >= 2)

  /** PII patterns shared by [[piiScrub]] and its oracle: deliberately
    * restricted to syntax with IDENTICAL semantics in Java regex and RE2
    * (character classes, +, bounded repetition — no backrefs, no lookaround,
    * no \d shorthand whose escaping differs across SQL string literals).
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val UrlPattern = "https?://[^ ]+"

  /** Deterministic PII splice for the registered entry: the fixture corpus
    * is PII-free, so (multimodal-family discipline) the query synthesizes
    * doc_id-derived emails/phones/URLs in-band — one of each per doc, plus
    * an extra email on every doc_id ≡ 0 (mod 3) so the counts vary — and
    * the oracle replays the identical splice.
    */
  def piiInject(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(
        lit("contact user"), col("doc_id").cast("string"),
        lit("@example.com call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" see https://ex.example/u/"), col("doc_id").cast("string"),
        lit(" "), col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit(" admin@example.org"))
          .otherwise(lit(""))))

  /** PII scrubbing — the redaction hygiene pass every shipped training
    * corpus runs: count and replace emails, phone numbers, and URLs with
    * typed placeholder tokens. Pure map-side projection (zero shuffles,
    * linear in corpus bytes); counts are taken on the ORIGINAL text, then
    * the three replacements apply in email→phone→URL order (the patterns
    * are mutually non-overlapping, and no placeholder re-matches a later
    * pattern, so the order is semantics-free — fixed anyway so both engines
    * rewrite identically). Output: (doc_id, n_email, n_phone, n_url,
    * clean_text).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"),
      regexp_count(t, lit(EmailPattern)).cast("long").as("n_email"),
      regexp_count(t, lit(PhonePattern)).cast("long").as("n_phone"),
      regexp_count(t, lit(UrlPattern)).cast("long").as("n_url"),
      regexp_replace(regexp_replace(regexp_replace(t,
        EmailPattern, "<EMAIL>"), PhonePattern, "<PHONE>"), UrlPattern, "<URL>")
        .as("clean_text"))
  }

  /** Deterministic WEIGHTED Bernoulli sample — importance sampling by
    * length: each document survives with probability min(1, n_tokens/cap)
    * decided by the portable content hash (hash mod cap < n_tokens), so
    * docs of `cap` tokens or more always survive and shorter docs
    * proportionally — the token-mass-preserving downsample a training mix
    * uses where [[stratifiedSample]] would over-prune long documents.
    * Pure map-side predicate: zero shuffles, reproducible across engines,
    * runs, and partitionings. Output: (doc_id, n_tokens, bucket).
    */
  def weightedSample(docs: DataFrame, cap: Long = 50): DataFrame =
    docs.select(col("doc_id"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"),
        (portableHash31(col("text")) % cap).as("bucket"))
      .where(col("bucket") < col("n_tokens"))

  /** Per-document language-model score — the CCNet/perplexity-style
    * quality signal: an add-one-smoothed bigram LM is trained on the
    * corpus itself (unigram + bigram count tables), and every document is
    * scored by its mean per-token log-probability
    * (p(w₁) = c(w₁)/T; p(wᵢ|wᵢ₋₁) = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V)).
    * Low scores = statistically unusual text (gibberish, boilerplate with
    * rare symbols, wrong-language fragments) — the filter axis perplexity
    * pipelines threshold on. Every ln() input is an INTEGER (a count, T,
    * or c+V), so the score is defined as a sum of round(ln(int), 6) terms
    * accumulated as exact decimals: both engines take ln of identical
    * integer-valued doubles and agree after the round — the same
    * discipline that makes the cosine family hash-gated.
    *
    * Scale: two count aggregations (unigram = vocabulary-sized, bigram =
    * bigram-vocabulary-sized, both with map-side partial counts), then the
    * corpus's token stream joins the count tables — size-gated broadcasts
    * here; at 100 TB the bigram join is a hash join keyed on the gram,
    * exactly TF-IDF's df-join cost class — and ONE per-doc aggregation.
    * No driver scalars: T and V ride a 1-row broadcast frame.
    * Output: (doc_id, n_tokens, avg_logprob).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val (uni, big, prm) = lmCounts(docs)
    lmScoreWith(docs, uni, big, prm)
  }

  /** The LM's three count tables — (unigram (t, c1), bigram (a, b, c2),
    * 1-row params (tot_tokens, vocab)) — factored out so they can be
    * PERSISTED and served against new documents ([[buildLmIndex]] /
    * [[lmScoreWithModel]]). */
  private def lmCounts(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"), tokenize(col("text")).as("w"))
      .where(size(col("w")) >= 1)
    val uni = tok.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val prm = uni.groupBy().agg(sum(col("c1")).cast("long").as("tot_tokens"), count(lit(1)).as("vocab"))
    val big = tok
      .select(explode(expr(
        "transform(sequence(1, greatest(size(w) - 1, 0)), i -> struct(w[i-1] AS a, w[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(count(lit(1)).as("c2"))
    (uni, big, prm)
  }

  /** Score any documents against an EXPLICIT model (count tables that may
    * not derive from these docs). Joins are left + coalesce-to-zero so
    * out-of-vocabulary tokens are defined: an unseen first token scores
    * ln(1) − ln T (the strongest penalty), an unseen bigram falls back to
    * add-one smoothing ln(0+1) − ln(c(a)+V) exactly as a seen-zero would.
    * On documents fully covered by the model (in particular the corpus the
    * model was trained on — the self-scoring registered entry) every
    * coalesce is a no-op and the scores are IDENTICAL to the historical
    * inner-join formulation, which keeps `text_lm_score` under its oracle
    * hash gate.
    */
  private def lmScoreWith(docs: DataFrame, uni: DataFrame, big: DataFrame,
      prm: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokenize(col("text")).as("w"))
      .where(size(col("w")) >= 1)
    // first token: ln p(w₁) = ln max(c(w₁),1) − ln T
    val first = tok.select(col("doc_id"), element_at(col("w"), 1).as("t0"))
      .join(Scale.maybeBroadcast(uni), col("t0") === col("t"), "left")
      .crossJoin(broadcast(prm))
      .select(col("doc_id"),
        (round(log(greatest(coalesce(col("c1"), lit(0L)), lit(1L))), 6)
          - round(log(col("tot_tokens")), 6)).as("lp"))
    // tokens 2..n: ln p(wᵢ|wᵢ₋₁) = ln(c(wᵢ₋₁wᵢ)+1) − ln(c(wᵢ₋₁)+V)
    val rest = tok
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(w) - 1, 0)), i -> struct(w[i-1] AS a, w[i] AS b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .join(Scale.maybeBroadcast(big), Seq("a", "b"), "left")
      .join(Scale.maybeBroadcast(uni), col("a") === col("t"), "left")
      .crossJoin(broadcast(prm))
      .select(col("doc_id"),
        (round(log(coalesce(col("c2"), lit(0L)) + 1), 6)
          - round(log(coalesce(col("c1"), lit(0L)) + col("vocab")), 6)).as("lp"))
    first.unionByName(rest)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lp").cast("decimal(38,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_logprob"))
  }

  /** Persist the bigram LM (uni/, bi/, prm/ tables) under the `_PARAMS` +
    * `_DONE` marker discipline — train the quality model ONCE on the
    * curated corpus, then score every ingest batch against it without
    * rescanning corpus tokens.
    */
  def buildLmIndex(docs: DataFrame, path: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    fs.delete(done, false)
    val (uni, big, prm) = lmCounts(docs)
    Tables.writeArtifact(uni, s"$path/uni", "overwrite")
    Tables.writeArtifact(big, s"$path/bi", "overwrite")
    Tables.writeArtifact(prm, s"$path/prm", "overwrite")
    ArtifactFs.writeFile(fs, new org.apache.hadoop.fs.Path(path, "_PARAMS"),
      "lmv1bigram".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Markers.commit(fs, done)
  }

  /** Score documents against a persisted LM index ([[buildLmIndex]]). */
  def lmScoreWithModel(docs: DataFrame, indexPath: String): DataFrame = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    require(fs.exists(new org.apache.hadoop.fs.Path(indexPath, "_DONE")),
      s"no complete LM index at $indexPath — run buildLmIndex first")
    lmScoreWith(docs, graft.sources.Tables.artifactParquet(spark, s"$indexPath/uni"),
      graft.sources.Tables.artifactParquet(spark, s"$indexPath/bi"),
      graft.sources.Tables.artifactParquet(spark, s"$indexPath/prm"))
  }

  /** CCNet's head/middle/tail split: rank every document by its
    * [[lmScore]] and cut the corpus into `nTiers` equal-depth tiers
    * (tier 1 = most fluent). The classic perplexity-based curation move —
    * keep head+middle, drop or re-sample the tail — reported here as
    * per-tier stats (the decision table for choosing the cut).
    *
    * Cost note, same as rel_equidepth: a global ntile IS a total order —
    * the documented price of exact equal-depth tiers. At 100 TB the
    * deployment twin buckets by APPROXIMATE score quantiles from a sample
    * (one map pass against broadcast cut points) — exact ntile is the
    * verification shape that pins the scoring itself. Output:
    * (tier, n_docs, n_tokens, best_lp, worst_lp, mean_lp).
    */
  def lmTiers(docs: DataFrame, nTiers: Int = 3): DataFrame = {
    val w = Window.orderBy(col("avg_logprob").desc, col("doc_id").asc)
    lmScore(docs)
      .withColumn("tier", ntile(nTiers).over(w).cast("long"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("avg_logprob")).as("best_lp"),
        min(col("avg_logprob")).as("worst_lp"),
        round(sum(col("avg_logprob").cast("decimal(38,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_lp"))
  }

  /** Top-k adjacent-bigram collocations by PMI — word2vec-style phrase
    * detection with EXACT arithmetic: since the corpus-size factors of
    * pmi = log(c_ab·N²/(N_bi·c_a·c_b)) are constant across bigrams,
    * ranking by c_ab/(c_a·c_b) is rank-equivalent, and the score ships as
    * the integer c_ab·10⁹ div (c_a·c_b) (ppb) so ordering and hashing are
    * bit-exact across engines (at trillion-token scale the product
    * c_a·c_b approaches 2⁶³ — there the score becomes a double, which
    * ranking tolerates; the oracle-exact integer form is the registered
    * entry). Three aggregations (unigram, bigram, top-k heap): the
    * unigram table is vocabulary-sized and joins size-gated; top-k is
    * TakeOrdered, never a global sort.
    * Output: (bigram, c_ab, c_a, c_b, score_ppb).
    */
  def pmiTopBigrams(docs: DataFrame, minCount: Long = 5, kTop: Int = 20): DataFrame = {
    val toks = docs.select(tokenize(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(expr(
        "transform(sequence(1, greatest(size(w) - 1, 0)), i -> struct(w[i-1] AS a, w[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    bi
      .join(Scale.maybeBroadcast(uni.select(col("t").as("a"), col("c").as("c_a"))), "a")
      .join(Scale.maybeBroadcast(uni.select(col("t").as("b"), col("c").as("c_b"))), "b")
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("c_ab"), col("c_a"), col("c_b"),
        expr("c_ab * 1000000000 div (c_a * c_b)").as("score_ppb"))
      .orderBy(col("score_ppb").desc, col("bigram").asc)
      .limit(kTop)
  }

  /** Rare-bigram fraction — the corpus-statistics fluency signal next to
    * the per-doc [[repetitionStats]]: how much of a document is built from
    * bigrams the corpus itself rarely produces (corpus count < `minDf`).
    * Gibberish, OCR noise, and wrong-language fragments score high; the
    * arithmetic is all integers (count + ppm ratio), so the entry stays
    * hash-gated. Scale: per-doc bigram multiplicities aggregate map-side
    * before the corpus-df table — vocabulary²-bounded in principle, Zipf-
    * small in practice, size-gated — joins in. Output:
    * (doc_id, n_bigrams, n_rare, rare_ppm) for docs with ≥ 2 tokens.
    */
  def rareBigramStats(docs: DataFrame, minDf: Long = 5): DataFrame = {
    val inst = docs
      .select(col("doc_id"), explode(shingleList(col("text"), 2)).as("g"))
    val perDoc = inst.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("m"))
    val df = perDoc.groupBy(col("g")).agg(sum(col("m")).as("c"))
    perDoc
      .join(Scale.maybeBroadcast(df), "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(when(col("c") < minDf, col("m")).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        expr("n_rare * 1000000 div n_bigrams").as("rare_ppm"))
  }

  /** Count-min sketch with an exactness audit — the fixed-size frequency
    * summary a 100 TB pipeline keeps when the exact token-count table is
    * too big to serve: `depth` hash rows × `width` cells, each cell the sum
    * of counts of all tokens landing in it, point estimate = min over
    * rows (Cormode/Muthukrishnan '05; always ≥ exact, never under). Hashes
    * are the engine's portable affine family over hash31, so the DuckDB
    * oracle rebuilds the SAME sketch bit-for-bit — the sketch structure is
    * part of the checked contract, like the MinHash banding. Build cost:
    * the exact count aggregation (vocabulary-bounded) + a depth-way
    * explode of the VOCABULARY (never the token stream), then `depth·width`
    * cells. The audit joins the top-`kTop` exact counts back against their
    * estimates. Output: (token, exact_count, cm_estimate, overestimate).
    */
  def countMinAccuracy(docs: DataFrame, width: Int = 256, depth: Int = 4,
      kTop: Int = 20): DataFrame = {
    val exact = docs.select(explode(tokenize(col("text"))).as("t"))
      .where(col("t") =!= "") // Java-split leading-empty artifact, not a word
      .groupBy(col("t")).agg(count(lit(1)).as("exact_count"))
    // the sketch scaffold is the shared kernel (Scale.countMinAudit) — one
    // copy of the oracle-replayed cell formula across modalities
    Scale.countMinAudit(exact, "t", portableHash31(col("t")), width, depth, kTop)
      .withColumnRenamed("t", "token")
  }

  /** The CAPSTONE curation pipeline — every pass a training-data build
    * runs, composed as ONE lazy DAG in cost order (cheapest-first, each
    * stage shrinking the next stage's input):
    *
    *   1. quality predicate (pure scan filter — the largest-volume cut),
    *   2. benchmark decontamination (5-gram overlap vs the eval set =
    *      RAW docs doc_id < 5 — benchmarks don't pass your quality bar,
    *      so eval grams come from the unfiltered table; broadcast
    *      intersect, map-side),
    *   3. near-dup dedup with the KEEP-LONGEST policy (MinHash-LSH pairs →
    *      connected components → longest member survives),
    *   4. per-source token budgeting (id-ordered running sums).
    *
    * Output: the admitted corpus manifest
    * (doc_id, source, n_tokens, cum_tokens). Every stage is individually
    * oracled elsewhere; this entry hash-gates their COMPOSITION — stage
    * ordering or interface drift breaks it even if each stage stays green.
    */
  def curatedCorpus(docs: DataFrame, tau: Double = 0.7, nEval: Int = 5,
      budgetTokens: Long = 800L): DataFrame = {
    val qf = docs.where(qualityPredicate(col("text")))
    val evalGrams = broadcast(docs.where(col("doc_id") < nEval)
      .select(explode(hashSet(shingleSet(col("text"), 5))).as("g"))
      .agg(collect_set(col("g")).as("ev")))
    val decont = qf.where(col("doc_id") >= nEval)
      .crossJoin(evalGrams)
      .where(size(array_intersect(hashSet(shingleSet(col("text"), 5)), col("ev"))) === 0)
      .drop("ev")
    // The ADMITTED MANIFEST — (doc_id, source, n_tokens) of every doc that
    // survived quality + decontamination — is materialized ONCE as a
    // narrow eager checkpoint (r17): the quality regexes and the 5-gram
    // decontamination intersect are the composition's most expensive
    // per-doc predicates, and the lazy tail below used to re-evaluate them
    // on every action (once for the keep-longest size frame, once for the
    // final source join) on top of the pair pipeline's own reads. Three
    // bytes-scale columns per admitted doc — metadata-sized at any corpus.
    val admitted = decont.select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    // the CC loop inside dedupClustersKeepLongestSized consumes the pairs
    // eagerly at construction — the shared-sets window (r17) spans exactly
    // that, so the decontaminated corpus is tokenized+shingled once for
    // the banding AND verify sides instead of three times
    val kept = graft.operators.Dedup.withSharedShingleSets(decont) { sets =>
      graft.operators.Dedup.dedupClustersKeepLongestSized(
        admitted.select(col("doc_id")),
        admitted.select(col("doc_id"), col("n_tokens")),
        graft.operators.Dedup.minhashLshPairsFromSets(sets, tau))
    }
      .where(col("kept"))
      .join(admitted.select(col("doc_id"), col("source")), "doc_id")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** TextRank (Mihalcea/Tarau '04) — weighted PageRank over the token
    * co-occurrence graph, the graph-centrality keyword extractor: nodes are
    * tokens, undirected edges are adjacent-token pairs with corpus count ≥
    * `minCount` (weight = count, both directions summed), and `iters`
    * fixed damped iterations propagate rank. Everything is INTEGER
    * arithmetic so the iteration is bit-exact across engines and partition
    * orders: ranks live at scale 10¹² (r₀ = 10¹² div N), a node's
    * contribution along an edge is r·w div W_out (products in
    * DECIMAL(38,0) — no overflow for any realistic corpus), damping is
    * (15·r₀ + 85·in) div 100. Deterministic truncation leaks rank mass;
    * that loss is identical on both engines and irrelevant to the ranking.
    *
    * Scale shape: the edge table is one bigram aggregation (Zipf-small
    * after the count floor, vocabulary²-bounded in principle), EAGERLY
    * checkpointed once so the 5 iterations and the final top-k reread a
    * materialized table instead of re-running the corpus scan per round —
    * [[graft.operators.Dedup.dedupClusters]]' discipline. Each iteration is
    * one hash join (edges ⋈ ranks on src) + one aggregation (sum by dst):
    * shuffle volume O(|E|) per round, never corpus-sized. N comes from a
    * 1-row aggregate cross-joined back, not a driver count. Output: top
    * `kTop` (token, rank_e12, w_out) by rank.
    */
  def textrank(docs: DataFrame, minCount: Long = 5, iters: Int = 5,
      kTop: Int = 30): DataFrame = {
    val toks = docs.select(tokenize(col("text")).as("w"))
    val bi = toks
      .select(explode(expr(
        "transform(sequence(1, greatest(size(w) - 1, 0)), i -> struct(w[i-1] AS a, w[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= col("b")) // self-loops feed rank back to the node; drop
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
    // undirected: weight{a,b} = c(a→b) + c(b→a); one pass emits both roles
    val sym = bi.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst"), col("c")),
        struct(col("b").as("src"), col("a").as("dst"), col("c")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.c").as("c"))
      .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("w"))
    val outW = sym.groupBy("src").agg(sum(col("w")).as("w_out"))
    // LAZY checkpoints (r16 opt): each round references the previous round
    // exactly once and nothing acts until the caller's own action, so the
    // lazy form keeps the per-round plans truncated (the checkpoint RDDs
    // are shared LogicalRDD leaves — plan size stays linear in rounds)
    // while collapsing the 1 + iters eager materialization JOBS into the
    // final action. Blocks still cache + lineage still truncates the
    // first time each round is computed; results are unchanged.
    val edges = sym.join(outW, "src").localCheckpoint(eager = false)
    // EVERY other consumer of the node table derives from the CHECKPOINTED
    // edges (r17): nNodes, the rank seed, and the final w_out join each
    // re-ran the corpus bigram pipeline (scan + tokenize + two
    // aggregations) as their own subtree — 4 corpus passes per action
    // where 1 suffices. (src, w_out) pairs in edges are exactly outW (the
    // inner join keeps every sym row and w_out is constant per src), so
    // the node table is one vocabulary-thin distinct over cached blocks.
    val outWc = edges.select(col("src"), col("w_out")).distinct()
    val nNodes = outWc.agg(count(lit(1)).as("n_nodes"))
    var ranks = outWc.select(col("src").as("node"))
      .crossJoin(broadcast(nNodes))
      .select(col("node"), expr("1000000000000 div n_nodes").as("r"), col("n_nodes"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      // r·w runs in DECIMAL(38,0); `div` is TRUNCATING integral division on
      // both engines (DuckDB `//` on positives agrees) — never `/`, whose
      // decimal result would round half-up and drift off the oracle
      ranks = edges
        .join(ranks.select(col("node").as("src"), col("r"), col("n_nodes")), "src")
        .select(col("dst"),
          expr("CAST(r AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)) div w_out").as("contrib"),
          col("n_nodes"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("in_sum"), first(col("n_nodes")).as("n_nodes"))
        .select(col("node"),
          expr("15 * (1000000000000 div n_nodes) div 100 + 85 * in_sum div 100").as("r"),
          col("n_nodes"))
        .localCheckpoint(eager = false)
    }
    ranks.join(outWc.select(col("src").as("node"), col("w_out")), "node")
      .select(col("node").as("token"), col("r").as("rank_e12"), col("w_out"))
      .orderBy(col("rank_e12").desc, col("token").asc)
      .limit(kTop)
  }

  /** Per-language MinHash signature of the UNION of all documents' shingle
    * sets, via the typed [[graft.functions.MinHashAggregator]] UDAF
    * (elementwise-min distributes over union, so merging per-doc signatures
    * IS the union signature — verified against an oracle that recomputes the
    * min over every term). Output: (lang, slot, sig_val), one row per
    * signature slot.
    */
  def langMinhash(docs: DataFrame, numHashes: Int = 64): DataFrame = {
    val sigs = docs.select(col("lang"),
      minhashFromHashes(hashSet(shingleSet(col("text"), 3)), numHashes).as("sig"))
      .where(size(col("sig")) > 0)
    sigs.groupBy(col("lang"))
      .agg(graft.functions.MinHashAggregator.minhashUnion(col("sig"), numHashes).as("usig"))
      .select(col("lang"), posexplode(col("usig")).as(Seq("slot", "sig_val")))
      .select(col("lang"), col("slot").cast("long").as("slot"), col("sig_val"))
  }

  /** Per-source corpus profile — the provenance breakdown a training-data
    * curation pass starts from: doc/lang counts and exact (decimal-summed)
    * token/char totals per `source`. One map-side scan + one aggregation.
    */
  def sourceStats(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(sum(col("n_chars").cast("decimal(18,0)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_chars"))

  /** C4/Gopher-style quality FILTER (not just stats): keep documents passing
    * all rules — minimum length, sane mean token length, lexical diversity.
    * Pure map-side predicate over the scan: at 100 TB this is the shape of
    * the first (and largest-volume) pass of a cleaning pipeline, and the
    * predicate pushes into the scan like any other filter. Output: the
    * survivors with the stats the rules used.
    */
  def qualityFilter(docs: DataFrame, minTokens: Int = 30,
      minAvgTokLen: Double = 2.0, maxAvgTokLen: Double = 12.0,
      minTypeTokenRatio: Double = 0.3): DataFrame =
    qualityFilterHashed(docs, minTokens, minAvgTokLen, maxAvgTokLen, minTypeTokenRatio)
      .drop("h")

  /** The rule statistics as Columns over raw text — the SINGLE definition
    * of the quality arithmetic, shared by the projecting filter and the
    * schema-preserving predicate so the two can never drift. Returns
    * (n_tokens, n_distinct_tokens, n_chars, avg_token_len,
    * type_token_ratio), the last two rounded@6 exactly as the oracle
    * computes them.
    */
  private def qualityStatCols(text: Column): (Column, Column, Column, Column, Column) = {
    val toks = tokenize(text)
    val nTokens = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val nChars = length(text).cast("long")
    val avgTokLen = round((nChars - (nTokens - 1)).cast("double") / nTokens.cast("double"), 6)
    val ttr = round(nDistinct.cast("double") / nTokens.cast("double"), 6)
    (nTokens, nDistinct, nChars, avgTokLen, ttr)
  }

  /** The threshold comparison over already-computed stat Columns — one copy
    * of the rule set, whatever shape the stats arrive in.
    */
  private def qualityRules(nTokens: Column, avgTokLen: Column, ttr: Column,
      minTokens: Int, minAvgTokLen: Double, maxAvgTokLen: Double,
      minTypeTokenRatio: Double): Column =
    nTokens >= minTokens &&
      avgTokLen >= minAvgTokLen && avgTokLen <= maxAvgTokLen &&
      ttr >= minTypeTokenRatio

  /** The quality rules as ONE reusable boolean Column over raw text — for
    * schema-preserving filtering where the caller must keep its own columns
    * (e.g. the streaming ingest pipeline, whose downstream dedup stages
    * need `text`). Same stat and rule definitions as [[qualityFilter]], so
    * `docs.where(qualityPredicate(col("text")))` keeps precisely the ids
    * [[qualityFilter]] keeps (spec-asserted).
    */
  def qualityPredicate(text: Column, minTokens: Int = 30,
      minAvgTokLen: Double = 2.0, maxAvgTokLen: Double = 12.0,
      minTypeTokenRatio: Double = 0.3): Column = {
    val (nTokens, _, _, avgTokLen, ttr) = qualityStatCols(text)
    qualityRules(nTokens, avgTokLen, ttr,
      minTokens, minAvgTokLen, maxAvgTokLen, minTypeTokenRatio)
  }

  /** [[qualityFilter]] carrying md5(text) as `h` — shared with
    * [[cleanedCorpus]], which needs the hash without re-scanning (and
    * re-hashing) documents the filter already rejected.
    */
  private[operators] def qualityFilterHashed(docs: DataFrame, minTokens: Int = 30,
      minAvgTokLen: Double = 2.0, maxAvgTokLen: Double = 12.0,
      minTypeTokenRatio: Double = 0.3): DataFrame = {
    val (nTokens, nDistinct, nChars, avgTokLen, ttr) = qualityStatCols(col("text"))
    docs
      .select(col("doc_id"), col("lang"),
        nTokens.as("n_tokens"),
        nDistinct.as("n_distinct_tokens"),
        nChars.as("n_chars"),
        md5(col("text")).as("h"),
        avgTokLen.as("avg_token_len"),
        ttr.as("type_token_ratio"))
      .where(qualityRules(col("n_tokens"), col("avg_token_len"), col("type_token_ratio"),
        minTokens, minAvgTokLen, maxAvgTokLen, minTypeTokenRatio))
  }

  /** The end-to-end cleaning pipeline a training corpus actually runs:
    * quality FILTER → exact-dedup keep-first → surviving documents, as one
    * lazy DAG. The content hash is computed IN the filtered projection
    * ([[qualityFilterHashed]]), so rejected documents are never hashed.
    * Keep-first is a min-over-window on the hash — ONE pass over the
    * filtered stream and one shuffle on `h`. (A keeper
    * `groupBy(h)+join(doc_id)` computes the same rows but feeds the filter
    * subtree into two plan branches, and Catalyst does not reuse the
    * un-materialized subtree: the corpus would be scanned, tokenized, and
    * hashed twice — the one thing the highest-volume pass of a 100 TB
    * cleaning pipeline must never do.)
    */
  def cleanedCorpus(docs: DataFrame): DataFrame =
    qualityFilterHashed(docs)
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy("h")))
      .where(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))

  /** Intra-document repetition statistics — the Gopher/MassiveText
    * repetition rules' raw signals: over the doc's word 3-gram MULTISET
    * (with repeats, unlike the shingle-set detectors), the total and
    * distinct gram counts, the most-repeated gram's count, and the fraction
    * of gram occurrences that are repeats. A doc looping the same phrase
    * ("buy now buy now …") scores dup_gram_frac → 1 and gets dropped by a
    * repetition filter; near-1 docs are the classic boilerplate/SEO junk an
    * LLM corpus wants gone. Per-doc grouping only (doc_id-keyed shuffle
    * with map-side partial counts); no cross-doc state, so it scales
    * linearly with the corpus. Output:
    * (doc_id, n_grams, n_distinct_grams, max_gram_count, dup_gram_frac).
    */
  def repetitionStats(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), explode(shingleList(col("text"), k)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("n")).as("max_gram_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"), col("max_gram_count"),
        round(lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams").cast("double"), 6)
          .as("dup_gram_frac"))

  /** Benchmark decontamination — flag corpus documents that share word
    * `k`-grams with an evaluation set (here: doc_id < nEval plays the
    * held-out benchmark). The canonical pre-training hygiene pass: any
    * training doc overlapping an eval doc's n-grams leaks test data into
    * the model. Scale shape: the eval side is SMALL by construction
    * (benchmarks are thousands of docs, not billions), so its distinct gram
    * set broadcasts — as 8 B portable hashes, not strings, an order of
    * magnitude smaller in flight — and the corpus side is one linear scan +
    * a map-side semi-join: the corpus never shuffles its grams; only the
    * per-doc hit counts (pre-aggregated map-side) move. Output:
    * (doc_id, n_overlap_grams, contaminated) for every corpus doc.
    */
  def decontaminate(docs: DataFrame, k: Int = 5, nEval: Int = 5): DataFrame = {
    val grams = docs.select(col("doc_id"), hashSet(shingleSet(col("text"), k)).as("grams"))
    val evalGrams = Scale.maybeBroadcast(
      grams.where(col("doc_id") < nEval)
        .select(explode(col("grams")).as("gram")).distinct())
    val hits = grams.where(col("doc_id") >= nEval)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    docs.where(col("doc_id") >= nEval).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_overlap_grams"),
        (coalesce(col("n"), lit(0L)) > 0L).as("contaminated"))
  }

  /** Contamination SPREAD — the transitive tier of decontamination: a doc
    * that shares no n-gram with the benchmark but is a near-duplicate of a
    * contaminated doc (or of a near-dup of one, …) still leaks eval signal
    * through paraphrase chains, so hygiene flags the bounded-hop closure of
    * the flagged set over the near-dup graph. Computed as a BFS FRONTIER
    * loop: seeds are [[decontaminate]]'s flagged docs, edges the symmetric
    * MinHash-LSH verified pairs among corpus docs, and each hop joins only
    * the previous hop's newly reached docs against the edges, anti-joined
    * against everything already reached. The loop stops after `maxHops`
    * hops or as soon as a hop reaches nothing new. Scale shape: at most
    * `maxHops` joins (no fixpoint risk), seeds are benchmark-overlap-sized
    * (small), and the edge list is the already-sub-quadratic LSH pair
    * output — the per-hop work is a frontier-sized-side join, not a corpus
    * scan. The DuckDB oracle still replays the bounded recursive-CTE form
    * (`WITH RECURSIVE ... GROUP BY min(hops)`), which yields the same rows.
    * For the UNBOUNDED closure use [[Dedup.dedupClusters]] (pointer-halving
    * fixpoint, O(log d) rounds). Output: (doc_id, hops) — every reachable
    * doc with its minimum hop count (0 = directly contaminated).
    */
  def contaminationSpread(docs: DataFrame, tau: Double = 0.7, maxHops: Int = 3,
      k: Int = 5, nEval: Int = 5): DataFrame = {
    val seeds = decontaminate(docs, k, nEval)
      .where(col("contaminated")).select(col("doc_id"))
    // EAGER checkpoint before the loop (same discipline as dedupClusters):
    // each hop re-evaluates the edge plan, so without this
    // the whole LSH pair pipeline — shingle, minhash, band, verify — would
    // re-run maxHops+1 times; checkpointed, each hop joins the (small)
    // materialized edge list. Both directions from one pass over pairs.
    // The shared-sets window (r17) spans exactly this eager checkpoint, so
    // the pair pipeline's shingle-frame reads share one persisted pass.
    val edges = Dedup.withSharedShingleSets(docs.where(col("doc_id") >= nEval)) { sets =>
      Dedup.minhashLshPairsFromSets(sets, tau)
        .select(explode(array(
          struct(col("doc_a"), col("doc_b")),
          struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
        .localCheckpoint()
    }
    // BFS FRONTIER iteration (r17, VERDICT item 7) instead of the
    // historical `WITH RECURSIVE ... UNION ALL` form: the recursive CTE
    // enumerates every PATH of length ≤ maxHops before the final
    // min(hops) rollup — inside a near-dup CLIQUE of size k (exactly
    // where LSH edges concentrate) that is O(k^maxHops) intermediate
    // rows for the k the BFS frontier carries. Identity: the frontier at
    // step h is precisely the docs whose minimum hop distance is h (the
    // anti-join against everything already reached excludes all shorter
    // paths), so (doc_id, hops) here ≡ the CTE's GROUP BY min(hops) —
    // the oracle still replays the recursive-CTE form and gates that
    // equivalence every round. Per-hop checkpoints keep round plans flat
    // (the dedupClusters loop discipline).
    var reached = seeds.select(col("doc_id"), lit(0L).as("hops"))
      .localCheckpoint()
    var frontier = reached
    var h = 1
    // an empty frontier reaches nothing: stop instead of joining and
    // checkpointing empty frames until maxHops (the check reads the
    // just-materialized checkpoint, not the plan)
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.select(col("doc_id").as("doc_a"))
        .join(edges, "doc_a")
        .select(col("doc_b").as("doc_id")).distinct()
        .join(reached.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(h.toLong).as("hops"))
        .localCheckpoint()
      // reached stays a flat union of ≤ maxHops+1 checkpoint LEAVES — no
      // checkpoint of its own needed, the lineage never nests
      reached = reached.union(next)
      frontier = next
      h += 1
    }
    reached
  }

  /** Deterministic source-mixing resample — the data-mixing pass that
    * rebalances a multi-source corpus toward target proportions (web 10%,
    * books 100%, …): each source keeps the fraction in `weights` via the
    * portable content-hash bucket, so the sample is reproducible across
    * engines, runs, and partitionings (same discipline as
    * [[stratifiedSample]]). Sources absent from `weights` are dropped.
    * Pure map-side predicate — the largest-volume pass of corpus assembly
    * never shuffles. Output: (doc_id, lang, source, bucket).
    */
  def sourceMix(docs: DataFrame, weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(w => w >= 0.0 && w <= 1.0),
      "mix weights must be fractions in [0, 1]")
    // integer thresholds out of 10000 — exact, no float compare in the plan
    val thresholds = weights.map { case (s, w) => s -> math.round(w * 10000).toInt }
    val thresholdCol = thresholds.foldLeft(lit(0)) { case (acc, (s, t)) =>
      when(col("source") === s, lit(t)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        pmod(portableHash31(col("text")), lit(10000L)).as("bucket"))
      .where(col("bucket") < thresholdCol)
  }

  /** TEMPERATURE-mixed corpus — the multilingual/domain sampling rule of
    * mBERT/XLM-R (sample source s with probability ∝ p_s^α) at α = ½,
    * where the per-source KEEP fraction reduces to f_s = √(c_min/c_s):
    * the smallest source keeps everything, a 4×-bigger source keeps half.
    * α = ½ is chosen PRECISELY so the rule stays engine-exact — c_min/c_s
    * is an exact IEEE division of integer token counts and √ is
    * IEEE-correctly-rounded, no libm `pow` enters the plan. Membership is
    * the deterministic content-hash bucket against the integer threshold
    * round(f_s·10⁴) (the [[sourceMix]] mechanism with DATA-DERIVED
    * weights — the mixing twin of `bandWidthFor`/`bloomBitsFor`/
    * `lshRowsPerBand`: the caller brings a temperature, not a weight
    * table). Scale shape: one metadata-scale per-source aggregate
    * broadcast back over the scan; the filter itself is map-side.
    * Output: (doc_id, lang, source, bucket, threshold).
    */
  def sourceMixTemperature(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), col("source"),
      size(tokenize(col("text"))).cast("long").as("n_tokens"),
      pmod(portableHash31(col("text")), lit(10000L)).as("bucket"))
    val counts = toks.groupBy(col("source")).agg(sum(col("n_tokens")).cast("long").as("c"))
    val thresholds = counts
      .crossJoin(broadcast(counts.groupBy().agg(min(col("c")).as("cmin"))))
      .select(col("source"),
        round(sqrt(col("cmin").cast("double") / col("c").cast("double")) * 10000)
          .cast("long").as("threshold"))
    toks.join(broadcast(thresholds), "source")
      .where(col("bucket") < col("threshold"))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"), col("threshold"))
  }

  /** Per-source token budgeting — the "take N tokens from each source" pass
    * of corpus assembly: keep each source's documents in ascending doc_id
    * order while the source's cumulative token count stays within
    * `budgetTokens`. One windowed running sum per source. At 100 TB a
    * single giant source makes one window partition hot — the deployment
    * shape is [[tokenBudgetBucketed]], which splits every source into
    * content-hash buckets with per-bucket budgets; this is the per-source
    * exact form. Output: (doc_id, source, n_tokens, cum_tokens).
    */
  def tokenBudget(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budgetTokens)
  }

  /** [[tokenBudget]]'s deployment shape: the budget is split across
    * `nBuckets` deterministic content-hash buckets PER SOURCE, and each
    * (source, bucket) runs its own windowed running sum. A web-crawl source
    * holding half the corpus stops being one hot window partition — its
    * documents spread over `nBuckets` independent partitions, so window
    * parallelism scales with `nBuckets` (set it ≈ cluster cores / sources)
    * and no partition ever holds more than ≈ a 1/nBuckets share of a
    * source. The trade is exactness at the seam: each bucket stops within
    * its own `budgetPerBucket`, so a source's total lands near
    * budgetPerBucket·nBuckets without cutting at one exact global prefix —
    * the standard accept-bounded-overshoot trade for removing a serial
    * bottleneck. Same content-hash bucketing discipline as [[sourceMix]] /
    * [[stratifiedSample]], so the split is reproducible across runs,
    * engines, and cluster sizes.
    * Output: (doc_id, source, bucket, n_tokens, cum_tokens).
    */
  def tokenBudgetBucketed(docs: DataFrame, budgetPerBucket: Long,
      nBuckets: Int = 8): DataFrame = {
    require(nBuckets >= 1, "tokenBudgetBucketed needs at least one bucket")
    val w = Window.partitionBy("source", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        pmod(portableHash31(col("text")), lit(nBuckets.toLong)).as("bucket"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budgetPerBucket)
  }

  /** Per-source document CAP with QUALITY-RANKED retention — the C4 /
    * RefinedWeb-style domain-frequency cap: no source (domain, crawl,
    * feed) contributes more than `cap` documents, and when a source
    * overflows, the KEPT docs are its highest-quality ones rather than an
    * arbitrary prefix. The quality axis here is the type-token ratio in
    * exact integer ppm (`distinct_tokens·10⁶ div n_tokens` — repetitive
    * boilerplate scores low), ties broken by doc_id, so retention is
    * deterministic and engine-replayable; any other deterministic score
    * ranks the same machinery.
    *
    * Grouped top-k done SKEW-SAFE: a bare per-source `row_number` makes a
    * web-crawl source holding half the corpus one hot window partition.
    * Instead, stage 1 ranks within (source, content-hash bucket) and
    * keeps each bucket's top `cap` — spreading the giant source over
    * `nBuckets` parallel partitions — and stage 2 ranks the survivors
    * (≤ nBuckets·cap rows per source, metadata-sized) for the exact
    * global answer. Any row in a source's true top-cap is in its bucket's
    * top-cap, so the prune is LOSSLESS and the result is invariant to
    * `nBuckets` (spec-pinned at 1 vs 8).
    * Output: (doc_id, source, n_tokens, ttr_ppm, rank_in_source).
    */
  def sourceCap(docs: DataFrame, cap: Int = 40, nBuckets: Int = 8): DataFrame = {
    require(cap >= 1, "sourceCap needs a positive cap")
    require(nBuckets >= 1, "sourceCap needs at least one bucket")
    val scored = docs
      .select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(tokenize(col("text")))).cast("long").as("n_distinct"),
        pmod(portableHash31(col("text")), lit(nBuckets.toLong)).as("bucket"))
      .where(col("n_tokens") > 0)
      .withColumn("ttr_ppm", expr("n_distinct * 1000000 DIV n_tokens"))
    val local = Window.partitionBy("source", "bucket")
      .orderBy(col("ttr_ppm").desc, col("doc_id").asc)
    val global = Window.partitionBy("source")
      .orderBy(col("ttr_ppm").desc, col("doc_id").asc)
    scored
      .withColumn("lrk", row_number().over(local))
      .where(col("lrk") <= cap)
      .withColumn("rank_in_source", row_number().over(global).cast("long"))
      .where(col("rank_in_source") <= cap)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr_ppm"),
        col("rank_in_source"))
  }

  /** Sequence PACKING — the layout pass between a curated corpus and a
    * training run: documents are concatenated in deterministic doc_id order
    * per source and chunked into fixed `seqLen`-token training sequences
    * (GPT-style concat-and-chunk: documents MAY span a boundary; the
    * alternative — non-splitting bin packing — trades waste for a serial
    * packer and is not the pretraining default). Each doc's placement is
    * pure prefix-sum arithmetic: start offset = exclusive running token
    * sum, first/last sequence = integer division by `seqLen` — so the
    * entire pass is one per-source window, no shuffle beyond it, and the
    * result is reproducible under any partitioning. Scale shape: windows
    * partition by SOURCE (parallel across sources); a giant source is the
    * same hot-partition case [[tokenBudgetBucketed]] documents — bucket
    * first, pack per bucket. Output: (doc_id, source, n_tokens, start_tok,
    * seq_first, seq_last) with seq ids source-local.
    */
  def packSequences(docs: DataFrame, seqLen: Long = 512): DataFrame = {
    require(seqLen >= 1, "packSequences needs a positive sequence length")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div $seqLen").as("seq_first"),
        expr(s"(start_tok + n_tokens - 1) div $seqLen").as("seq_last"))
  }

  /** [[packSequences]]'s deployment shape at one-giant-source scale: the
    * corpus is split into `nBuckets` deterministic content-hash buckets per
    * source and each (source, bucket) packs its own independent sequence
    * stream — window parallelism scales with `nBuckets` exactly as in
    * [[tokenBudgetBucketed]], at the cost of per-bucket sequence id spaces
    * (training shards are independent anyway, so bucket-local ids are the
    * natural unit). `nBuckets = 1` degenerates to [[packSequences]] modulo
    * the extra bucket column (spec-asserted). Output: (doc_id, source,
    * bucket, n_tokens, start_tok, seq_first, seq_last).
    */
  def packSequencesBucketed(docs: DataFrame, seqLen: Long = 512,
      nBuckets: Int = 8): DataFrame = {
    require(seqLen >= 1, "packSequencesBucketed needs a positive sequence length")
    require(nBuckets >= 1, "packSequencesBucketed needs at least one bucket")
    val w = Window.partitionBy("source", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        pmod(portableHash31(col("text")), lit(nBuckets.toLong)).as("bucket"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("bucket"), col("n_tokens"),
        col("start_tok"),
        expr(s"start_tok div $seqLen").as("seq_first"),
        expr(s"(start_tok + n_tokens - 1) div $seqLen").as("seq_last"))
  }

  /** Top-k terms per document by TF-IDF (tf · ln(N/df)), deterministic
    * tie-break on rounded score then term. One df aggregation (term-keyed
    * shuffle) + one doc-keyed window. Output:
    * (doc_id, term, tf, df, tfidf, rank).
    */
  def tfidfTopTerms(docs: DataFrame, kTop: Int = 3): DataFrame = {
    // corpus cardinality folded into the DAG as a guaranteed-1-row
    // broadcast scalar (global aggregate — can never OOM), keeping the
    // whole query one lazy job instead of an eager count() at plan time
    val nRow = broadcast(docs.agg(count(lit(1)).as("__n")))
    val terms = docs.select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    // df table is vocabulary-sized — web-scale vocab is billions of terms,
    // so the broadcast is size-gated (AQE still broadcasts small actuals).
    val scored = tf.join(Scale.maybeBroadcast(dfT), "term")
      .crossJoin(nRow)
      .withColumn("tfidf",
        round(col("tf").cast("double") * log(col("__n").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= kTop)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** BM25 document ranking — the flagship's query shape under the modern
    * ranking function: score every corpus doc against a query document's
    * term set with Okapi BM25 (idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)))
    * and return the top `kTop`. Same plan skeleton as the reference
    * pipeline — explode, tf aggregation, query-term semi-join, df over the
    * SHARED terms only (query-vocabulary-sized, broadcast), per-doc rollup,
    * TakeOrdered top-k — plus the two corpus scalars (N, total token count)
    * as guaranteed-1-row broadcast aggregates in the same DAG. Float
    * determinism: each doc's score is a FIXED-ORDER fold over its
    * term-sorted per-term scores (the [[graft.operators.EmbeddingSearch]]
    * dot-product discipline), then one round(6) — so both engines add the
    * same doubles in the same order and the entry stays hash-gated.
    * Output: (doc_id, n_shared_terms, dl, score).
    */
  def bm25TopDocs(docs: DataFrame, queryDocId: Long = 0L, k1: Double = 1.2,
      b: Double = 0.75, kTop: Int = 20): DataFrame = {
    // ONE tokenize pass (r17): the historical plan derived dl/stats/qTerms/
    // df/perTerm each from its own tokenize+aggregate subtree — the pushed
    // query-doc filters made the subtrees differ, so ReuseExchange never
    // deduped them and the corpus was tokenized 4× per action (plan-counted:
    // 5 parquet scans, 4 with the Generate). Now the postings frame carries
    // dl map-side (dl ≡ size(tokens), exactly the sum(tf) the lens
    // aggregation recomputed) and is materialized ONCE as a lazy local
    // checkpoint every consumer rereads — the textrank/dedupClusters
    // discipline; size is the postings bound O(Σ_D distinct terms), the
    // same frame [[buildBm25Index]] persists for the serve path.
    val tfdl = docs
      .select(col("doc_id"), tokenize(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    // N and total length from the per-doc frame (first(dl) is constant per
    // doc_id): same values the historical lens aggregation produced —
    // docs with ≥1 token, Σ dl ≡ Σ tf
    val stats = broadcast(tfdl.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("__n"), sum(col("dl")).as("__len_sum")))
    val qTerms = broadcast(tfdl.where(col("doc_id") === queryDocId)
      .select(col("term")).distinct())
    bm25ScoreTailCarried(tfdl, stats, qTerms, queryDocId, k1, b, kTop)
  }

  /** THE single-query BM25 scoring tail — df over the query terms,
    * idf/tscore arithmetic, the term-sorted fixed-order fold, one
    * round(6), TakeOrdered top-k — shared by the in-DAG plan
    * ([[bm25TopDocs]]: tf/dl/stats/qTerms all derived from one
    * checkpointed tokenize, dl carried on the postings rows) and the
    * PRUNED index serve ([[bm25TopDocsWithIndex]]: tf bucket-pruned,
    * lens/stats from doclens, qTerms from the fwd bucket — dl attaches
    * via the doclens join because a pruned postings scan cannot see a
    * candidate's full length). One definition of the formula means the
    * serve can never drift from the oracle-gated ranking semantics,
    * whatever the inputs' provenance.
    */
  private def bm25ScoreTail(tf: DataFrame, lens: DataFrame, stats: DataFrame,
      qTerms: DataFrame, queryDocId: Long, k1: Double, b: Double,
      kTop: Int): DataFrame = {
    val dfT = tf.join(qTerms, Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf.where(col("doc_id") =!= queryDocId)
      .join(Scale.maybeBroadcast(dfT), "term")
      .join(lens, "doc_id")
    bm25ScoreFrom(perTerm, stats, k1, b, kTop)
  }

  /** [[bm25ScoreTail]] when the postings rows ALREADY carry dl
    * (doc_id, dl, term, tf) — the in-DAG plan, which gets dl for free
    * from the tokenize (dl ≡ size(tokens)) and so skips the doc-keyed
    * lens join entirely.
    */
  private def bm25ScoreTailCarried(tfdl: DataFrame, stats: DataFrame,
      qTerms: DataFrame, queryDocId: Long, k1: Double, b: Double,
      kTop: Int): DataFrame = {
    val dfT = tfdl.join(qTerms, Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tfdl.where(col("doc_id") =!= queryDocId)
      .join(Scale.maybeBroadcast(dfT), "term")
    bm25ScoreFrom(perTerm, stats, k1, b, kTop)
  }

  /** The BM25 arithmetic + per-doc rollup over a (doc_id, dl, term, tf,
    * df) frame — the ONE copy of the formula both tails above feed.
    */
  private def bm25ScoreFrom(perTermIn: DataFrame, stats: DataFrame,
      k1: Double, b: Double, kTop: Int): DataFrame = {
    val perTerm = perTermIn.crossJoin(stats)
      .withColumn("avgdl",
        col("__len_sum").cast("double") / col("__n").cast("double"))
      .withColumn("idf", log(
        (col("__n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("tscore",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    perTerm
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_shared_terms"),
        array_sort(collect_list(struct(col("term"), col("tscore")))).as("ts"))
      .withColumn("score", round(
        aggregate(col("ts"), lit(0.0), (acc, x) => acc + x.getField("tscore")), 6))
      .select(col("doc_id"), col("n_shared_terms"), col("dl"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(kTop)
  }

  // ———— persisted BM25 inverted index (the lexical serving artifact) ————

  /** Term-hash bucket count for the postings layout. 64 keeps the
    * directory fan-out trivial while bounding any query's footprint at
    * |query terms| directories (a term's rows all live in ONE bucket, so
    * per-term df/tf are exact under pruning).
    */
  val Bm25IndexBuckets = 64

  /** Persist the corpus's LEXICAL serving artifact: the `postings` table
    * (doc_id, term, tf; term-hash-bucketed directories) — the inverted
    * index every BM25 serve ranks from without re-tokenizing the corpus
    * (tokenize-and-count is the scan-bound half of [[bm25TopDocs]]; the
    * ranking half is postings-sized) — plus the narrow `doclens` table
    * (doc_id, dl), DERIVED from the persisted postings so the two can
    * never disagree, there for the bucket-PRUNED serve (whose scan holds
    * only query-term rows and so cannot see a candidate's full length).
    * df, N and avgdl still derive at serve time (df from the pruned
    * term rows — exact, a term's rows all share one bucket; N/avgdl from
    * doclens); both tables key on doc_id, so the generic forget kernel
    * maintains them together ([[Forget.bm25Target]]). Layout:
    * `path/postings` + `path/doclens` + `_DONE` commit marker (a crashed
    * build leaves no marker and is rebuilt, never served).
    */
  def buildBm25Index(docs: DataFrame, path: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    fs.delete(done, false)
    // term-hash-bucketed directory layout: a serve that knows its query
    // terms prunes to their buckets at PLAN time (partition pruning, not
    // a post-scan filter) — the footprint a lexical query pays at 100 TB
    // is its terms' buckets, never the index. The generic forget rewrite
    // preserves this layout (partition dirs re-derived from the live
    // table), so pruning survives forget passes.
    Tables.writeArtifact(docs.select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(portableHash31(col("term")), lit(Bm25IndexBuckets)).cast("int")),
      s"$path/postings", "overwrite", Seq("bucket"))
    // doclens DERIVES FROM THE PERSISTED postings (the buildIvfIndex
    // two-tables-can-never-disagree discipline): dl per doc so a
    // bucket-pruned serve still sees candidates' FULL lengths (a pruned
    // postings scan only holds query-term rows), narrow (#docs × 2 cols)
    val persisted = Tables.artifactParquet(docs.sparkSession, s"$path/postings")
    Tables.writeArtifact(persisted.groupBy("doc_id").agg(sum(col("tf")).as("dl")),
      s"$path/doclens", "overwrite")
    // the FORWARD index (doc → its terms), doc-id-hash-bucketed — the
    // lexical twin of the IVF idmap: a query-from-corpus serve resolves
    // its own terms from ONE of 64 narrow directories instead of
    // scanning the term-bucketed postings by doc_id (the one per-query
    // touch term-bucket pruning cannot prune). Also DERIVED from the
    // persisted postings, so the three tables can never disagree.
    // Rebalanced on db, so each db= dir is written by one task as one
    // file: a forget rewrites only the dirs holding its docs, so the
    // build's layout is what the untouched dirs keep.
    Tables.writeArtifact(fwdProjection(persisted).hint("rebalance", "db"),
      s"$path/fwd", "overwrite", Seq("db"))
    Forget.clearStaleForgetState(fs, path, Seq("postings", "doclens", "fwd"))
    Markers.commit(fs, done)
  }

  /** Doc-id-hash bucket count for the forward index's layout. */
  val Bm25FwdBuckets = 64

  /** THE doc→bucket rule of the forward index, single-sourced for its
    * writers (build/extend projections) and — via [[fwdBucketOf]] — the
    * serve's pruning predicate (`pmod` is non-negative; the driver twin
    * must use floorMod, never Scala's sign-preserving `%`).
    */
  private def fwdProjection(postings: DataFrame): DataFrame =
    postings.select(col("doc_id"), col("term"),
      pmod(col("doc_id"), lit(Bm25FwdBuckets)).cast("int").as("db"))

  def fwdBucketOf(docId: Long): Int =
    java.lang.Math.floorMod(docId, Bm25FwdBuckets.toLong).toInt

  /** Append a NEW document batch to a committed BM25 index — the
    * add-without-rebuild maintenance pass of a production lexical index:
    * tokenize only the batch, append its (doc_id, term, tf) postings and
    * (doc_id, dl) lengths. Serve correctness needs (doc_id, term) to stay
    * unique, so batch doc_ids must be new to the index (the
    * [[Dedup.extendDedupIndex]] caller contract); corpus-global stats
    * (df, N, avgdl) need no maintenance — they derive from the tables at
    * serve time. Crash contract: `_DONE` must EXIST at entry (a committed
    * index is the only legal base — a crashed extend already appended an
    * unknown subset, and re-running it over that state would append the
    * batch postings a second time and silently double tf/df/dl, so the
    * only repair is a rebuild), drops before the appends, and returns
    * after, so a half-appended index reads as uncommitted; a crashed
    * forget pass must be resumed first (appending under a half-filtered
    * table would interleave states); and a FLATTENED partitioned table —
    * postings (bucket) OR fwd (db) rewritten with its partition key as a
    * data column (a pre-r12 forget, or an external writer) — is refused:
    * appending partitioned files next to flat files makes the mixed
    * directory unreadable ('conflicting directory structures'), not just
    * slower. The current forget rewrite preserves the layout, so
    * extend-after-forget is legal (spec-pinned).
    */
  def extendBm25Index(indexPath: String, newDocs: DataFrame,
      autoCompact: Boolean = true, idempotenceToken: Option[String] = None): Unit = {
    val done = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    // idempotence under at-least-once replay (ADVICE r15) — the
    // extendIvfIndex contract verbatim: a caller-supplied batch token is
    // recorded in `_BATCH` between the appends and the `_DONE` recommit;
    // a replayed batch whose token already matches is skipped (with the
    // self-healing recommit when the crash landed between the two marker
    // writes) instead of silently doubling its terms' tf/df/dl.
    val batchMarker = new org.apache.hadoop.fs.Path(indexPath, "_BATCH")
    if (idempotenceToken.exists(t =>
        graft.operators.Markers.token(fs, batchMarker) == t)) {
      if (!fs.exists(done)) graft.operators.Markers.commit(fs, done)
      return
    }
    val committed = Seq("postings", "doclens", "fwd")
      .map(t => new org.apache.hadoop.fs.Path(indexPath, s"$t/_SUCCESS"))
    require(committed.forall(fs.exists),
      s"BM25 index tables at $indexPath are missing or uncommitted (no _SUCCESS) — " +
        "a crashed BUILD cannot be repaired by extend (or the layout predates " +
        "the fwd table); run buildBm25Index")
    // crashed-forget check FIRST: a forget mid-pass also leaves _DONE
    // absent, and its remedy (resume with the original ids) is cheaper
    // than the rebuild the crashed-extend diagnosis below prescribes
    Forget.requireNoCrashedForget(fs, indexPath)
    require(fs.exists(done),
      s"BM25 index at $indexPath is uncommitted (no _DONE) — a crashed EXTEND " +
        "may already have appended part of a batch, and re-appending would " +
        "silently double tf/df/dl for its terms; rebuild with buildBm25Index")
    // a FLAT table (partition key present as a data column but no
    // bucket=/db= dirs — e.g. written by a pre-r12 forget rewrite, which
    // flattened layouts instead of preserving them) is refused: appending
    // partition dirs next to flat files leaves a mixed layout Spark
    // refuses to read. A COMMITTED-BUT-EMPTY table (zero rows → no
    // partition dirs AND no data files, just _SUCCESS) is NOT flat — the
    // append is the first data and establishes the layout — so the guard
    // keys on data files without partition dirs, not on missing dirs alone
    for ((t, pk) <- Seq("postings" -> "bucket=", "fwd" -> "db=")) {
      val entries = fs.listStatus(new org.apache.hadoop.fs.Path(indexPath, t))
      val hasPartDirs = entries.exists(_.getPath.getName.startsWith(pk))
      val hasDataFiles = entries.exists(Tables.isDataFile)
      // a table partitioned by the WRONG key (some other col=value dirs)
      // is just as much a mixed-layout hazard as a flat one — and it has
      // neither data files nor the right dirs, so it must be refused
      // explicitly, not fall into the empty-table allowance
      val wrongKeyDirs = entries.filter(e => !e.isFile &&
        e.getPath.getName.contains("=") && !e.getPath.getName.startsWith(pk))
      require(wrongKeyDirs.isEmpty,
        s"BM25 table '$t' at $indexPath is partitioned by the wrong key " +
          s"(${wrongKeyDirs.head.getPath.getName.split("=")(0)}= dirs, " +
          s"expected $pk) — appending $pk dirs would mix layouts; rebuild " +
          "with buildBm25Index before extending")
      require(hasPartDirs || !hasDataFiles,
        s"BM25 table '$t' at $indexPath is FLAT (data files without $pk " +
          "partition directories — a pre-r12 forget rewrote the layout, or " +
          "an external writer flattened it) — appending partitioned files " +
          "would mix layouts; rebuild with buildBm25Index before extending")
    }
    fs.delete(done, false)
    // all three appended tables derive from ONE checkpointed batch tf
    // frame — a lazy recompute between the writes could otherwise let
    // them disagree (the extendDedupIndex discipline)
    val batch = newDocs.select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    try {
      // the three appends read only the checkpoint: side by side, each
      // partitioned one on all cores with one file per touched dir
      val postings = batch.withColumn("bucket",
        pmod(portableHash31(col("term")), lit(Bm25IndexBuckets)).cast("int"))
      Tables.inParallel(newDocs.sparkSession, Seq(
        () => Tables.writeArtifact(Tables.onePerDir(postings, "bucket"),
          s"$indexPath/postings", "append", Seq("bucket")),
        () => Tables.writeArtifact(batch.groupBy("doc_id").agg(sum(col("tf")).as("dl")),
          s"$indexPath/doclens", "append"),
        () => Tables.writeArtifact(Tables.onePerDir(fwdProjection(batch), "db"),
          s"$indexPath/fwd", "append", Seq("db"))))
    } finally org.apache.spark.sql.GraftShim.unpersistCheckpoint(batch)
    // _BATCH lands after every append, before the _DONE recommit (the
    // extendIvfIndex ordering — closes the replay window on both sides)
    idempotenceToken.foreach(t => Markers.commitValue(fs, batchMarker, t))
    Markers.commit(fs, done)
    // AUTO-COMPACTION (r14, the IVF extend discipline applied to the
    // lexical artifact): each extend leaves one file set per touched
    // bucket=/db= dir plus a doclens sliver — past the threshold the
    // policy rewrites in place (contents untouched, serves row-identical).
    // `autoCompact = false` opts out for operators who schedule the
    // rewrite in a quiesce window (the extendIvfIndex contract: the
    // triggered pass drops _DONE and swaps live dirs for its duration)
    if (autoCompact) ensureCompactedBm25Index(newDocs.sparkSession, indexPath)
  }

  /** Compact the BM25 index's tables IN PLACE — the small-file
    * maintenance pass an extend-grown lexical index needs (the
    * [[graft.operators.EmbeddingSearch.compactIvfIndex]] contract on
    * the postings artifact): contents untouched, hive partition layouts
    * (postings `bucket=`, fwd `db=`) PRESERVED so serve-time pruning and
    * extend both survive, doclens rewritten to one file. Crash contract
    * mirrors the IVF pass: requires a COMMITTED index, drops `_DONE`
    * first, recreates after all staged swaps — a crash mid-compact
    * reads as uncommitted (extend refuses; rebuild), never a
    * half-compacted mix.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    require(fs.exists(done),
      s"BM25 index at $indexPath is uncommitted (no _DONE) — a crashed " +
        "extend/compact cannot be blessed by compaction; rebuild with " +
        "buildBm25Index")
    Forget.requireNoCrashedForget(fs, indexPath)
    for (t <- Seq("postings", "doclens", "fwd"))
      require(fs.exists(new org.apache.hadoop.fs.Path(indexPath, s"$t/_SUCCESS")),
        s"BM25 index at $indexPath is missing the committed '$t' table — " +
          "rebuild with buildBm25Index before compacting")
    // pre-flight layout checks (the compactIvfIndex discipline: refuse
    // BEFORE mutating, so a committed index never goes uncommitted over
    // a diagnosable layout problem)
    val partitioned = for ((t, pk) <- Seq("postings" -> "bucket", "fwd" -> "db")) yield {
      val entries = fs.listStatus(new org.apache.hadoop.fs.Path(indexPath, t))
      val hasPartDirs = entries.exists(_.getPath.getName.startsWith(s"$pk="))
      val hasDataFiles = entries.exists(Tables.isDataFile)
      require(hasPartDirs || !hasDataFiles,
        s"BM25 table '$t' at $indexPath is FLAT (pre-partitioned layout) — " +
          "rebuild with buildBm25Index before compacting")
      (t, pk, hasPartDirs)
    }
    // a committed-but-EMPTY doclens (only _SUCCESS) has no readable
    // schema — an unconditional rewrite would fail AFTER _DONE dropped
    // and the partitioned swaps ran, leaving a committed index
    // uncommitted over a no-op (the compactIvfIndex empty-table
    // allowance, checked pre-flight like every other refusal)
    val doclensHasData = fs
      .listStatus(new org.apache.hadoop.fs.Path(indexPath, "doclens"))
      .exists(Tables.isDataFile)
    fs.delete(done, false)
    def swap(t: String)(write: org.apache.hadoop.fs.Path => Unit): Unit = {
      val live = new org.apache.hadoop.fs.Path(indexPath, t)
      val staged = new org.apache.hadoop.fs.Path(indexPath, s"${t}__compacting")
      fs.delete(staged, true)
      write(staged)
      fs.delete(new org.apache.hadoop.fs.Path(live, "_SUCCESS"), false)
      require(fs.delete(live, true),
        s"could not remove live $t table before the compaction swap")
      require(fs.rename(staged, live), s"compaction swap of $t failed")
    }
    for ((t, pk, hasPartDirs) <- partitioned if hasPartDirs)
      swap(t) { staged =>
        Tables.writeArtifact(Tables.artifactParquet(spark, s"$indexPath/$t").repartition(col(pk)),
          staged.toString, "overwrite", Seq(pk))
      }
    if (doclensHasData) swap("doclens") { staged =>
      Tables.writeArtifact(Tables.artifactParquet(spark, s"$indexPath/doclens").coalesce(1),
        staged.toString, "overwrite")
    }
    Markers.commit(fs, done)
  }

  /** Compact-if-fragmented — the idempotent policy form
    * ([[extendBm25Index]] calls it after every committed append): rewrite
    * IFF some partition dir (or the flat doclens dir) has accumulated
    * more than the shared threshold's file count. Metadata-only census
    * below the threshold. */
  def ensureCompactedBm25Index(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    def flatFiles(t: String): Int = {
      val p = new org.apache.hadoop.fs.Path(indexPath, t)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(Tables.isDataFile)
    }
    val worst = Seq(
      graft.operators.EmbeddingSearch.ivfMaxFilesPerDir(fs, indexPath, "postings"),
      graft.operators.EmbeddingSearch.ivfMaxFilesPerDir(fs, indexPath, "fwd"),
      flatFiles("doclens")).max
    if (worst > graft.operators.EmbeddingSearch.IvfCompactFileThreshold)
      compactBm25Index(spark, indexPath)
  }

  /** Build-if-missing wrapper over [[buildBm25Index]] — one tokenize pass
    * per (dataset) index dir, every lexical serve shares it (the
    * [[graft.operators.EmbeddingSearch.ensureKmeansIndex]] discipline).
    */
  def ensureBm25Index(spark: org.apache.spark.sql.SparkSession, dir: String,
      indexPath: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    // doclens (v2) and fwd (v3) joined the layout after the first release
    // of this index — a committed older dir must rebuild, not serve half
    // a layout
    val v2 = new org.apache.hadoop.fs.Path(indexPath, "doclens/_SUCCESS")
    val v3 = new org.apache.hadoop.fs.Path(indexPath, "fwd/_SUCCESS")
    if (!fs.exists(done) || !fs.exists(v2) || !fs.exists(v3))
      buildBm25Index(Tables.documents(spark, dir), indexPath)
  }

  /** The postings layout's term→bucket rule as a driver-side scalar twin
    * of `pmod(portableHash31(term), Bm25IndexBuckets)`: the same
    * [[graft.functions.expressions.TextPrimitives.hash31]] fold the
    * expression runs, and floorMod, never Scala's sign-preserving `%`. */
  private[graft] def termBucketOf(term: String): Int =
    java.lang.Math.floorMod(graft.functions.expressions.TextPrimitives.hash31(
      org.apache.spark.unsafe.types.UTF8String.fromString(term)),
      Bm25IndexBuckets.toLong).toInt

  /** One query text's terms on the driver — the scalar twin of
    * `explode(array_distinct(tokenize(text))) where term != ""`: the same
    * tokenizer kernel, distinct in first-seen order, empty tokens
    * dropped, and no terms for null text. */
  private[graft] def queryTermsOf(text: String): Seq[String] =
    if (text == null) Nil
    else graft.functions.expressions.TextPrimitives.tokenize(
      org.apache.spark.unsafe.types.UTF8String.fromString(text))
      .distinct.filter(_.nonEmpty).toSeq

  /** The narrow (doc_id, dl) table of a BM25 index, read with no Spark
    * job at construct time. */
  private def doclensOf(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    Tables.artifactPartitionedParquet(spark, s"$indexPath/doclens",
      Seq(s"$indexPath/doclens"))

  /** Corpus stats (N = docs, Σdl = total length) per BM25 index path,
    * memoized under the `_DONE` commit token ([[Markers.token]]): every
    * build, extend, compact and forget recommits `_DONE` with a fresh
    * token, so the value is valid exactly while the index is unchanged.
    * One aggregation job per commit instead of one per serve. The row
    * keeps the aggregate's own schema: (`__n` long, `__len_sum` long —
    * null on an empty index). */
  private val bm25StatsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, (org.apache.spark.sql.Row, org.apache.spark.sql.types.StructType))]()

  /** [[bm25StatsMemo]]'s value as the 1-row broadcast the scoring tail
    * cross-joins — a LocalRelation, so no job at construct or exec. */
  private def bm25Stats(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val token = Markers.token(fs, new org.apache.hadoop.fs.Path(indexPath, "_DONE"))
    val cached = bm25StatsMemo.get(indexPath)
    val (row, schema) =
      if (cached != null && cached._1 == token) cached._2
      else {
        val agg = doclensOf(spark, indexPath)
          .agg(count(lit(1)).as("__n"), sum(col("dl")).as("__len_sum"))
        val v = (agg.head(), agg.schema)
        bm25StatsMemo.put(indexPath, (token, v))
        v
      }
    broadcast(spark.createDataFrame(java.util.List.of(row), schema))
  }

  /** Serve [[bm25TopDocs]] from the PERSISTED index — FULLY PRUNED and
    * DRIVER-PLANNED: building the frame runs ONE Spark job on a warm
    * index, the collect of the query document's terms from its ONE fwd
    * bucket (`db=` dir, doc-id-hash pruning — the lexical twin of the
    * IVF idmap lookup). Everything else small is computed on the
    * driver: the terms' postings buckets ([[termBucketOf]]), which list
    * and read only those `bucket=` dirs; the terms themselves, passed to
    * the plan as a LocalRelation; and the corpus stats (N, Σdl) from the
    * per-commit [[bm25Stats]] memo (one job after each commit). The
    * candidates' dl comes from the narrow doclens table. So the serve's
    * footprint is 1 fwd bucket + the query terms' postings buckets +
    * doclens, never the index. df stays EXACT under pruning (a term's
    * rows all live in one bucket). Rows are identical to the historical
    * full-scan plan (df/dl/N/avgdl take the same values from the derived
    * tables — the build asserts they can never disagree), so the oracle
    * is unchanged. Refuses an uncommitted index (no `_DONE`): a
    * half-built or half-extended table set would silently rank against a
    * partial corpus.
    */
  def bm25TopDocsWithIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queryDocId: Long = 0L, k1: Double = 1.2,
      b: Double = 0.75, kTop: Int = 20): DataFrame = {
    import spark.implicits._
    val done = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    require(fs.exists(done),
      s"BM25 index at $indexPath is uncommitted (no _DONE) — build/extend first")
    val stats = bm25Stats(spark, indexPath)
    val terms = Tables.probedPartitionRead(spark, s"$indexPath/fwd", "db",
        Seq(fwdBucketOf(queryDocId)))
      .where(col("doc_id") === queryDocId)
      .select(col("term")).collect().map(_.getString(0)).distinct
    val tf = Tables.probedPartitionRead(spark, s"$indexPath/postings", "bucket",
      terms.map(termBucketOf).distinct.toSeq)
    bm25ScoreTail(tf, doclensOf(spark, indexPath), stats,
      Scale.maybeBroadcast(terms.toSeq.toDF("term")), queryDocId, k1, b, kTop)
  }

  /** INCREMENTAL lexical retrieval — [[Dedup.dedupIncremental]]'s shape
    * applied to the BM25 index: the first 4/5 of doc_ids play yesterday's
    * indexed corpus ([[buildBm25Index]]), the rest today's batch, APPENDED
    * without touching indexed postings ([[extendBm25Index]]); the query
    * then ranks over the union index. The `_READY` marker commits the
    * build+extend SEQUENCE: a crash between the two reads as not-ready
    * and the pair reruns from the overwrite build, so the serve can never
    * see the 4/5-only index as complete. Output = [[bm25TopDocs]] over
    * the full corpus (the oracle replays exactly that).
    */
  def bm25Incremental(spark: org.apache.spark.sql.SparkSession, dir: String,
      indexPath: String, kTop: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = docs.count() * 4 / 5
    val ready = new org.apache.hadoop.fs.Path(indexPath, "_READY")
    val fs = ready.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    val v2 = new org.apache.hadoop.fs.Path(indexPath, "doclens/_SUCCESS")
    val v3 = new org.apache.hadoop.fs.Path(indexPath, "fwd/_SUCCESS")
    if (!fs.exists(ready) || !fs.exists(v2) || !fs.exists(v3)) {
      // drop any STALE _READY before rebuilding (the layout-upgrade
      // branch can enter with one on disk): a crash between the build
      // and the extend must read as not-ready on the next run, or the
      // serve would rank the 4/5-only index as complete
      fs.delete(ready, false)
      buildBm25Index(docs.where(col("doc_id") < split), indexPath)
      extendBm25Index(indexPath, docs.where(col("doc_id") >= split))
      ArtifactFs.writeFile(fs, ready, Array.empty)
    }
    bm25TopDocsWithIndex(spark, indexPath, kTop = kTop)
  }

  /** HYBRID retrieval — the standard RAG serving shape: fuse the LEXICAL
    * ranking ([[bm25TopDocs]] — the reference pipeline's own query
    * capability under BM25) with the SEMANTIC ranking (exact cosine
    * top-k over the embedding twin of the same corpus; swap in any ANN
    * searcher at scale — the fusion consumes only (id, rank)) via
    * Reciprocal Rank Fusion (Cormack et al. SIGIR'09):
    * rrf(d) = Σ_lists 1/(rrfK + rank_list(d)), the rank-only combiner
    * that needs no score calibration between BM25's unbounded scores and
    * cosine's [−1, 1]. Candidates are the UNION of both top-`kEach`
    * lists (full outer join on the shared id space — documents and
    * embeddings are id-aligned twins in this corpus family); a doc
    * missing from one list contributes nothing for it — the standard RRF
    * convention. Everything after the two retrievals is integer-rank
    * arithmetic: 1.0/(rrfK+rank) is the same IEEE division of the same
    * integers in both engines, summed lexical-then-semantic, one
    * round(6) — fully hash-gated. Cost at scale: the two retrievals
    * (each already scale-shaped) plus a 2·kEach-row fusion — the fusion
    * itself is free. Output: (doc_id, lex_rank, sem_rank, rrf, rank).
    */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame, queryId: Long = 0L,
      kEach: Int = 20, kTop: Int = 10, rrfK: Int = 60): DataFrame =
    rrfFuse(lexRanks(bm25TopDocs(docs, queryId, kTop = kEach)),
      semRanks(embeddings.select(col("vec_id"), transform(col("embedding"),
        _.cast("double")).as("v")), queryId, kEach), kTop, rrfK)

  /** The hybrid serve's flat↔probed crossover (r14, the r13 verdict's
    * item 4 — the count-gated auto discipline on the RAG serve): below
    * it the exact flat semantic scan is both full-recall and the FASTER
    * measured plan; at or past it the flat scan is the serve's linear
    * term (a 100 TB deployment reading the whole vector table per
    * query) and the partition-pruned nprobe tier is the honest plan,
    * with its fused-rank recall measured (`text_hybrid_probed_recall`,
    * 0.83–0.93 across the curve). POSITIONED BY MEASUREMENT, not
    * borrowed from the vector family's 4096: the flat tier stays
    * cheaper across the whole measured curve (back-to-back min-of-2:
    * flat 2.22 vs probed 2.65 s at x1 = 2k vectors, 3.23 vs 3.42 s at
    * x16 = 32k — the probed tier's fixed probe/pruning constants buy
    * nothing until the flat scan's linear term outgrows them), and the
    * flat-vs-probed delta closes ~0.24 s per 30k vectors: the wall
    * inversion extrapolates to ≈55–65k vectors at the measured slope.
    * 65536 keeps the default on the measured-fastest plan everywhere and
    * still bounds the 100 TB deployment's footprint; the probed tier
    * keeps its explicit always-on entry (`text_hybrid_serve_probed`)
    * and its own hash gate, so both arms stay oracle-checked at every
    * scale.
    */
  val HybridProbeCrossoverDefault: Long = 65536

  /** TEST-ONLY override of [[hybridProbeCrossover]] (r15, ADVICE r14 —
    * the mipsCellsCrossoverOverride discipline): lets specs and a local
    * Verify run (`GRAFT_XOVER_HYBRID`) exercise the probed at-scale arm
    * and the exact boundary against the real count-gated oracle, which
    * re-reads this value. Never set in production. */
  @volatile private[graft] var hybridProbeCrossoverOverride: Option[Long] =
    sys.env.get("GRAFT_XOVER_HYBRID").map(_.toLong)

  def hybridProbeCrossover: Long =
    hybridProbeCrossoverOverride.getOrElse(HybridProbeCrossoverDefault)

  /** The DATA-DERIVED hybrid serve default: count(*) of the vector
    * corpus below [[hybridProbeCrossover]] serves the exact flat
    * semantic tier (nprobe = 0 — output ≡ [[hybridTopK]]), at or past
    * it the partition-pruned probed tier (`nprobe`). One
    * parquet-metadata count picks the branch; the probed tier keeps its
    * explicit entry (`text_hybrid_serve_probed`) and the oracle mirrors
    * the branch as a count-gated UNION ALL of the two replays (the
    * knnJoinAuto discipline).
    */
  def hybridTopKServedAuto(spark: org.apache.spark.sql.SparkSession,
      dir: String, bm25IndexPath: String, ivfIndexPath: String,
      nprobe: Int = 2): DataFrame = {
    // gate count memoized per dataset fingerprint (r15)
    val n = Tables.embeddingsCount(spark, dir)
    hybridTopKServed(spark, bm25IndexPath, ivfIndexPath,
      nprobe = if (n < hybridProbeCrossover) 0 else nprobe)
  }

  /** [[hybridTopK]] SERVED FROM ARTIFACTS ONLY — the production RAG query
    * path: the lexical side ranks from the persisted BM25 postings
    * ([[buildBm25Index]]; the fully-pruned [[bm25TopDocsWithIndex]] plan,
    * zero corpus re-tokenization), the semantic side scores the vectors
    * the persisted IVF index already stores ([[graft.operators
    * .EmbeddingSearch.buildIvfIndex]] `ivf` table). Neither base table is
    * touched: the query document's terms and vector both come OUT of the
    * indexes. `nprobe <= 0` (default): a flat exact scan — the
    * full-recall tier, output ≡ [[hybridTopK]], so the entry shares its
    * oracle verbatim. `nprobe > 0`: the SCALE tier — the query's vector
    * resolves through the id-hash-bucketed `idmap` (one narrow bucket →
    * its cell → one cell directory), then the query probes its nprobe
    * nearest trained cells (round(cosine,6) desc, lowest-cl ties — the
    * kmeansAssign discipline) and the cell-partitioned `ivf` table is
    * PARTITION-PRUNED to them at plan time — the semantic footprint is
    * one idmap bucket + (1+nprobe) cells of bytes, never the corpus; the
    * recall trade is the standard IVF one, measured by the fused-rank
    * recall entry (`text_hybrid_probed_recall`), and the probed serve
    * carries its own oracle (the trained-quantizer Lloyd replay +
    * probed-cell cosine).
    */
  def hybridTopKServed(spark: org.apache.spark.sql.SparkSession,
      bm25IndexPath: String, ivfIndexPath: String, queryId: Long = 0L,
      kEach: Int = 20, kTop: Int = 10, rrfK: Int = 60,
      nprobe: Int = 0): DataFrame = {
    val vecsAll = graft.sources.Tables.artifactParquet(spark, s"$ivfIndexPath/ivf")
    val lex = lexRanks(bm25TopDocsWithIndex(spark, bm25IndexPath, queryId,
      kTop = kEach))
    val sem =
      if (nprobe <= 0) semRanks(vecsAll.select(col("vec_id"), col("v")), queryId, kEach)
      else {
        import graft.functions.TopKByScoreAggregator.topKByScore
        val cent = graft.sources.Tables.artifactParquet(spark, s"$ivfIndexPath/cent")
        // the query vector via TWO pruned 1-row lookups (the
        // limit(1)-argmax collect class): the id-hash-bucketed idmap
        // resolves the query's trained cell (one of 64 narrow
        // directories), then the cl-partitioned vector table is read at
        // exactly that cell — so the serve's vector-table footprint is
        // 1 idmap bucket + 1 cell + the nprobe probed cells, and NOTHING
        // scans corpus-wide (the forget rewrite preserves both partition
        // layouts, so this pruning survives forget passes)
        val qClRows = graft.sources.Tables.artifactParquet(spark, s"$ivfIndexPath/idmap")
          .where(col("ib") === lit(EmbeddingSearch.idmapBucketOf(queryId)) &&
            col("vec_id") === queryId)
          .select(col("cl").cast("int")).take(1)
        val qvRows =
          if (qClRows.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else vecsAll.where(col("cl") === qClRows(0).getInt(0) &&
              col("vec_id") === queryId)
            .select(col("v")).take(1)
        if (qvRows.isEmpty)
          // the query vector is not in the index (e.g. forgotten): no
          // cells to probe — the fusion degrades to lexical-only, the
          // same shape an empty semantic list produces on the exact path
          semRanks(vecsAll.where(lit(false)).select(col("vec_id"), col("v")),
            queryId, kEach)
        else {
          val qv = typedLit(qvRows(0).getSeq[Double](0))
          // the probed cells: a driver list bounded by the quantizer's k
          // (metadata-scale by construction), turned into PLAN-time
          // partition pruning on the cl-partitioned ivf directory layout
          val cells = cent
            .select(col("cl").cast("long").as("cl_l"),
              round(EmbeddingSearch.cosine(qv, col("cv")), 6).as("csim"))
            .agg(topKByScore(nprobe)(col("csim"), col("cl_l")).as("top"))
            .select(explode(col("top")).as("t"))
            .select(col("t._2").cast("int").as("cl"))
            .collect().map(_.getInt(0)).toIndexedSeq
          semRanksFor(vecsAll.where(col("cl").isin(cells: _*))
            .select(col("vec_id"), col("v")), queryId, qv, kEach)
        }
      }
    rrfFuse(lex, sem, kTop, rrfK)
  }

  /** Lexical rank list from a BM25 top-k frame: (id, lex_rank). */
  private def lexRanks(bm25Top: DataFrame): DataFrame =
    bm25Top.withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id").as("id"), col("lex_rank"))

  /** Semantic rank list for ONE query vector drawn from the corpus frame
    * itself: exact cosine top-`kEach`, (id, sem_rank). The distributed
    * TakeOrdered pulls the kEach survivors; the rank window then runs
    * over kEach rows, never the corpus-wide score stream.
    */
  private def semRanks(emb: DataFrame, queryId: Long, kEach: Int): DataFrame = {
    val q = broadcast(emb.where(col("vec_id") === queryId).select(col("v").as("qv")))
    semTopRanks(emb.crossJoin(q).where(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        round(EmbeddingSearch.cosine(col("v"), col("qv")), 6).as("cosine")), kEach)
  }

  /** [[semRanks]] with the query vector supplied as a LITERAL (the probed
    * serve's driver-fetched row) — the candidate frame is scanned once,
    * with no in-DAG self-lookup of the query row.
    */
  private def semRanksFor(emb: DataFrame, queryId: Long, qv: Column,
      kEach: Int): DataFrame =
    semTopRanks(emb.where(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        round(EmbeddingSearch.cosine(col("v"), qv), 6).as("cosine")), kEach)

  private def semTopRanks(scored: DataFrame, kEach: Int): DataFrame =
    scored.orderBy(col("cosine").desc, col("vec_id").asc).limit(kEach)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("id"), col("sem_rank"))

  /** Reciprocal Rank Fusion of two (id, *_rank) lists (Cormack et al.
    * SIGIR'09): candidates = the union (full outer join), a doc missing
    * from one list contributes nothing for it, one round(6) on the
    * integer-rank-derived sum keeps the result hash-gated. The fusion
    * runs over ≤ 2·kEach rows — free at any corpus scale.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, kTop: Int,
      rrfK: Int): DataFrame =
    lex.join(sem, Seq("id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")).cast("double"), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("id").asc)).cast("long"))
      .where(col("rank") <= kTop)
      .select(col("id").as("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf"), col("rank"))

  /** MULTI-QUERY hybrid serve over EXTERNAL query texts+vectors — the
    * micro-batch kernel of the streaming RAG tier (run per micro-batch
    * through [[graft.streaming.StreamingOps.eachBatch]]): a batch of
    * (query_id, text, embedding) rows is ranked against the persisted
    * postings (lexical; query terms tokenized from the BATCH text, so
    * per-batch cost scales with batch vocabulary) and the persisted IVF
    * vector table (semantic; exact cosine), fused per query with RRF.
    * External queries are not corpus members, so there is no
    * self-exclusion. Per-query top-k on BOTH sides is the bounded
    * [[graft.functions.TopKByScoreAggregator]] — a stopword-heavy query
    * matches a corpus-sized candidate stream, and a window over
    * (query_id) partitions would sort corpus-scale groups on a handful
    * of tasks (the exact trap the aggregator exists to avoid); per-doc
    * lexical rollups fold term-sorted (the house float discipline), so
    * serve output is bit-stable across batchings and restarts (the
    * batch-identity + restart specs pin this).
    *
    * Scale shape: the lexical scan is PARTITION-PRUNED to the batch
    * terms' hash buckets (≤ [[Bm25IndexBuckets]] directories; corpus
    * stats come from the per-commit [[bm25Stats]] memo, candidate
    * lengths from the narrow doclens table), and with `nprobe > 0` the
    * semantic scan is pruned to the probed cells of the cell-partitioned
    * IVF table — so per-batch cost is batch-vocabulary buckets + probed
    * cells + doclens, never the full index pair.
    *
    * DRIVER-PLANNED: a batch of up to
    * [[EmbeddingSearch.driverBatch]]'s cap comes to the driver (no job
    * for a LocalRelation batch, else one bounded collect), and the small
    * values the plan needs are computed there with bit-identical scalar
    * twins: the query terms ([[queryTermsOf]]) and their buckets
    * ([[termBucketOf]]), and each query's probed cells
    * ([[EmbeddingSearch.probedPairsLocal]] over the memoized quantizer).
    * Terms, (query_id, cl) pairs and the rehydrated batch enter the plan
    * as LocalRelations, so a LocalRelation batch on a warm index builds
    * its frame with NO Spark job. A larger batch, or one with a null
    * vector, keeps the in-plan path: in-plan terms and probe plus two
    * collects of the prune lists, each bounded by the layout constants
    * (64 buckets / quantizer k). Both paths return the same rows. Output:
    * (query_id, doc_id, lex_rank, sem_rank, rrf, rank).
    */
  def hybridServeBatch(queries: DataFrame, bm25IndexPath: String,
      ivfIndexPath: String, kEach: Int = 20, kTop: Int = 10, rrfK: Int = 60,
      k1: Double = 1.2, b: Double = 0.75, nprobe: Int = 0): DataFrame = {
    import graft.functions.TopKByScoreAggregator.topKByScore
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = queries.sparkSession
    val batch = queries.select(col("query_id"), col("text"), col("embedding"))
    val local = EmbeddingSearch.driverBatch(batch, 2)
    val q = local.fold(batch) { case (rows, _) => EmbeddingSearch.rehydrate(batch, rows) }
    val qid = batch.schema("query_id")
    val lens = doclensOf(spark, bm25IndexPath)
    val stats = bm25Stats(spark, bm25IndexPath)
    // the batch's (query_id, term) rows and their term-hash buckets: a
    // bucket list bounded by Bm25IndexBuckets (64 ints) that becomes
    // PLAN-time partition pruning — the serve's postings footprint is the
    // query buckets' directories, not the index; a term's rows all live
    // in one bucket, so per-term df/tf stay exact under the pruned scan
    val (qTermsRaw, buckets) = local match {
      case Some((rows, _)) =>
        val pairs = rows.toSeq.flatMap(r =>
          queryTermsOf(r.getString(1)).map(t => Row(r.get(0), t)))
        (spark.createDataFrame(pairs.asJava,
            StructType(Seq(qid, StructField("term", StringType, nullable = false)))),
          pairs.map(p => termBucketOf(p.getString(1))).distinct)
      case None =>
        val t = q.select(col("query_id"),
            explode(array_distinct(tokenize(col("text")))).as("term"))
          .where(col("term") =!= "")
        (t, t.select(pmod(portableHash31(col("term")),
            lit(Bm25IndexBuckets)).cast("int").as("bucket"))
          .distinct().collect().map(_.getInt(0)).toSeq)
    }
    // batch-derived sides are size-gated broadcasts: a batch is
    // structurally small next to the index, but nothing enforces it
    val qTerms = Scale.maybeBroadcast(qTermsRaw)
    val tf = Tables.probedPartitionRead(spark, s"$bm25IndexPath/postings", "bucket", buckets)
    val dfT = tf.join(qTerms.select(col("term")).distinct(), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf.join(qTerms, Seq("term"))
      .join(Scale.maybeBroadcast(dfT), "term")
      .join(lens, "doc_id").crossJoin(stats)
      .withColumn("avgdl",
        col("__len_sum").cast("double") / col("__n").cast("double"))
      .withColumn("idf", log(
        (col("__n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("tscore",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    val lexScores = perTerm
      .groupBy(col("query_id"), col("doc_id"))
      .agg(array_sort(collect_list(struct(col("term"), col("tscore")))).as("ts"))
      .withColumn("score", round(
        aggregate(col("ts"), lit(0.0), (acc, x) => acc + x.getField("tscore")), 6))
    val lex = lexScores.groupBy(col("query_id"))
      .agg(topKByScore(kEach)(col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), col("t._2").as("id"),
        (col("i") + 1).cast("long").as("lex_rank"))
    val qVecs = Scale.maybeBroadcast(q.select(col("query_id"),
      transform(col("embedding"), _.cast("double")).as("qv")))
    // nprobe <= 0: exact flat scan (full recall — the oracle-shaped tier).
    // nprobe > 0: each query probes its nprobe nearest trained cells
    // (round(cosine,6) desc, lowest-cl ties — the kmeansAssign
    // discipline) and scores ONLY their vectors; the probed-cell union
    // (bounded by the quantizer's k) lists and reads only those cl= dirs.
    // The recall trade is the standard IVF one; nprobe >= k is
    // row-identical to the exact scan (spec-pinned).
    val semCands =
      if (nprobe <= 0)
        Tables.artifactParquet(spark, s"$ivfIndexPath/ivf")
          .select(col("vec_id"), col("v")).crossJoin(qVecs)
      else {
        val (probePairs, cells) = local match {
          case Some((rows, vs)) =>
            val pairs = EmbeddingSearch.probedPairsLocal(rows.toSeq.map(_.get(0)).zip(vs),
              EmbeddingSearch.cachedCentRows(spark, ivfIndexPath), nprobe)
            (spark.createDataFrame(pairs.map { case (id, cl) => Row(id, cl) }.asJava,
                StructType(Seq(qid, StructField("cl", IntegerType, nullable = false)))),
              pairs.map(_._2).distinct)
          case None =>
            val p = qVecs.crossJoin(broadcast(EmbeddingSearch.cachedCentDf(spark, ivfIndexPath)))
              .select(col("query_id"), col("cl").cast("long").as("cl_l"),
                round(EmbeddingSearch.cosine(col("qv"), col("cv")), 6).as("csim"))
              .groupBy(col("query_id"))
              .agg(topKByScore(nprobe)(col("csim"), col("cl_l")).as("top"))
              .select(col("query_id"), explode(col("top")).as("t"))
              .select(col("query_id"), col("t._2").cast("int").as("cl"))
            (p, p.select(col("cl")).distinct().collect().map(_.getInt(0)).toSeq)
        }
        Tables.probedPartitionRead(spark, s"$ivfIndexPath/ivf", "cl", cells)
          .select(col("cl"), col("vec_id"), col("v"))
          .join(Scale.maybeBroadcast(probePairs), Seq("cl"))
          .join(qVecs, Seq("query_id"))
          .select(col("query_id"), col("vec_id"), col("v"), col("qv"))
      }
    val sem = semCands
      .select(col("query_id"), col("vec_id"),
        round(EmbeddingSearch.cosine(col("v"), col("qv")), 6).as("cosine"))
      .groupBy(col("query_id"))
      .agg(topKByScore(kEach)(col("cosine"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), col("t._2").as("id"),
        (col("i") + 1).cast("long").as("sem_rank"))
    lex.join(sem, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")).cast("double"), lit(0.0)), 6))
      // fused candidate sets are ≤ 2·kEach rows per query — the window is
      // legitimately tiny here
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("id").asc)).cast("long"))
      .where(col("rank") <= kTop)
      .select(col("query_id"), col("id").as("doc_id"), col("lex_rank"),
        col("sem_rank"), col("rrf"), col("rank"))
  }

  /** The corpus-drawn external query set for the hybrid-retrieval batch
    * entries: the first `nQueries` documents' (query_id, text, embedding)
    * rows, in the [[hybridServeBatch]] external-query shape (copies of
    * corpus members, so no self-exclusion — the doc itself legitimately
    * ranks #1 for its own text, the standard known-item check).
    */
  def hybridQuerySet(spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id").as("query_id"), col("text"))
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("query_id"), col("embedding")), Seq("query_id"))
      .where(col("query_id") < nQueries)

  /** FUSED-RANK recall of the probed hybrid serve vs the exact one — the
    * measurement that justifies (or vetoes) any `nprobe` default before
    * it ships (the r9 lesson: an unmeasured approximation knob halved
    * recall and only the ground-truth entry caught it). Both sides run
    * the SAME batch kernel over the same probe query set; the only
    * difference is the semantic tier (probed cells vs flat scan), so the
    * recall measured here is exactly what the knob costs the FUSED
    * ranking — lexical rank shifts ripple through RRF, so this is NOT
    * just semantic-list recall. The exact arm is memoized per (dataset,
    * index pair, nQueries) through
    * [[graft.operators.EmbeddingSearch.memoizedPairs]] (r14: it re-ran
    * both retrieval stacks end-to-end every invocation — the r13
    * verdict's #2 steady cost center). Output per query:
    * (query_id, n_exact, n_hit, recall), the
    * [[graft.operators.EmbeddingSearch.knnJoinRecall]] shape.
    */
  def hybridProbedRecall(spark: org.apache.spark.sql.SparkSession, dir: String,
      bm25IndexPath: String, ivfIndexPath: String, nQueries: Int = 20,
      nprobe: Int = 2): DataFrame = {
    val queries = hybridQuerySet(spark, dir, nQueries)
    // the validator covers BOTH what the queries derive from (the two
    // dataset fingerprints) and what the cached exact arm actually
    // reads (the two INDEX commit states — an index extended at the
    // same path without touching the source parquet must invalidate,
    // or the recall would silently measure pre-extend ground truth)
    def doneToken(p: String): String = {
      val done = new org.apache.hadoop.fs.Path(p, "_DONE")
      val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
      graft.operators.Markers.token(fs, done)
    }
    val fp = java.lang.Long.toHexString(
        Tables.datasetFingerprint(s"$dir/documents.parquet")) + "_" +
      java.lang.Long.toHexString(
        Tables.datasetFingerprint(s"$dir/embeddings.parquet")) + "_" +
      doneToken(bm25IndexPath) + "_" + doneToken(ivfIndexPath)
    def served(np: Int): DataFrame =
      hybridServeBatch(queries, bm25IndexPath, ivfIndexPath, nprobe = np)
        .select(col("query_id"), col("doc_id").as("vec_id"))
    val exact = EmbeddingSearch.memoizedPairs(spark,
      ("hybrid", dir, bm25IndexPath, ivfIndexPath, nQueries), fp)(served(0))
    EmbeddingSearch.recallOf(exact, served(nprobe))
  }

  /** Consecutive global TRAINING positions 0..N−1 in the epoch-0 shuffle
    * order ([[epochShuffle]]'s key), assigned WITHOUT the single-partition
    * window a bare `row_number() OVER (ORDER BY …)` plans — Spark executes
    * that as ONE task holding the whole corpus, the classic 100 TB trap.
    * Two-phase instead: bucket on the order key, rank within buckets
    * (parallel windows), then add per-bucket offsets from a #buckets-row
    * count table whose running sum is the one legitimately tiny
    * single-partition window (metadata-scale). The bucket id is computed
    * DETERMINISTICALLY from the row itself — `pid = ⌊key·NP/P⌋`, a
    * monotone equal-width split of the scramble key's uniform [0, P)
    * codomain — NOT from `repartitionByRange` + `spark_partition_id()`:
    * range boundaries come from nondeterministic sampling, so the rank
    * branch and the count branch (two consumers of the same frame) would
    * only agree on pid when Spark happens to reuse the exchange between
    * them — a silent 0..N−1 corruption the moment reuse is defeated.
    * Value-derived buckets make both branches consistent on ANY physical
    * plan, and partition-invariance holds by construction (InvarianceSpec
    * pins it). Balance comes from the scramble's uniformity — the same
    * argument that makes the epoch shuffle unbiased. Output:
    * (doc_id, order_key, seq).
    */
  def assignGlobalIds(docs: DataFrame): DataFrame = {
    val nBuckets = docs.sparkSession.sessionState.conf.numShufflePartitions.toLong
    val keyed = docs.select(col("doc_id"),
      portableScramble(concat(col("doc_id").cast("string"), lit(":0"))).as("order_key"))
      // monotone in order_key: every key in bucket k sorts before every key
      // in bucket k+1, so per-bucket rank + preceding-bucket counts IS the
      // global row_number. Exact long arithmetic (div, not the
      // double-returning /); key·NP stays far from overflow (key < 2³¹).
      .withColumn("pid",
        expr(s"order_key * $nBuckets div ${graft.functions.HashFunctions.P}"))
    val local = Window.partitionBy(col("pid")).orderBy(col("order_key"), col("doc_id"))
    val ranked = keyed.withColumn("lrk", row_number().over(local).cast("long"))
    val offsets = keyed.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .withColumn("offset",
        coalesce(sum(col("c")).over(
          Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    ranked.join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("order_key"), (col("lrk") - 1L + col("offset")).as("seq"))
  }

  // ———— trained quality classifier (hashed-feature logistic regression) ————

  /** Per-doc dense feature vector for the trained classifier: `dims`
    * hash-bucket token FREQUENCIES (j = portableHash31(token) mod dims —
    * the hashing trick, so the feature space is fixed-width at any
    * vocabulary size) plus a constant bias 1.0 as the last element. All
    * ratios are exact IEEE divisions of the same integers in both engines.
    * Empty docs keep an all-zero frequency block (bias only). Label y =
    * 1.0 for English — the production shape is "reference corpus vs rest"
    * (the GPT-3/CCNet quality-filter discipline); lang is the label the
    * driver tables carry.
    */
  private def classifierFeatures(docs: DataFrame, dims: Int): DataFrame = {
    val labeled = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val cnt = docs
      .select(col("doc_id"), explode(tokenize(col("text"))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("doc_id"), pmod(portableHash31(col("t")), lit(dims)).cast("int").as("j"))
      .agg(count(lit(1)).as("c"))
    val dense = cnt.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("c")))).as("m"),
        sum(col("c")).cast("long").as("ntok"))
    labeled.join(dense, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        concat(
          transform(sequence(lit(0), lit(dims - 1)), j =>
            when(col("ntok").isNull || col("ntok") === 0L, lit(0.0))
              .otherwise(coalesce(element_at(col("m"), j.cast("int")), lit(0L))
                .cast("double") / col("ntok").cast("double"))),
          array(lit(1.0))).as("x"))
  }

  /** Train the hashed-feature logistic-regression quality classifier for
    * `iters` full-batch GD rounds from zero weights and return the final
    * weight vector — the idiomatic Spark iterative-ML loop (the same shape
    * as [[trainKmeansIndex]] and Spark MLlib's own GD): features are built
    * ONCE and persisted, each round is one scan of the cached frame with
    * the current weights inlined as literals, the dims+1 decimal gradient
    * sums come back to the driver (17 values — metadata-scale), and the
    * cache is released when training ends. At 100 TB this is exactly how
    * production quality filters (fastText-style linear models over hashed
    * n-grams) train: cache-once, k cheap passes.
    *
    * Engine-portable by construction: z = Σⱼ wⱼxⱼ in FIXED ascending-j
    * fold order; the link is the rational sigmoid σ̃(z) = 0.5+0.5·z/(1+|z|)
    * — every operation (add, abs, divide) is IEEE-exact, unlike exp-based
    * σ whose libm rounding differs across engines; per-row gradient
    * contributions round(xⱼ·(σ̃(z)−y), 6) are decimal-summed
    * (order-independent), and the update divides by the doc count and
    * scales by η=4.0 (a power of two — exact). The whole training
    * therefore REPLAYS bit-identically in the DuckDB oracle — the model,
    * not just its outputs, sits under the hash gate — and is
    * partition-invariant (InvarianceSpec pins 4 vs 7).
    *
    * Width limit (the BPE replace-chain's sibling, measured at dims=256
    * on the scale curve): the per-round weight vector is inlined as a
    * dims+1-literal array — one plan node per weight — so the mechanism
    * is comfortable at fastText-like hundreds-to-low-thousands of hashed
    * dims but would need a broadcast-relation weight table (the
    * [[scoreWithClassifier]] serve shape) inside the training loop before
    * reaching embedding-width models; the gradient traffic itself is
    * already O(dims) rows/round regardless.
    */
  private[graft] def trainClassifier(docs: DataFrame, dims: Int, iters: Int,
      eta: Double): Array[Double] = {
    require(dims >= 1 && iters >= 1, "dims and iters must be positive")
    classifierTrainings.incrementAndGet()
    val feat = classifierFeatures(docs, dims)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = feat.count() // materializes the cache; one row per doc
      var w = Array.fill(dims + 1)(0.0)
      for (_ <- 1 to iters) {
        val wArr = array(w.toIndexedSeq.map(lit): _*)
        val grads = feat
          .withColumn("z", aggregate(sequence(lit(0), lit(dims)), lit(0.0),
            (acc, j) => acc + element_at(wArr, (j + 1).cast("int"))
              * element_at(col("x"), (j + 1).cast("int"))))
          .withColumn("d",
            lit(0.5) + lit(0.5) * col("z") / (lit(1.0) + abs(col("z"))) - col("y"))
          .select(posexplode(transform(col("x"),
            x => round(x * col("d"), 6).cast("decimal(18,6)"))))
          .groupBy(col("pos")).agg(sum(col("col")).as("gj"))
          .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
        w = w.indices.map(j =>
          w(j) - eta * (grads(j).doubleValue() / n.toDouble)).toArray
      }
      w
    } finally { feat.unpersist(); () }
  }

  /** The trained weight vector as (j, weight) rows — dims frequency
    * weights + the bias at j = dims (see [[trainClassifier]] for the
    * training discipline and the portability argument).
    */
  def qualityClassifierWeights(docs: DataFrame, dims: Int = 16, iters: Int = 3,
      eta: Double = 4.0): DataFrame =
    classifierWeightsDf(docs.sparkSession, trainClassifier(docs, dims, iters, eta))

  /** A trained weight array as the (j, weight) table every serve path
    * consumes — the one copy of the rows-from-array shape, so a memoized
    * training (SparkEntry's train-once discipline) builds the identical
    * frame a fresh training would. */
  def classifierWeightsDf(spark: org.apache.spark.sql.SparkSession,
      w: Array[Double]): DataFrame = {
    import spark.implicits._
    w.toIndexedSeq.zipWithIndex.map { case (wt, j) => (j.toLong, wt) }
      .toDF("j", "weight")
  }

  /** Trainings performed (test observability — the persisted-model spec
    * asserts the serve path performs ZERO of them, same discipline as
    * `kmeansTrainings`). */
  val classifierTrainings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-doc scores from an EXPLICIT weight table (j, weight) — the serve
    * half of train-once/serve-many: one linear scan against the broadcast
    * weight row, no training shuffles. Output: (doc_id, score, predicted).
    */
  def scoreWithClassifier(docs: DataFrame, weights: DataFrame, dims: Int = 16): DataFrame = {
    val wArr = weights.groupBy().agg(
      transform(array_sort(collect_list(struct(col("j"), col("weight")))),
        s => s.getField("weight")).as("w"))
    classifierFeatures(docs, dims).crossJoin(broadcast(wArr))
      .withColumn("z", aggregate(sequence(lit(0), lit(dims)), lit(0.0),
        (acc, j) => acc + element_at(col("w"), (j + 1).cast("int"))
          * element_at(col("x"), (j + 1).cast("int"))))
      .select(col("doc_id"), round(col("z"), 6).as("score"),
        (col("z") >= 0.0).cast("long").as("predicted"))
  }

  /** SPARSE features for the wide-model paths: one (doc_id, j, x) row per
    * NONZERO hash bucket — never a dims-sized dense array, so the shape
    * holds at fastText-honest widths (100k+ hashed dims) where
    * [[classifierFeatures]]'s per-doc dense vector would be ~1 MB/doc.
    * Per-doc row count is bounded by min(doc tokens, dims) regardless of
    * model width. The x values are the SAME exact IEEE divisions the
    * dense path computes (c/ntok of identical integers). Empty docs have
    * no rows here — the wide paths re-attach them from the docs frame
    * (bias-only, matching the dense path's all-zero frequency block).
    * The final explode happens after a groupBy(doc_id), so the frame
    * arrives doc_id-partitioned — downstream per-doc aggregations reuse
    * that exchange.
    */
  private def classifierFeaturesSparse(docs: DataFrame, dims: Int): DataFrame =
    docs.select(col("doc_id"), explode(tokenize(col("text"))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("doc_id"), pmod(portableHash31(col("t")), lit(dims)).cast("int").as("j"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("j"), col("c"))).as("jc"),
        sum(col("c")).cast("long").as("ntok"))
      .select(col("doc_id"), col("ntok"), explode(col("jc")).as("e"))
      .select(col("doc_id"), col("e.j").as("j"),
        (col("e.c").cast("double") / col("ntok").cast("double")).as("x"))

  /** Per-doc Σⱼ wⱼxⱼ over the sparse features against a WEIGHT TABLE —
    * the join-based z that replaces the dense fold past expression-tree
    * widths. Bit-identical to the dense ascending-j fold: terms are
    * summed in ascending-j order (sort_array on (j, term) structs; j is
    * unique per doc) and the skipped x=0 terms contribute exact IEEE
    * zeros the dense fold adds without effect (cancellation yields +0.0
    * under round-to-nearest, so the accumulator is never -0.0 and
    * `a + ±0.0 ≡ a` throughout). The weight table is size-gated — at
    * 65k dims it broadcasts (~1 MB) and the per-doc aggregation reuses
    * the features' doc_id partitioning; a table past the gate
    * shuffle-joins on j and the result re-exchanges, still never
    * materializing a dense vector.
    */
  private def sparseZ(sparse: DataFrame, weights: DataFrame, dims: Int): DataFrame =
    sparse.join(Scale.maybeBroadcast(weights.where(col("j") < dims)), Seq("j"))
      .groupBy(col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("j"), (col("weight") * col("x")).as("term")))),
        lit(0.0), (acc, s) => acc + s.getField("term")).as("zf"))

  /** [[scoreWithClassifier]] at PRODUCTION MODEL WIDTH: the weight table
    * is joined, never inlined or densified, so the serve works at 100k+
    * hashed dims where the literal path's dims-sized arrays (one plan
    * node per weight on the train side, a dense ~1 MB vector per doc on
    * the feature side) stop being sane. Row-identical to
    * [[scoreWithClassifier]] at any width (spec-pinned at dims=16 and
    * 256) — the wide path changes mechanism, never results.
    */
  def scoreWithClassifierWide(docs: DataFrame, weights: DataFrame,
      dims: Int = 16): DataFrame = {
    val zf = sparseZ(classifierFeaturesSparse(docs, dims), weights, dims)
    val bias = weights.where(col("j") === lit(dims)).select(col("weight").as("wb"))
    docs.select(col("doc_id")).join(zf, Seq("doc_id"), "left")
      .crossJoin(broadcast(bias)) // exactly one row — the bias weight
      .withColumn("z", coalesce(col("zf"), lit(0.0)) + col("wb"))
      .select(col("doc_id"), round(col("z"), 6).as("score"),
        (col("z") >= 0.0).cast("long").as("predicted"))
  }

  /** [[trainClassifier]] at PRODUCTION MODEL WIDTH: same full-batch GD,
    * same exact arithmetic (spec-pinned bit-identical weights at dims=16
    * and 256), but the per-round weight vector reaches the executors as
    * a size-gated TABLE (created from the driver array — dims+1 rows,
    * metadata-scale at any realistic width) instead of a dims+1-literal
    * expression array, and features stay sparse end-to-end. Per-round
    * cost: one broadcast join + one per-doc aggregation + one gradient
    * aggregation over nonzero (doc, j) pairs — O(corpus tokens + dims)
    * rows, no plan whose SIZE grows with the model. Gradient sums skip
    * x=0 contributions, which round to exact decimal zero in the dense
    * path — sums identical. The bias gradient (x ≡ 1.0) aggregates from
    * the per-doc d frame directly.
    */
  private[graft] def trainClassifierWide(docs: DataFrame, dims: Int, iters: Int,
      eta: Double): Array[Double] = {
    require(dims >= 1 && iters >= 1, "dims and iters must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    classifierTrainings.incrementAndGet()
    val sparse = classifierFeaturesSparse(docs, dims)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labeled = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    try {
      sparse.count() // materialize the feature cache once
      val n = labeled.count()
      var w = Array.fill(dims + 1)(0.0)
      for (_ <- 1 to iters) {
        val wDf = w.toIndexedSeq.zipWithIndex
          .map { case (wt, j) => (j, wt) }.toDF("j", "weight")
        val d = labeled
          .join(sparseZ(sparse, wDf, dims), Seq("doc_id"), "left")
          .withColumn("z", coalesce(col("zf"), lit(0.0)) + lit(w(dims)))
          .select(col("doc_id"),
            (lit(0.5) + lit(0.5) * col("z") / (lit(1.0) + abs(col("z"))) - col("y")).as("d"))
        val grads = sparse.join(d, Seq("doc_id"))
          .select(col("j"), round(col("x") * col("d"), 6).cast("decimal(18,6)").as("g"))
          .groupBy(col("j")).agg(sum(col("g")).as("gj"))
          .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
        val gBias = d.select(round(col("d"), 6).cast("decimal(18,6)").as("g"))
          .agg(sum(col("g"))).head().getDecimal(0)
        w = w.indices.map { j =>
          val g = if (j == dims) gBias
            else grads.getOrElse(j, java.math.BigDecimal.ZERO)
          w(j) - eta * (g.doubleValue() / n.toDouble)
        }.toArray
      }
      w
    } finally { sparse.unpersist(); () }
  }

  /** [[qualityClassifierWeights]] through the wide trainer — the weight
    * table a 100k-dim production filter trains and serves with. */
  def qualityClassifierWeightsWide(docs: DataFrame, dims: Int = 16, iters: Int = 3,
      eta: Double = 4.0): DataFrame =
    classifierWeightsDf(docs.sparkSession, trainClassifierWide(docs, dims, iters, eta))

  def saveClassifierModel(weights: DataFrame, path: String): Unit =
    Tables.writeArtifact(weights.coalesce(1), path, "overwrite")

  def loadClassifierModel(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Train-once/serve-many: the first call against an empty `indexPath`
    * trains ([[qualityClassifierWeights]]) and persists the weight table;
    * every later call (any JVM) loads and serves — row-identical either
    * way, zero training shuffles on the serve path (spec-pinned via
    * [[classifierTrainings]], the kmeans-index discipline applied to the
    * quality filter: at 100 TB the filter trains on one corpus snapshot
    * and scores every later ingest batch).
    */
  def qualityClassifierPersisted(docs: DataFrame, indexPath: String, dims: Int = 16,
      iters: Int = 3, eta: Double = 4.0): DataFrame = {
    val spark = docs.sparkSession
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker))
      saveClassifierModel(qualityClassifierWeights(docs, dims, iters, eta), indexPath)
    scoreWithClassifier(docs, loadClassifierModel(spark, indexPath), dims)
  }

  /** Confusion matrix of the trained classifier against the true labels —
    * predicted = (z ≥ 0), i.e. σ̃(z) ≥ ½, evaluated with the final weights
    * on the training corpus (the standard train-fit diagnostic). Output:
    * (label, predicted, n_docs); both engines derive the same exact z, so
    * the boolean and the counts are under the hash gate.
    */
  def qualityClassifierEval(docs: DataFrame, dims: Int = 16, iters: Int = 3,
      eta: Double = 4.0): DataFrame =
    qualityClassifierEvalWith(docs, trainClassifier(docs, dims, iters, eta), dims)

  /** [[qualityClassifierEval]] against an ALREADY-TRAINED weight array —
    * the serve half, so a memoized training (SparkEntry) or a persisted
    * model evaluates without re-running GD. Identical rows: the eval is a
    * pure function of (docs, weights). */
  def qualityClassifierEvalWith(docs: DataFrame, w: Array[Double],
      dims: Int = 16): DataFrame = {
    // r17 (ADVICE r16): a weight array trained at another width would
    // element_at past the end — null z values and silently wrong
    // confusion-matrix rows instead of an error
    require(w.length == dims + 1,
      s"weight array has ${w.length} entries but dims=$dims needs ${dims + 1} " +
        "(dims weights + bias) — the model was trained at a different width")
    val wArr = array(w.toIndexedSeq.map(lit): _*)
    classifierFeatures(docs, dims)
      .withColumn("z", aggregate(sequence(lit(0), lit(dims)), lit(0.0),
        (acc, j) => acc + element_at(wArr, (j + 1).cast("int"))
          * element_at(col("x"), (j + 1).cast("int"))))
      .groupBy(col("y").cast("long").as("label"),
        (col("z") >= 0.0).cast("long").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ──────────────────────── BPE tokenizer training ────────────────────────

  /** BPE trainings performed (test observability — the persisted-model spec
    * asserts the serve path performs ZERO of them; the kmeans-index /
    * classifier counter discipline applied to the tokenizer).
    */
  val bpeTrainings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Distinct corpus words with total instance counts and the bracketed
    * character encoding `"<c><a><t>"` the merge rounds rewrite. This
    * word-frequency pre-aggregation is the industrial BPE-trainer trick
    * (HuggingFace `tokenizers` does exactly this): ONE corpus-wide
    * tokenize+count shuffle reduces 100 TB of text to a vocabulary-sized
    * table, and every training round after it runs at vocabulary scale.
    * Token characters are `\w` (the engine tokenizer splits on `\W+`), so
    * the `<`/`>` markers can never collide with token content — a merge
    * rewrite `<a><b>` → `<ab>` is unambiguous: the closing+opening bracket
    * pins the token boundary, so `<xa><b>` never matches the pattern.
    */
  private def bpeWordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(tokenize(col("text"))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("s0", regexp_replace(col("w"), "(.)", "<$1>"))

  /** The learned merge list applied as a chain of literal `replace` calls —
    * left-to-right non-overlapping, which is exactly the scan order classic
    * BPE applies a merge with (and is identical in Spark and DuckDB, so the
    * whole tokenizer replays in the oracle). Merges are plan literals: at
    * serve time the model is a ≤rounds-row broadcast, never a join.
    */
  private def bpeApplyMerges(s: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(s) { case (acc, (a, b)) =>
      replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }

  /** Tokens of a bracketed string as an array (drop the one outer bracket
    * pair, split on the boundary `"><"`). substr, not two-param trim: the
    * string is always exactly `<tok>…<tok>`, and Spark 4 deprecates the
    * trim(col, chars) form (analysis-time warning per use).
    */
  private def bpeTokens(s: Column): Column =
    split(substr(s, lit(2), length(s) - 2), "><")

  /** The raw word tokenized under the FULL merge table in one kernel call
    * ([[graft.functions.expressions.BpeMergeTable]]) — the mechanism that
    * scales past the literal replace chain: the chain inlines O(merges)
    * expression nodes per pass (fine at the 8-round oracle knob, hopeless
    * at a 32k-merge production vocab), the kernel is ONE codegen node
    * whose per-word cost tracks merges APPLIED to that word, not table
    * size. Spec-pinned token-identical to the chain (BpeKernelSpec).
    */
  private def bpeTokensKernel(w: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftShim.{toColumn, toExpression}
    toColumn(graft.functions.expressions.BpeEncode(toExpression(w),
      new graft.functions.expressions.BpeMergeTable(merges)))
  }

  /** Adjacent-pair counts over the current tokenization, weighted by word
    * instance count — one aggregation over the vocabulary-sized cached
    * frame per round. Overlapping repeats count each adjacency (the
    * standard BPE pair statistic; both engines derive it from the same
    * token list, so counts agree exactly).
    */
  private def bpePairCounts(words: DataFrame, merges: Seq[(String, String)],
      kernel: Boolean = false): DataFrame =
    bpePairCountsTok(words,
      if (kernel) bpeTokensKernel(col("w"), merges)
      else bpeTokens(bpeApplyMerges(col("s0"), merges)))

  /** Adjacent-pair counts over any (c, tokens) derivation — shared by the
    * from-scratch paths (chain/kernel over `words`) and the evolving
    * trainer (current bracketed column). */
  private def bpePairCountsTok(src: DataFrame, toks: Column): DataFrame =
    src.select(col("c"), toks.as("l"))
      .where(size(col("l")) >= 2)
      .select(col("c"), explode(transform(sequence(lit(0), size(col("l")) - 2),
        i => struct(element_at(col("l"), i + 1).as("a"),
          element_at(col("l"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).cast("long").as("cnt"))

  /** Train `rounds` byte-pair-encoding merges (Sennrich et al. 2016 — the
    * tokenizer-construction discipline every LLM corpus pipeline runs) in
    * the idiomatic Spark iterative-ML loop: the word-frequency table is
    * built ONCE and persisted (the single corpus-scale shuffle), each round
    * recomputes the current tokenization from the cache with the merges so
    * far inlined as literal replace chains and brings ONE argmax row back
    * to the driver, and the cache is released when training ends. At
    * 100 TB: one corpus scan + `rounds` vocabulary-scale aggregations.
    *
    * Engine-portable by construction: pair counts are integer sums, the
    * argmax tie-break is the total order (count desc, left asc, right asc),
    * and replace-application order is fixed — the merge TABLE itself
    * replays bit-identically in the DuckDB oracle, not just downstream
    * token counts. Returns fewer than `rounds` merges only when the corpus
    * runs out of adjacent pairs (every word fully merged).
    */
  private[operators] def trainBpe(docs: DataFrame, rounds: Int,
      kernel: Boolean = false): Seq[(String, String, Long)] = {
    require(rounds >= 1, "rounds must be positive")
    bpeTrainings.incrementAndGet()
    val words = bpeWordFreq(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      words.count() // materializes the cache; one row per distinct word
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var exhausted = false
      for (_ <- 1 to rounds if !exhausted) {
        // kernel=true re-tokenizes with the one-pass merge-table kernel —
        // the path that keeps round r's cost independent of r, so training
        // hundreds of merges stays `rounds` vocabulary-scale aggregations
        // instead of an O(rounds)-deep expression tree per round
        val best = bpePairCounts(words, merges.toSeq.map(m => (m._1, m._2)), kernel)
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else merges += ((best(0).getString(0), best(0).getString(1), best(0).getLong(2)))
      }
      merges.toSeq
    } finally { words.unpersist(); () }
  }

  /** The EVOLVING-STATE trainer — the production-rounds shape. [[trainBpe]]
    * re-tokenizes from scratch every round (chain or kernel: round t pays
    * up to t merge applications per word — O(T²) applications over T
    * rounds, which is what capped even the kernel path's round count);
    * here the tokenization is STATE, advanced one merge per round with a
    * single `replace` over the previous round's materialized strings —
    * the dedupClusters checkpointed-iteration discipline applied to the
    * tokenizer. Per round: one vocabulary-scale replace + localCheckpoint
    * (lineage truncated, so the plan stays one replace deep at ANY round
    * number), one pair-count aggregation, one 1-row argmax. O(T) merge
    * applications total — a 32k-merge vocabulary is 32k constant-cost
    * rounds instead of quadratically growing ones. Merge-for-merge
    * identical to [[trainBpe]] by construction (each round's replace IS
    * the chain's next link, applied to the chain's own intermediate
    * state); spec-pinned at 8 rounds vs the chain and at full vocab
    * exhaustion vs the kernel.
    */
  private[operators] def trainBpeEvolving(docs: DataFrame,
      rounds: Int): Seq[(String, String, Long)] = {
    require(rounds >= 1, "rounds must be positive")
    bpeTrainings.incrementAndGet()
    var cur = bpeWordFreq(docs).select(col("c"), col("s0").as("s")).localCheckpoint()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var exhausted = false
      for (_ <- 1 to rounds if !exhausted) {
        val best = bpePairCountsTok(cur, bpeTokens(col("s")))
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((a, b, n))
          val next = cur.withColumn("s",
            replace(col("s"), lit(s"<$a><$b>"), lit(s"<$a$b>"))).localCheckpoint()
          org.apache.spark.sql.GraftShim.unpersistCheckpoint(cur)
          cur = next
        }
      }
      merges.toSeq
    } finally { org.apache.spark.sql.GraftShim.unpersistCheckpoint(cur); () }
  }

  /** The one merge-table shape both trainers publish — (merge_round, lhs,
    * rhs, merged, pair_count), rounds numbered from 1 in training order.
    */
  private def mergesToDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toSeq.zipWithIndex
      .map { case ((a, b, n), i) => (i + 1L, a, b, a + b, n) }
      .toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
  }

  /** [[trainBpeEvolving]]'s merge table as a DataFrame — same shape as
    * [[bpeMerges]]. */
  def bpeMergesEvolving(docs: DataFrame, rounds: Int = 8): DataFrame =
    mergesToDf(docs.sparkSession, trainBpeEvolving(docs, rounds))

  /** The trained merge table. This IS the tokenizer model (apply = replay
    * the replaces in round order); see [[trainBpe]] for the training
    * discipline and the portability argument.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 8, kernel: Boolean = false): DataFrame =
    mergesToDf(docs.sparkSession, trainBpe(docs, rounds, kernel))

  /** [[bpeVocab]] under an EXPLICIT merge list — the serve half for a
    * model trained once elsewhere (the train-once discipline: a sweep
    * reading vocab + counts + fertility must not retrain per reader).
    * `kernel` picks the one-pass merge-table kernel over the literal
    * replace chain — identical tokens (spec-pinned), table-size-
    * independent plan.
    */
  def bpeVocabWith(docs: DataFrame, merges: Seq[(String, String)],
      kernel: Boolean = false): DataFrame =
    bpeWordFreq(docs)
      .select(col("c"), explode(
        if (kernel) bpeTokensKernel(col("w"), merges)
        else bpeTokens(bpeApplyMerges(col("s0"), merges))).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("c")).cast("long").as("freq"))
      .withColumn("n_chars", length(col("token")).cast("long"))

  /** The vocabulary the trained merges induce: every post-merge token with
    * its corpus frequency (instance-weighted) and its character length —
    * the table a tokenizer-budget decision reads (vocab size vs coverage).
    * One aggregation over the vocabulary-sized word table.
    */
  def bpeVocab(docs: DataFrame, rounds: Int = 8): DataFrame =
    bpeVocabWith(docs, trainBpe(docs, rounds).map(m => (m._1, m._2)))

  /** Per-document token counts under an EXPLICIT merge list — the serve
    * half of train-once/serve-many. The input's distinct words are
    * tokenized once (vocabulary-sized, merges inlined as literals) and
    * broadcast back onto the document word stream: per doc, the word
    * count, character count, and post-BPE token count (the number a
    * sequence-packing / token-budget stage actually needs). Token count
    * is counted as `<` markers — no re-split of the rewritten string.
    */
  def bpeTokenCountsWith(docs: DataFrame, merges: Seq[(String, String)],
      kernel: Boolean = false): DataFrame = {
    // the chain column is built ONLY on its own branch — at a production
    // merge count the whole point of kernel=true is never allocating the
    // O(merges)-deep replace tree, driver-side included
    val wToks =
      if (kernel) size(bpeTokensKernel(col("w"), merges)).cast("long")
      else {
        val s = bpeApplyMerges(col("s0"), merges)
        (length(s) - length(replace(s, lit("<"), lit("")))).cast("long")
      }
    val wordTok = bpeWordFreq(docs).select(col("w"),
      length(col("w")).cast("long").as("w_chars"), wToks.as("w_toks"))
    docs.select(col("doc_id"), explode(tokenize(col("text"))).as("w"))
      .where(col("w") =!= "")
      .join(broadcast(wordTok), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_chars")).cast("long").as("n_chars"),
        sum(col("w_toks")).cast("long").as("n_bpe_tokens"))
  }

  /** Train-then-serve in one call (the oracle-replayable registered form;
    * the persisted path below is the production shape). */
  def bpeTokenCounts(docs: DataFrame, rounds: Int = 8): DataFrame =
    bpeTokenCountsWith(docs, trainBpe(docs, rounds).map(m => (m._1, m._2)))

  /** Persist a trained merge table — validating KERNEL-SERVABILITY first:
    * a table where two merges produce the same merged form (possible in
    * principle — ('c','ab') after ('ca','b') both yield 'cab' if both
    * pairs ever become adjacent) breaks the one-pass kernel's greedy ≡
    * chain equivalence, and [[graft.functions.expressions.BpeMergeTable]]
    * refuses it at construction. That refusal must happen HERE, when the
    * model ships, not at the first serve query against a persisted model
    * (where the only fallback would be the O(merges)-deep literal chain
    * the kernel exists to replace). The validation is one model-scale
    * collect + the constructor's own checks.
    */
  def saveBpeModel(merges: DataFrame, path: String): Unit = {
    val ordered = merges.orderBy(col("merge_round").asc)
      .select(col("lhs"), col("rhs")).collect()
      .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    new graft.functions.expressions.BpeMergeTable(ordered) // throws if unservable
    Tables.writeArtifact(merges.coalesce(1), path, "overwrite")
  }

  def loadBpeModel(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The persisted merge list in training order — a ≤rounds-row metadata
    * read (the driver-side collect is the model load, not a data path). */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    loadBpeModel(spark, path)
      .orderBy(col("merge_round").asc).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toIndexedSeq

  /** Train-once/serve-many: the first call against an empty `indexPath`
    * trains and persists the merge table; every later call (any JVM) loads
    * it — a ≤rounds-row metadata read — and serves with ZERO training
    * shuffles, row-identical to fresh training (spec-pinned via
    * [[bpeTrainings]]). At 100 TB the tokenizer trains on one corpus
    * snapshot and counts tokens for every later ingest batch.
    */
  def bpeTokenCountsPersisted(docs: DataFrame, indexPath: String,
      rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker))
      saveBpeModel(bpeMerges(docs, rounds), indexPath)
    bpeTokenCountsWith(docs, loadBpeMerges(spark, indexPath))
  }

  /** Tokenizer FERTILITY per language — the multilingual-equity metric the
    * mBERT/XLM-R line of work reports: tokens-per-word and
    * chars-per-token under the trained BPE merges, rolled up by language.
    * A tokenizer trained on a skewed mix fragments under-represented
    * languages (high fertility = more sequence positions per word = a
    * worse effective context and compute share); this is the table that
    * decision reads, and the natural consumer of [[sourceMixTemperature]]
    * upstream. Cost: the BPE serve pass + one lang-keyed rollup. Ratios
    * divide exact integer sums, so the output is hash-gated. Takes an
    * EXPLICIT merge list (train-once serve form; see [[bpeVocabWith]]).
    */
  def bpeFertilityWith(docs: DataFrame, merges: Seq[(String, String)],
      kernel: Boolean = false): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(bpeTokenCountsWith(docs, merges, kernel), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("n_bpe_tokens")).cast("long").as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6)
          .as("tokens_per_word"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))

  /** Cluster-aware leakage-proof split: [[trainValTestSplit]] hashes each
    * document's own text, which pins EXACT duplicates to one fold but
    * still lets NEAR-duplicates straddle train/test — the classic
    * eval-contamination hole. Here the fold is decided per near-dup
    * CLUSTER: every member inherits its cluster keeper's content-hash
    * bucket, so whole near-dup families land in one fold (singletons are
    * their own keeper — identical to the plain split for them). Cost on
    * top of the plain split is the dedup clustering the pipeline already
    * runs (feed [[graft.operators.Dedup.minhashLshPairs]] candidates at
    * scale) plus one join from keeper ids to keeper text — keepers are a
    * sliver of the corpus, so that side broadcasts under AQE.
    * Output: (doc_id, keeper, bucket, split).
    */
  def trainValTestSplitClustered(docs: DataFrame, clusters: DataFrame,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "split percentages must leave room for a test share")
    val keeperText = docs.select(col("doc_id").as("keeper"), col("text").as("ktext"))
    val bucket = portableHash31(col("ktext")) % 10000L
    clusters.select(col("doc_id"), col("keeper"))
      .join(keeperText, Seq("keeper"))
      .select(col("doc_id"), col("keeper"), bucket.as("bucket"),
        when(bucket < trainPct * 100L, "train")
          .when(bucket < (trainPct + valPct) * 100L, "val")
          .otherwise("test").as("split"))
  }

  // ─────────────────── DSIR importance-based data selection ───────────────────

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hashed-unigram
    * bag-of-words models of the TARGET distribution (here the `lang='en'`
    * slice — the domain a pre-training mix wants more of) and the RAW
    * corpus, an add-one-smoothed per-bucket log-likelihood-ratio table,
    * and per-document importance scores Σ_tokens w_bucket(token). At
    * 100 TB: the two distribution estimates are ONE map-side-combined
    * aggregation to `buckets` rows (the hashing collapses the vocabulary
    * before anything shuffles), the ratio table broadcasts at metadata
    * scale, and scoring is one per-doc aggregation — the whole selection
    * pass costs two corpus scans and one doc-keyed shuffle.
    *
    * Engine-portable: every `ln` input is an integer (count + 1, total +
    * buckets), rounded at 6 dp and combined as exact decimals (the
    * [[lmScore]] discipline), so the weight table and the decimal-summed
    * per-doc scores replay bit-identically in the oracle. Output:
    * (doc_id, n_tokens, dsir_logweight). Selection is the deterministic
    * ranked form ([[dsirSelect]]) rather than Gumbel sampling — the noise
    * term is the one piece of the paper that cannot be made engine-exact.
    */
  def dsirScores(docs: DataFrame, buckets: Int = 64): DataFrame = {
    val toks = docs.select(col("doc_id"), (col("lang") === "en").as("is_target"),
        explode(tokenize(col("text"))).as("t"))
      .where(col("t") =!= "")
      .select(col("doc_id"), col("is_target"),
        pmod(portableHash31(col("t")), lit(buckets)).cast("int").as("b"))
    val counts = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("r_b"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("t_b"))
    val tot = counts.agg(sum(col("r_b")).as("r_tot"), sum(col("t_b")).as("t_tot"))
    def lnDec(c: Column): Column =
      round(log(c.cast("double")), 6).cast("decimal(18,6)")
    val w = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        (lnDec(col("t_b") + 1) - lnDec(col("t_tot") + lit(buckets))
          - lnDec(col("r_b") + 1) + lnDec(col("r_tot") + lit(buckets))).as("w_b"))
    toks.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_b")).as("lw"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lw").cast("double"), 6).as("dsir_logweight"))
  }

  /** The selection output: the `k` highest-importance documents with their
    * rank — deterministic ranked DSIR (score desc, doc_id asc). TakeOrdered
    * shape: bounded heaps per partition, never a global sort.
    */
  def dsirSelect(docs: DataFrame, k: Int = 100, buckets: Int = 64): DataFrame =
    dsirScores(docs, buckets)
      .orderBy(col("dsir_logweight").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("dsir_logweight"))
}
