package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (north-star §2.F):
  * corpus stats, token counting, quality scoring, naive-Bayes language
  * ID, and rolling-hash fingerprinting. All pure Column expressions /
  * grouped aggregations — per-row work is codegen'd, cross-row work is
  * single-shuffle hash aggregation.
  */
object TextStats {

  def words(textCol: Column): Column = split(textCol, " ")

  /** Whitespace token count. */
  def wsTokens(textCol: Column): Column = size(words(textCol))

  /** BPE-ish subword token count: runs of letters, runs of digits, or
    * single other non-space characters (a crude byte-pair-style
    * tokenizer's pre-split). `regexp_count` keeps it in codegen.
    */
  def bpeTokens(textCol: Column): Column =
    regexp_count(lower(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Size-gated broadcast routing for vocabulary-scale tables (the
    * ADVICE-r5 remedy for forced hints): hint `broadcast` only when
    * the frame's MEASURED row count is under `maxRows`, else return it
    * unhinted so the join shuffles on its key. The caller must pass an
    * already-checkpointed frame — the gate's count() then materializes
    * the checkpoint once and every consumer reuses it, so the probe is
    * one cheap job, not a recompute. At test scale the gate passes and
    * the token stream never shuffle-writes; on a 100 TB corpus whose
    * vocab outgrows the gate, the join degrades to a plain shuffle
    * instead of a driver OOM. Values are identical either way — join
    * strategy cannot change results.
    *
    * WHEN to use which gate (r17 optimization round, measured at
    * sf0.1/local[4] and reasoned at 100 TB):
    *  - THIS eager gate when the PROBE side is the corpus-scale stream
    *    (token/bigram/gram/doc rows): the count is one cheap pass over
    *    the (checkpointed, aggregate-sized) build side, and the
    *    planning-time hint keeps the heavy stream out of any exchange —
    *    AQE's runtime conversion would still map-write the whole
    *    stream before deciding (guide §8: shuffle proxies, not
    *    payloads).
    *  - [[lazyGatedBroadcast]] when BOTH sides are bounded aggregates
    *    (vocab censuses, candidate-pair tables): the map-write AQE
    *    needs is of a small table, and dropping the eager count
    *    removes a serial driver-blocking job from the caller's timed
    *    region (measured: −0.2…−0.4 s each on text_kneser_ney,
    *    graph_link_pred, doc_collocations_pmi).
    */
  def gatedBroadcast(df: DataFrame, maxRows: Long = 2000000L): DataFrame =
    if (df.count() <= maxRows) broadcast(df) else df

  /** Lazy sibling of [[gatedBroadcast]] for joins whose PROBE side is
    * itself a bounded aggregate (see the decision rule there): no
    * eager count — the frame returns unhinted and AQE's runtime
    * exchange statistics (byte-based, scale-adaptive; thresholds
    * `spark.sql.adaptive.autoBroadcastJoinThreshold` /
    * `...maxShuffledHashJoinLocalMapThreshold`, set in
    * `graft.core.Session`) convert the
    * planned sort-merge join to broadcast/shuffled-hash when the built
    * side measures small. Values are identical either way — join
    * strategy cannot change results.
    */
  def lazyGatedBroadcast(df: DataFrame): DataFrame = df

  /** 6-decimal TRUNCATION for ratio outputs. Spark's `round` rounds the
    * double's shortest decimal representation (BigDecimal.valueOf ⇒
    * HALF_UP on the string), other engines round the binary value —
    * they disagree exactly when a ratio lands on a `.5` at the 7th
    * decimal (e.g. odd/1280). floor(x·10⁶)/10⁶ is a pure IEEE pipeline:
    * identical input bits ⇒ identical output everywhere.
    */
  def trunc6(c: Column): Column = floor(c * lit(1000000d)) / lit(1000000d)

  /** Heuristic quality score in [0,1]: mix of length, stopword ratio
    * and mean word length (the classic cheap pre-filters for corpus
    * cleaning). Single-row arithmetic, deterministic.
    */
  def qualityColumns(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val w = words(col(textCol))
    val nWords = size(w)
    val nChars = length(col(textCol))
    val stopHits = size(filter(w, x => x.isin(Stopwords: _*)))
    val meanWordLen = (nChars - (nWords - 1)).cast("double") / nWords
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      trunc6(stopHits.cast("double") / nWords).as("stopword_ratio"),
      trunc6(meanWordLen).as("mean_word_len"),
      trunc6(
        least(lit(1d), nWords.cast("double") / lit(64d)) * lit(0.5)
          + least(lit(1d), stopHits.cast("double") / nWords * lit(5d)) * lit(0.25)
          + least(lit(1d), meanWordLen / lit(8d)) * lit(0.25))
        .as("quality"))
  }

  /** Unigram naive-Bayes language ID, trained on the corpus itself:
    * P(w|lang) with add-one smoothing from exact counts; a document's
    * score for a lang is sum(log P) over its tokens; prediction = best
    * rounded score (ties broken by lang name). Train + classify are
    * three hash aggregations and one broadcastable join — no per-row
    * model object, scales linearly.
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
             langCol: String): DataFrame = {
    // the token stream feeds 4 consumers (counts/totals/vocab/scores) —
    // lazy localCheckpoint so the corpus explode runs once without
    // leaking a CacheManager entry (a library call must clean up itself)
    val tok = df.select(col(idCol), col(langCol),
      explode(words(col(textCol))).as("w")).localCheckpoint(false)
    val counts = tok.groupBy(col(langCol).as("model_lang"), col("w"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false)
    val totals = tok.groupBy(col(langCol).as("model_lang"))
      .agg(count(lit(1)).as("t"))
    val vocab = tok.agg(countDistinct(col("w")).as("v"))
    // totals×vocab is #langs rows — always broadcastable. `counts` is
    // lang×vocabulary scale: size-GATED hint (a 100 TB corpus's vocab
    // can exceed the broadcast limit — past the gate the join shuffles
    // on (model_lang, w) instead of OOMing the driver; under it the
    // token stream never shuffle-writes).
    val scores = tok.select(col(idCol), col("w"))
      .crossJoin(broadcast(totals.crossJoin(vocab)))
      .join(gatedBroadcast(counts), Seq("model_lang", "w"), "left")
      .groupBy(col(idCol), col("model_lang"))
      .agg(round(sum(
        log((coalesce(col("c"), lit(0L)) + lit(1d)) / (col("t") + col("v")))),
        6).as("score"))
    // argmax by (score DESC, lang ASC) without a per-doc sort window:
    // min_by over the (-score, lang) struct — one more hash aggregation
    // over doc×lang rows, map-side combinable
    scores.groupBy(col(idCol))
      .agg(
        min_by(col("model_lang"), struct((-col("score")).as("ns"),
          col("model_lang"))).as("pred_lang"),
        (-min(struct((-col("score")).as("ns"), col("model_lang")))
          .getField("ns")).as("score"))
  }

  /** TF-IDF keyword extraction: the highest-scoring term per document
    * (score = (termCount/docLen) · ln((N+1)/(docFreq+1)), smoothed).
    * Three hash aggregations over the token stream; the per-doc argmax
    * is a `min_by` over the (-score, term) struct — map-side
    * combinable, no sort, ties to the lexicographically first term.
    * The document-frequency table is vocabulary-scale, so its hint is
    * size-GATED ([[gatedBroadcast]]): broadcast while it provably
    * fits, a plain term-key shuffle join past the gate (Zipf head
    * skew handled by AQE skew-join splitting) — never a driver OOM.
    */
  def topTfidfTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(words(col(textCol))).as("w"))
    val tf = tok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val docLen = tok.groupBy(col(idCol)).agg(count(lit(1)).as("len"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(docLen, Seq(idCol))
      .join(gatedBroadcast(dfreq), Seq("w"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("c") / col("len")) *
          log((col("n_docs") + lit(1L)) / (col("df") + lit(1L))))
    scored.groupBy(col(idCol))
      .agg(
        min_by(col("w"), struct((-col("score")).as("ns"), col("w")))
          .as("top_term"),
        trunc6(-min(struct((-col("score")).as("ns"), col("w")))
          .getField("ns")).as("tfidf"))
  }

  /** Corpus-frequency quality scoring in EXACT integer/decimal math —
    * the unigram-LM quality proxy without the cross-engine `log`
    * hazard: per doc, the fraction of tokens OUTSIDE the corpus's
    * top-`topK` vocabulary (OOV rate — high for gibberish/boilerplate)
    * and the mean corpus frequency of its tokens (low for rare-token
    * soup). Frequencies are exact longs; the only float op is the final
    * division of two exact integers, truncated to 6 decimals.
    *
    * Scale shape: one hash aggregation token→count (map-side
    * combinable), a bounded top-K cut (TakeOrdered over the vocabulary
    * — token-cardinality rows, not corpus rows), and one join of the
    * token stream against the count table, folded by one final per-doc
    * aggregation. The `top` side is bounded by the `topK` parameter and
    * is broadcast unconditionally; the full count table is
    * vocabulary-scale and size-GATED ([[gatedBroadcast]]) — broadcast
    * while it provably fits, token-key shuffle join past the gate
    * (Zipf-head skew split by AQE), never a driver OOM.
    */
  def vocabStats(df: DataFrame, idCol: String, textCol: String,
                 topK: Int): DataFrame = {
    val tok = df.select(col(idCol), explode(words(col(textCol))).as("w"))
    // the count table feeds BOTH the top-K cut and the scoring join —
    // lazy localCheckpoint so the corpus-scale aggregation runs once
    // (not persist(): a library call must not leak CacheManager entries)
    val counts = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // deterministic vocabulary cut (count DESC, token ASC) via
    // TakeOrdered — per-partition top-K then a driver merge of K-row
    // partials; never the single-partition global rank window
    val top = counts.orderBy(col("c").desc, col("w")).limit(topK)
      .select(col("w"), lit(true).as("in_vocab"))
    val vocab = counts.join(broadcast(top), Seq("w"), "left")
      .select(col("w"), col("c"),
        coalesce(col("in_vocab"), lit(false)).as("in_vocab"))
    tok.join(gatedBroadcast(vocab.localCheckpoint(false)), Seq("w"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(!col("in_vocab"), 1)).as("n_oov"),
        sum(col("c")).as("sum_freq"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        trunc6(col("n_oov") / col("n_tokens")).as("oov_frac"),
        trunc6(col("sum_freq") / col("n_tokens")).as("avg_tok_freq"))
  }

  /** Overlapping token-window chunking — the RAG/embedding prep pass:
    * each doc yields `ceil(max(0, n−size)/stride) + 1` chunks of up to
    * `size` words, consecutive chunks overlapping by `size − stride`
    * words. Pure narrow explode over integer chunk starts — zero
    * shuffles, embarrassingly parallel, and the chunk count is exact
    * integer arithmetic (no float ceil).
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"bad chunk geometry: size=$size stride=$stride")
    val w = words(col(textCol))
    df.select(col(idCol), w.as("__w"))
      .withColumn("__extra",
        greatest(org.apache.spark.sql.functions.size(col("__w")) - size,
          lit(0)))
      .withColumn("chunk_idx", explode(sequence(lit(0),
        expr(s"(__extra + ${stride - 1}) div $stride"))))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions
          .size(slice(col("__w"), col("chunk_idx") * stride + 1, lit(size)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("__w"), col("chunk_idx") * stride + 1,
          lit(size)), " ").as("chunk_text"))
  }

  // ---- BM25 lexical retrieval ---------------------------------------

  /** Shared BM25 scoring tail over a term-frequency frame
    * `(idCol, dl, term, tf)` plus a one-row `(sum_dl, n)` corpus-stats
    * frame: Lucene-form idf `ln((N−df+0.5)/(df+0.5)+1)`, per-doc term
    * fold in DECIMAL (order-exact — decimal addition is associative,
    * so corpus-scan and index-probe plans produce identical bits),
    * 6-dec truncated. `df` is derived from the tf frame itself
    * (restricted to the query terms, so the aggregate is tiny) and
    * broadcast; `avgdl` is the exact Σlen/N — an integer sum then ONE
    * double division, engine-portable where `avg()`'s double fold is
    * not.
    */
  private def bm25Score(tf: DataFrame, stats: DataFrame, idCol: String,
                        k1: Double, b: Double): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val dfreq = broadcast(tf.groupBy("term").agg(count(lit(1)).as("df")))
    val idf = log((col("n") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val score = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) +
        lit(b) * col("dl") / (col("sum_dl") / col("n"))))
    tf.join(dfreq, "term").crossJoin(stats)
      .groupBy(idCol)
      .agg(sum(score.cast(d12)).cast("double").as("raw"),
        count(lit(1)).as("n_terms"))
      .select(col(idCol), trunc6(col("raw")).as("bm25"), col("n_terms"))
  }

  /** BM25 retrieval scores (Robertson/Spärck Jones) for an arbitrary
    * term set — every document containing ≥1 query term gets
    * `(idCol, bm25, n_terms)`. Corpus-scan shape: ONE pass over `df`
    * emits (doc len, query-term hits) per doc — the query-term filter
    * runs INSIDE the tokenize projection, so only matching-term rows
    * ever reach an aggregate; df and the (N, Σlen) scalars are
    * broadcast. At 100 TB prefer [[bm25FromIndex]] over a persisted
    * [[IndexKind.Bm25]] index (same scores, no corpus tokenize);
    * [[bm25Routed]] picks automatically.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), size(col("toks")).cast("long").as("dl"),
        filter(col("toks"), t => t.isInCollection(terms)).as("qt"))
      .localCheckpoint(false) // one corpus pass; stats + tf share it
    val stats = broadcast(base.agg(
      sum(col("dl")).cast("double").as("sum_dl"),
      count(lit(1)).cast("double").as("n")))
    val tf = base
      .select(col(idCol), col("dl"), explode(col("qt")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25Score(tf, stats, idCol, k1, b)
  }

  /** One corpus/batch pass → `(idCol, dl, toks)`, lazily checkpointed
    * so the BM25 index's tallies and postings share it.
    */
  private[ext] def tokensWithLen(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), size(col("toks")).cast("long").as("dl"),
        col("toks"))
      .localCheckpoint(false)

  /** The BM25 retrieval index's rows ([[IndexKind.Bm25]]): positional
    * postings `(term, idCol, dl, tf, pos)`, per (term, doc) the sorted
    * 1-based positions and their count, clustered + sorted by term so
    * a probe's `term IN (…)` prunes parquet row groups via min/max
    * stats — at 100 TB a query touches only its terms' postings, never
    * the corpus. `pos` is the POSITIONAL payload phrase retrieval
    * intersects (r13 ask #3; bounded per posting by the doc's own
    * length); `tf = |pos|`. A bag-of-words probe never reads `pos` —
    * column pruning drops it at the scan. Postings rows are per (term,
    * doc), so a refresh's batch adds NEW rows and the existing files
    * (and the row-group stats the probe prunes on) are never
    * rewritten; the record's `n` and `sum_dl` are integer sums, so old
    * + batch equals the full-build value bit-for-bit. This is the
    * at-rest twin of the bounded `doc_inverted_index` catalog
    * artifact: same structure, plus the payload BM25 scoring needs.
    */
  private[ext] def postingsOf(toks: DataFrame, idCol: String): DataFrame =
    toks.select(col(idCol), col("dl"),
        posexplode(col("toks")).as(Seq("p0", "term")))
      .select(col(idCol), col("dl"), col("term"),
        (col("p0") + 1).cast("long").as("p"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("pos"))
      .repartition(col("term"))
      .sortWithinPartitions("term")

  /** The exact one-row `(sum_dl, n)` corpus stats of a committed BM25
    * index, from its record — broadcast like the scan's. */
  private def statsOf(spark: org.apache.spark.sql.SparkSession,
                      index: IndexCommit): DataFrame =
    broadcast(spark.range(1).select(
      lit(index.tally("sum_dl").toDouble).as("sum_dl"),
      lit(index.n.toDouble).as("n")))

  /** BM25 by probing a committed BM25 index ([[IndexKind.Bm25]]): read
    * the query terms' postings (predicate pushed into the parquet scan
    * — the corpus text is never touched), broadcast the exact stats,
    * and run the same decimal scoring tail. Bit-identical to [[bm25]]
    * on the same corpus: tf/dl/df/N/Σlen are equal by construction and
    * the decimal fold is order-independent.
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession,
                    index: IndexCommit, idCol: String, terms: Seq[String],
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val tf = index.read(spark, "postings")
      .filter(col("term").isInCollection(terms))
    bm25Score(tf, statsOf(spark, index), idCol, k1, b)
  }

  /** Shared scoring tail of phrase retrieval: the phrase is ONE unit
    * with `tf` = its occurrence count per doc, `df` = how many docs
    * contain it, scored with the same Robertson idf / tf saturation as
    * a single term. `hits` = `(idCol, dl, tf)` for tf ≥ 1 docs; the
    * df-count and the scoring both read it, so the CALLER picks the
    * barrier: the corpus-scan twin checkpoints (a corpus tokenize
    * must run once), the index probe stays lazy (its subtree is the
    * row-group-pruned postings intersection — index-scale, cheaper to
    * re-run in the same job than to materialize, and the barrier
    * would hide the pruned scans from the plan). One double
    * expression per doc (no sum fold — single phrase), 6-dec
    * truncated; top `topN` by (score desc, id).
    */
  private def phraseScoreAll(hits: DataFrame, stats: DataFrame,
                             idCol: String, k1: Double,
                             b: Double): DataFrame = {
    val dfreq = broadcast(hits.agg(count(lit(1)).as("df")))
    val idf = log((col("n") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val score = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) +
        lit(b) * col("dl") / (col("sum_dl") / col("n"))))
    hits.crossJoin(dfreq).crossJoin(stats)
      .select(col(idCol), col("tf").as("phrase_tf"),
        trunc6(score).as("bm25"))
  }

  private def phraseScore(hits: DataFrame, stats: DataFrame,
                          idCol: String, k1: Double, b: Double,
                          topN: Int): DataFrame =
    phraseScoreAll(hits, stats, idCol, k1, b)
      .orderBy(col("bm25").desc, col(idCol)).limit(topN)

  /** Exact N-WORD phrase retrieval by corpus scan (r14 ask #3 — the
    * two-word case generalized): a doc matches where `terms(0)` at
    * position p is immediately followed by `terms(1)` at p+1, …,
    * `terms(n−1)` at p+n−1; `tf` counts the start positions. One
    * narrow pass — a per-position n-way conjunction over the token
    * array, no explode. The scan twin of [[phraseBm25FromIndex]] —
    * bit-identical, [[phraseBm25Routed]] picks.
    */
  def phraseBm25(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double, b: Double,
                 topN: Int): DataFrame = {
    val (hits, stats) = phraseHitsScan(df, idCol, textCol, terms)
    phraseScore(hits, stats, idCol, k1, b, topN)
  }

  /** One corpus pass → the phrase's tf ≥ 1 hits `(idCol, dl, tf)` and
    * the broadcast exact `(sum_dl, n)` corpus stats (both read the
    * same lazy checkpoint). Shared by [[phraseBm25]] and the mixed
    * retrieval scan path. */
  private def phraseHitsScan(df: DataFrame, idCol: String,
                             textCol: String, terms: Seq[String])
      : (DataFrame, DataFrame) = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    val n = terms.size
    val toks = col("toks")
    // docs shorter than the phrase probe nothing (the when-guard also
    // keeps element_at in range — ANSI-safe)
    val tf = when(size(toks) >= n,
        size(filter(sequence(lit(1), size(toks) - (n - 1)),
          i => terms.zipWithIndex.map { case (t, k) =>
            element_at(toks, (i + lit(k)).cast("int")) === lit(t)
          }.reduce(_ && _))))
      .otherwise(lit(0))
    val all = df
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), size(toks).cast("long").as("dl"),
        tf.cast("long").as("tf"))
      .localCheckpoint(false) // one corpus pass; stats + score share it
    val stats = broadcast(all.agg(
      sum(col("dl")).cast("double").as("sum_dl"),
      count(lit(1)).cast("double").as("n")))
    (all.filter(col("tf") >= 1), stats)
  }

  /** Two-word convenience form of the n-ary [[phraseBm25]]. */
  def phraseBm25(df: DataFrame, idCol: String, textCol: String,
                 first: String, second: String, k1: Double = 1.2,
                 b: Double = 0.75, topN: Int = 10): DataFrame =
    phraseBm25(df, idCol, textCol, Seq(first, second), k1, b, topN)

  /** Exact N-word phrase retrieval by probing the positional index
    * (r13 ask #3, generalized to n terms by r14 ask #3): read ONLY
    * the n terms' postings (term filter pushed into each parquet scan
    * — the corpus text is never touched), k-way join on doc, and
    * count adjacency by positional intersection (`p+k` of the first
    * term present in term k's positions for every k). Fully lazy: the
    * df-count and the scoring each carry the pruned intersection
    * subtree — both run in ONE job, and re-running the index-scale
    * intersection (bounded by the rarest term's df) is cheaper than a
    * materialization barrier that would also hide the pruned scans
    * from the plan (PlanSpec pins the pushdown). Bit-identical to
    * [[phraseBm25]] on the same corpus.
    */
  def phraseBm25FromIndex(spark: org.apache.spark.sql.SparkSession,
                          index: IndexCommit, idCol: String,
                          terms: Seq[String], k1: Double, b: Double,
                          topN: Int): DataFrame =
    phraseScore(phraseHitsProbe(spark, index, idCol, terms),
      statsOf(spark, index), idCol, k1, b, topN)

  /** The phrase's tf ≥ 1 hits `(idCol, dl, tf)` by positional-postings
    * intersection — reads ONLY the n terms' postings (term filter
    * pushed into each parquet scan). Shared by [[phraseBm25FromIndex]]
    * and the mixed retrieval probe path. */
  private def phraseHitsProbe(spark: org.apache.spark.sql.SparkSession,
                              index: IndexCommit, idCol: String,
                              terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    def side(term: String, posAs: String, withDl: Boolean) = {
      val raw = index.read(spark, "postings")
        .filter(col("term") === term)
      if (withDl) raw.select(col(idCol), col("dl"), col("pos").as(posAs))
      else raw.select(col(idCol), col("pos").as(posAs))
    }
    val joined = terms.zipWithIndex.map { case (t, k) =>
      side(t, s"p$k", withDl = k == 0)
    }.reduce(_.join(_, Seq(idCol)))
    joined
      .select(col(idCol), col("dl"),
        size(filter(col("p0"),
          x => (1 until terms.size).map(k =>
            array_contains(col(s"p$k"), x + k)).reduce(_ && _)))
          .cast("long").as("tf"))
      .filter(col("tf") >= 1)
  }

  /** Two-word convenience form of the n-ary [[phraseBm25FromIndex]]. */
  def phraseBm25FromIndex(spark: org.apache.spark.sql.SparkSession,
                          index: IndexCommit, idCol: String, first: String,
                          second: String, k1: Double = 1.2,
                          b: Double = 0.75, topN: Int = 10): DataFrame =
    phraseBm25FromIndex(spark, index, idCol, Seq(first, second), k1, b,
      topN)

  /** Routing gate for N-word phrase retrieval: probe the index when
    * [[Index.gate]] passes (every committed BM25 index carries the
    * positional payload; a tree without a record, such as one built
    * before it, never routes); else one corpus pass. Results identical
    * either way.
    */
  def phraseBm25Routed(spark: org.apache.spark.sql.SparkSession,
                       df: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String], indexPath: Option[String],
                       k1: Double, b: Double, topN: Int,
                       // no default: the 2-word overload carries them
                       expectedVersion: Option[Long]): DataFrame =
    indexPath.flatMap(Index.gate(_, IndexKind.Bm25, df,
        expectedVersion)) match {
      case Some(c) =>
        phraseBm25FromIndex(spark, c, idCol, terms, k1, b, topN)
      case None => phraseBm25(df, idCol, textCol, terms, k1, b, topN)
    }

  /** Two-word convenience form of the n-ary [[phraseBm25Routed]]. */
  def phraseBm25Routed(spark: org.apache.spark.sql.SparkSession,
                       df: DataFrame, idCol: String, textCol: String,
                       first: String, second: String,
                       indexPath: Option[String], k1: Double = 1.2,
                       b: Double = 0.75, topN: Int = 10,
                       expectedVersion: Option[Long] = None): DataFrame =
    phraseBm25Routed(spark, df, idCol, textCol, Seq(first, second),
      indexPath, k1, b, topN, expectedVersion)

  /** MIXED retrieval — bag-of-words terms PLUS quoted phrases, the
    * realistic query surface BM25 engines expose (r15 verdict ask #6):
    * each doc's score is the sum of its bag-of-words BM25 over `terms`
    * and one phrase-unit BM25 per phrase in `phrases` (each component
    * is the EXISTING path's 6-dec-truncated score — so the mixed score
    * composes the already-pinned units), combined with a fixed
    * left-to-right double sum and re-truncated. Docs matching only
    * terms or only a phrase still score (full-outer combine, absent
    * components read 0). Top `topN` by (mixed score desc, id).
    */
  private def mixedCombine(termScores: DataFrame,
                           phraseScores: Seq[DataFrame], idCol: String,
                           topN: Int): DataFrame = {
    val t = termScores.select(col(idCol), col("bm25").as("bm25_terms"))
    val ps = phraseScores.zipWithIndex.map { case (p, i) =>
      p.select(col(idCol), col("bm25").as(s"__p$i"))
    }
    val joined = ps.foldLeft(t)((a, p) =>
      a.join(p, Seq(idCol), "full_outer"))
    // fixed left-to-right fold over ≤ a handful of 6-dec components:
    // deterministic double addition, identical in any engine
    val phraseSum = ps.indices
      .map(i => coalesce(col(s"__p$i"), lit(0d))).reduce(_ + _)
    joined
      .select(col(idCol),
        coalesce(col("bm25_terms"), lit(0d)).as("bm25_terms"),
        phraseSum.as("bm25_phrase"))
      .select(col(idCol), col("bm25_terms"), col("bm25_phrase"),
        trunc6(col("bm25_terms") + col("bm25_phrase")).as("mixed_bm25"))
      .orderBy(col("mixed_bm25").desc, col(idCol)).limit(topN)
  }

  /** Mixed retrieval by corpus scan — the scan twin of
    * [[mixedBm25FromIndex]], bit-identical; [[mixedBm25Routed]] picks.
    */
  def mixedBm25(df: DataFrame, idCol: String, textCol: String,
                terms: Seq[String], phrases: Seq[Seq[String]],
                k1: Double = 1.2, b: Double = 0.75,
                topN: Int = 10): DataFrame = {
    require(terms.nonEmpty && phrases.nonEmpty,
      "mixed retrieval needs both terms and at least one phrase " +
        "(use bm25 / phraseBm25 for the pure forms)")
    mixedCombine(bm25(df, idCol, textCol, terms, k1, b),
      phrases.map { ph =>
        val (hits, stats) = phraseHitsScan(df, idCol, textCol, ph)
        phraseScoreAll(hits, stats, idCol, k1, b)
      }, idCol, topN)
  }

  /** Mixed retrieval by probing the positional index ONCE per
    * component: the bag side reads only `terms`' postings, each phrase
    * side only its own terms' postings — the corpus text is never
    * touched. */
  def mixedBm25FromIndex(spark: org.apache.spark.sql.SparkSession,
                         index: IndexCommit, idCol: String,
                         terms: Seq[String], phrases: Seq[Seq[String]],
                         k1: Double = 1.2, b: Double = 0.75,
                         topN: Int = 10): DataFrame = {
    require(terms.nonEmpty && phrases.nonEmpty,
      "mixed retrieval needs both terms and at least one phrase")
    val stats = statsOf(spark, index)
    mixedCombine(bm25FromIndex(spark, index, idCol, terms, k1, b),
      phrases.map(ph => phraseScoreAll(
        phraseHitsProbe(spark, index, idCol, ph), stats, idCol, k1, b)),
      idCol, topN)
  }

  /** Routing gate for mixed retrieval — the [[phraseBm25Routed]] gate.
    * Results identical either way. */
  def mixedBm25Routed(spark: org.apache.spark.sql.SparkSession,
                      df: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String], phrases: Seq[Seq[String]],
                      indexPath: Option[String], k1: Double = 1.2,
                      b: Double = 0.75, topN: Int = 10,
                      expectedVersion: Option[Long] = None): DataFrame =
    indexPath.flatMap(Index.gate(_, IndexKind.Bm25, df,
        expectedVersion)) match {
      case Some(c) =>
        mixedBm25FromIndex(spark, c, idCol, terms, phrases, k1, b, topN)
      case None =>
        mixedBm25(df, idCol, textCol, terms, phrases, k1, b, topN)
    }

  /** Rollup-style routing for BM25 (GraftClient's rollup route, retrieval
    * edition): probe the committed index at `indexPath` when
    * [[Index.gate]] passes (its stamp equals `expectedVersion`, or
    * without one its N equals the live corpus count), else fall back
    * to the one-pass corpus scan. A stale index — one that predates an
    * ingest — re-routes to the scan instead of silently serving old
    * scores (VERDICT r13 ask #1); [[Index.refresh]] restores the probe
    * path. Scores are identical either way — routing cannot change
    * results, only whether the corpus text is re-tokenized.
    */
  def bm25Routed(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                 idCol: String, textCol: String, terms: Seq[String],
                 indexPath: Option[String], k1: Double = 1.2,
                 b: Double = 0.75,
                 expectedVersion: Option[Long] = None): DataFrame =
    indexPath.flatMap(Index.gate(_, IndexKind.Bm25, df,
        expectedVersion)) match {
      case Some(c) => bm25FromIndex(spark, c, idCol, terms, k1, b)
      case None => bm25(df, idCol, textCol, terms, k1, b)
    }

  /** Karp–Rabin polynomial rolling hash of the first `maxChars`
    * characters: fold `acc = (acc*31 + ascii(char)) mod 1e9+7`.
    * Deterministic content fingerprint with incremental-window
    * structure (the building block for content-defined chunking).
    */
  def rollingFingerprint(textCol: Column, maxChars: Int = 64): Column = {
    val s = substring(lower(textCol), 1, maxChars)
    // sequence(1, n) would DESCEND for n=0 (empty text) — guard to 1 char.
    aggregate(
      sequence(lit(1), greatest(length(s), lit(1))),
      lit(0L),
      (acc, i) => pmod(acc * 31 + ascii(s.substr(i, lit(1))), lit(1000000007L)))
  }
}
