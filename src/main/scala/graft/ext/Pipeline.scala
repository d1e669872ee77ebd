package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond dedup/similarity (north-star
  * §2.F family): benchmark decontamination, PII redaction, and a
  * Gopher-style quality-rule chain. All are narrow per-document
  * projections or broadcast-side joins — no shape that degrades at
  * 100 TB (the one join broadcasts the small benchmark gram set; swap
  * in a bloom-filter pre-pass when the benchmark side outgrows the
  * broadcast threshold).
  */
object Pipeline {

  /** Benchmark decontamination: drop every corpus document sharing at
    * least one word `n`-gram with the benchmark set — the standard
    * "remove eval-set overlap from training data" pass (cf. GPT-3
    * appendix C / Gopher §A.8 13-gram decontamination, both public).
    *
    * Shape: shingle both sides (narrow explode), broadcast the DISTINCT
    * benchmark grams (eval suites are tiny next to a training corpus),
    * hash-semi-join, then LEFT ANTI against the hit list. The corpus is
    * scanned once; nothing shuffles but the (small) hit-id set.
    */
  def decontaminateNgram(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int): DataFrame = {
    val corpusGrams = Dedup.shingles(corpus, idCol, textCol, n)
    val benchGrams = Dedup.shingles(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val contaminated = corpusGrams.join(broadcast(benchGrams), "shingle")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** GRADED decontamination — the fraction-threshold variant (the
    * BIG-bench / GPT-3 appendix style): instead of dropping a doc on
    * ANY shared n-gram, report the FRACTION of its n-gram positions
    * found in the benchmark gram set and keep docs at or under
    * `maxOverlap` (incidental collisions survive, wholesale inclusions
    * are caught). Same scale shape as [[decontaminateNgram]] — the
    * benchmark gram set joins the corpus gram stream (broadcast when
    * small, bloom route when not) — plus one per-doc aggregation.
    * Docs shorter than `n` words have no grams and report NULL frac
    * with keep = true, mirroring `Dedup.spanDupStats`.
    */
  def decontaminateOverlapFrac(corpus: DataFrame, bench: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               maxOverlap: Double): DataFrame = {
    val corpusGrams = Dedup.shingles(corpus, idCol, textCol, n)
    val benchGrams = Dedup.shingles(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val total = corpusGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    val hit = corpusGrams.join(broadcast(benchGrams), "shingle")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    corpus.select(col(idCol))
      .join(total, Seq(idCol), "left")
      .join(hit, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_grams").isNotNull,
          TextStats.trunc6(coalesce(col("n_hit"), lit(0L)) / col("n_grams")))
          .as("overlap_frac"))
      .withColumn("keep",
        col("overlap_frac").isNull || col("overlap_frac") <= maxOverlap)
  }

  /** [[decontaminateNgram]]'s scale path for when the benchmark gram
    * set outgrows the broadcast threshold: a BLOOM pre-filter on gram
    * hashes cuts the corpus gram stream to near-hit-only BEFORE the
    * exact shuffle join confirms membership (the bloom admits false
    * positives, so the exact join stays — correctness never depends on
    * the sketch; the sketch only prunes the join's probe side, which
    * at 100 TB is the difference between shuffling every corpus gram
    * and shuffling the contaminated sliver).
    *
    * Uses Spark's own bloom machinery (`BloomFilterAggregate` /
    * `BloomFilterMightContain`, surfaced by [[graft.GraftFunctions]])
    * — a mergeable binary sketch built in one aggregation and probed
    * by a codegen'd predicate.
    */
  def decontaminateNgramBloom(corpus: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String, n: Int,
                              expectedItems: Long = 1000000L): DataFrame = {
    graft.GraftFunctions.register(corpus.sparkSession)
    val corpusGrams = Dedup.shingles(corpus, idCol, textCol, n)
    val benchGrams = Dedup.shingles(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
    // the sketch is a bounded driver artifact (~1.2 bytes/item at the
    // default 3% fpp) inlined as a LITERAL — the same shape AQE's
    // runtime row-level filtering injects, and what MightContain
    // requires (its bloom side must be a constant or scalar subquery)
    val bf = benchGrams
      .select(expr(s"bloom_agg(xxhash64(shingle), ${expectedItems}L)")
        .as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val survivors = corpusGrams
      .filter(call_function("bloom_might_contain", lit(bf),
        expr("xxhash64(shingle)")))
      .select(col(idCol), col("shingle"))
    // exact confirm on the pruned stream — NO broadcast hint: this path
    // exists precisely because the bench side is too big to broadcast
    val contaminated = survivors.join(benchGrams, "shingle")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  // Redaction patterns — the conservative RE2-compatible subset so the
  // same pattern text runs identically under Java regex (Spark) and
  // RE2 (DuckDB oracle): no lookaround, no backrefs.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{2,3}[ -][0-9]{3}[ -][0-9]{4}"
  val LongNumRe = "[0-9]{6,}"

  /** PII redaction: emails, phone-shaped numbers, and long digit runs
    * replaced by typed placeholders, with per-document match counts
    * (the audit trail). Counts come from the ORIGINAL text; the
    * replacements chain so a phone inside an already-redacted email
    * cannot double-fire. Pure narrow projection — codegen'd regex per
    * row, zero shuffles.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))))
      .withColumn("n_longnums",
        size(regexp_extract_all(col(textCol), lit(LongNumRe), lit(0))))
      .withColumn("clean",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          LongNumRe, "<NUM>"))

  /** Repetition audit (Gopher §A.1.2's duplicate n-gram fraction,
    * adapted to flat word streams): per document, the fraction of word
    * 2-grams that are repeats of an earlier 2-gram. High values flag
    * boilerplate/generated text. Pure narrow projection over the
    * in-row token array — no explode, no shuffle.
    */
  def repetitionStats(df: DataFrame, textCol: String,
                      maxDupFrac: Double = 0.4): DataFrame = {
    // backtick-quote so a name with dots/spaces binds as ONE column
    // (bare col() parses dots as struct-field access); prefixed scratch
    // name so a user column is never clobbered
    val wc = "__graft_words"
    val w = split(col("`" + textCol.replace("`", "``") + "`"), " ")
    // typed Column API throughout (a raw name interpolated into expr()
    // breaks on names needing quoting); projecting the words FIRST and
    // filtering on the projected column keeps the split to one
    // evaluation per row.
    val grams = transform(
      sequence(lit(0), size(col(wc)) - 2),
      i => concat_ws(" ",
        element_at(col(wc), i + 1),
        element_at(col(wc), i + 2)))
    df.withColumn(wc, w)
      .filter(size(col(wc)) >= 2)
      .withColumn("n_2grams", (size(col(wc)) - 1).cast("long"))
      .withColumn("dup_2gram_frac", TextStats.trunc6(
        lit(1.0) - size(array_distinct(grams)).cast("double") /
          (size(col(wc)) - 1)))
      .withColumn("r_repetition", col("dup_2gram_frac") <= maxDupFrac)
      .drop(wc)
  }

  /** Gopher-style quality-rule chain: per-document boolean verdicts for
    * each rule plus the conjunction, alongside the underlying stats
    * (6-decimal-truncated ratios so the audit columns hash identically
    * across engines). Thresholds follow the published Gopher rules
    * (Rae et al. 2021 §A.2) adapted to the synthetic corpus. One narrow
    * projection; the rule columns make the filter auditable — a plain
    * `filter(pass)` would discard the WHY.
    */
  def qualityRules(df: DataFrame, textCol: String,
                   minWords: Int = 50, maxWords: Int = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   minDistinctRatio: Double = 0.3): DataFrame = {
    val w = split(col(textCol), " ")
    val nWords = size(w)
    val wordChars = length(array_join(w, ""))
    val meanLen = wordChars.cast("double") / nWords
    val distinctRatio = size(array_distinct(w)).cast("double") / nWords
    df.withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len", TextStats.trunc6(meanLen))
      .withColumn("distinct_ratio", TextStats.trunc6(distinctRatio))
      .withColumn("r_length", nWords >= minWords && nWords <= maxWords)
      .withColumn("r_word_len",
        meanLen >= minMeanLen && meanLen <= maxMeanLen)
      .withColumn("r_distinct", distinctRatio > minDistinctRatio)
      .withColumn("pass",
        col("r_length") && col("r_word_len") && col("r_distinct"))
  }
}
