package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (north-star
  * extension §2.F — no reference implementation; designed for the
  * standard exact / MinHash-LSH / SimHash / n-gram-Jaccard pipeline at
  * 100 TB scale: everything is groupBy/join on derived keys, never an
  * O(n²) cross product; candidate generation is banded LSH so the join
  * fan-out is bounded by bucket size).
  *
  * All hashes are built from `md5` hex strings so results are
  * deterministic and reproducible in any engine (the DuckDB oracle uses
  * the byte-identical construction).
  */
object Dedup {

  /** Exact dedup: group by content hash of the normalised text, keep
    * the first (minimum) id per group. Map-side combinable single
    * shuffle on the 128-bit hash — the canonical 100 TB exact-dedup.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(trim(col(textCol)))).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Word `n`-gram shingles per document: one row per (id, position) —
    * duplicates KEPT. `explode(sequence)` keeps generation inside
    * codegen and the whole op narrow (zero shuffles). Every consumer is
    * duplicate-insensitive — minhash takes `min`, Jaccard gathers
    * `collect_set`, decontamination semi-joins then distincts ids — so
    * a corpus-scale `.distinct()` here would buy nothing and cost the
    * single largest shuffle of the dedup pipeline (the full shingle
    * stream). Set semantics happen where sets are actually needed.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame = {
    val words = split(col(textCol), " ")
    df.select(col(idCol), words.as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol),
        explode(sequence(lit(0), size(col("w")) - n)).as("i"), col("w"))
      .select(col(idCol),
        array_join(slice(col("w"), col("i") + 1, lit(n)), " ").as("shingle"))
  }

  /** MinHash signatures, wide: one row per id with columns
    * `mh0..mh{k-1}` = min over the document's shingles of
    * `md5(h || '|' || shingle)` (hex strings compare lexicographically —
    * engine-neutral). A SINGLE hash aggregation with k `min` aggregates:
    * no k-fold row blow-up, no second shuffle — at corpus scale the
    * signature pass is one map-side-combinable pass over the shingles.
    */
  def minhash(shingleDf: DataFrame, idCol: String,
              numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map { h =>
      min(md5(concat(lit(h.toString), lit("|"), col("shingle")))).as(s"mh$h")
    }
    shingleDf.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over a wide signature: consecutive groups of
    * `rowsPerBand` minhashes form a band whose key is the md5 of their
    * comma-join. Pure narrow projection + explode — no shuffle.
    */
  def bands(sig: DataFrame, idCol: String, numHashes: Int,
            rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val entries = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", parts: _*)).as("band_key"))
    }
    sig.select(col(idCol), explode(array(entries: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band. The
    * self-join shuffles on (band, band_key) — bucket-local, never
    * all-pairs.
    */
  def candidatePairs(bandDf: DataFrame, idCol: String): DataFrame = {
    val a = bandDf.select(col(idCol).as("a_id"), col("band"), col("band_key"))
    val b = bandDf.select(col(idCol).as("b_id"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs: per-doc shingle SETS are
    * gathered once (restricted by semi-join to docs that appear in a
    * candidate pair — candidate-scale, not corpus-scale), then
    * |A∩B| = `size(array_intersect)` evaluated per pair. Two equi-joins
    * on the id keys + a narrow projection; no corpus-wide shuffle per
    * pair. The set tables carry NO forced broadcast hint: on a crawl,
    * near-dup candidates are a double-digit fraction of the corpus and
    * the payload is full shingle arrays — far past the broadcast limit.
    * AQE broadcasts when the runtime size allows; otherwise the joins
    * shuffle on `a_id`/`b_id`, which distribute fine.
    */
  def jaccard(cands: DataFrame, shingleDf: DataFrame,
              idCol: String): DataFrame = {
    val ids = cands.select(col("a_id").as(idCol))
      .union(cands.select(col("b_id").as(idCol))).distinct()
    val sets = shingleDf.join(ids, Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("shingle")).as("sset"))
    jaccardFromSets(cands, sets, idCol)
  }

  /** `jaccard` over a PREBUILT (id, sset) table — callers that verify
    * several measures over the same candidate set (jaccard,
    * containment, estimate audit) aggregate the sets once and share
    * them (ExtQueries memoizes exactly this table).
    */
  def jaccardFromSets(cands: DataFrame, sets: DataFrame,
                      idCol: String): DataFrame = {
    val a = sets.select(col(idCol).as("a_id"), col("sset").as("a_set"))
    val b = sets.select(col(idCol).as("b_id"), col("sset").as("b_set"))
    cands.join(a, "a_id").join(b, "b_id")
      .withColumn("n_inter", size(array_intersect(col("a_set"), col("b_set"))))
      .withColumn("jaccard",
        TextStats.trunc6(col("n_inter") /
          (size(col("a_set")) + size(col("b_set")) - col("n_inter"))))
      .select("a_id", "b_id", "jaccard")
  }

  /** Connected components over the candidate-pair graph — dedup
    * clustering: every doc gets the minimum doc id reachable through
    * near-dup edges. Hash-to-min label propagation: each iteration
    * joins labels across edges and takes the min; converges in
    * graph-diameter iterations with early stop. Near-dup components are
    * small by construction (they are candidate buckets), so the loop is
    * a handful of candidate-scale shuffles; a web-scale graph would
    * swap in the large-star/small-star variant on the same join shape.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverThreshold: Long = 1000000L): DataFrame = {
    // Candidate graphs are bucket-scale by construction; below the
    // threshold a driver-side union-find beats ~log(diameter) rounds of
    // cluster-wide joins (each round is several jobs). Above it, the
    // distributed hash-to-min + pointer-jumping loop takes over.
    val spark = pairs.sparkSession
    // ONE action decides the path AND fetches the edges: limit(T+1) +
    // collect. pairs.count() followed by collect() would run the whole
    // upstream LSH pipeline twice (or once + a cache read) — on small
    // candidate graphs the job-scheduling overhead of the extra action
    // costs more than the data.
    val firstBatch = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .limit((driverThreshold + 1).toInt).collect()
    if (firstBatch.length <= driverThreshold) {
      val es = firstBatch.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      import spark.implicits._
      return labels.toDF("id", "cluster_id")
    }
    // localCheckpoint (NOT persist) per generation: iterative plans nest
    // their whole history otherwise — the logical plan doubles per
    // iteration and analysis OOMs long before the data does
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var prevSum = Long.MinValue
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dst_label")).as("nbr_label"))
      val propagated = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jumping: label ← label(label). Labels are always node
      // ids (mins of ids), so the self-join is total; this turns
      // diameter-many rounds into ~log(diameter).
      val updated = propagated
        .join(propagated.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"))
        .select(col("id"), col("ll").as("label"))
        .localCheckpoint()
      // convergence check without a join: labels only ever decrease, so
      // the label sum is a strictly-decreasing progress measure
      val sumNow = updated.agg(sum(col("label"))).head().getLong(0)
      changed = if (sumNow == prevSum) 0L else 1L
      prevSum = sumNow
      labels = updated
      i += 1
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Hamming-radius near-dup pairs over simhash bit-strings. The scale
    * shape is PIGEONHOLE banding: split the `bits`-char fingerprint
    * into `maxDist + 1` bands — two fingerprints within `maxDist` must
    * agree exactly on at least one band — so candidate generation is a
    * per-band equality self-join (bucket-local, like MinHash-LSH),
    * never all-pairs; candidates verify with the native codegen'd
    * [[graft.expr.HammingDistance]].
    */
  def simhashRadius(sim: DataFrame, idCol: String, simhashCol: String,
                    maxDist: Int, bits: Int = 16): DataFrame = {
    if (maxDist == 1) return simhashRadius1(sim, idCol, simhashCol, bits)
    val nBands = maxDist + 1
    val base = bits / nBands
    val bands = (0 until nBands).map { b =>
      val start = b * base + 1
      val len = if (b == nBands - 1) bits - b * base else base
      struct(lit(b).as("band"),
        substring(col(simhashCol), start, len).as("key"))
    }
    val banded = sim.select(col(idCol), col(simhashCol),
      explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col(simhashCol),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col(idCol).as("a_id"), col(simhashCol).as("sa"),
      col("band"), col("key"))
    val b = banded.select(col(idCol).as("b_id"), col(simhashCol).as("sb"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "sa", "sb").distinct()
      .withColumn("dist",
        graft.expr.HammingDistance.hamming(col("sa"), col("sb")))
      .filter(col("dist") <= maxDist)
      .select("a_id", "b_id", "dist")
  }

  /** Radius-1 multi-index specialization (Manku et al.'s flipped-copy
    * table, public Google simhash paper): each doc keys on its OWN
    * hash plus every one-bit flip, joined against the plain hashes —
    * a pair is within distance 1 iff some key matches EXACTLY, so the
    * join is the answer (no post-verify band false positives).
    *
    * Why not the pigeonhole half-banding (general path): with `bits/2`
    * -wide bands the bucket keyspace is tiny and real corpora cluster,
    * so near-identical docs pile into few buckets and the self-join
    * goes quadratic IN THE BUCKET (measured: 465k candidate pairs for
    * 500 docs → 2.5–3 s verifying). Here the key is the full `bits`
    * string: fan-out is a fixed `(bits+1)×` row explode — linear, skew
    * bounded by true-duplicate group size, which the OUTPUT is already
    * quadratic in. Same result rows, same oracle.
    */
  private def simhashRadius1(sim: DataFrame, idCol: String,
                             simhashCol: String, bits: Int): DataFrame = {
    val s = col(simhashCol)
    val flips = (1 to bits).map { i =>
      val flipped = when(substring(s, i, 1) === "0", "1").otherwise("0")
      if (i == 1) concat(flipped, substring(s, 2, bits - 1))
      else if (i == bits) concat(substring(s, 1, bits - 1), flipped)
      else concat(substring(s, 1, i - 1), flipped,
        substring(s, i + 1, bits - i))
    }
    val keyed = sim.select(col(idCol).as("a_id"), s.as("sa"),
      explode(array((s +: flips): _*)).as("key"))
    val plain = sim.select(col(idCol).as("b_id"), s.as("key"))
    keyed.join(plain, "key")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.expr.HammingDistance.hamming(col("sa"), col("key")).as("dist"))
      .distinct()
  }

  /** Incremental (batch-vs-index) exact dedup — the shape production
    * ingestion actually runs: a NEW batch is checked against the
    * persisted content-hash index of the already-deduped corpus, and
    * against itself, without ever rescanning corpus text. Verdicts:
    * `dup_of_corpus` (hash already indexed — canonical is the corpus
    * holder), `dup_in_batch` (first batch occurrence wins), `new`.
    *
    * Scale shape: the index side is corpus-scale, the batch side is
    * small. An outer join cannot broadcast its preserved side (Spark
    * builds the hash table on the other side), so the probe is split:
    * an INNER join of the index against the broadcast batch-hash set
    * (the only touch of the big table — a broadcast-hash probe, no
    * index shuffle) yields a hit list bounded by the BATCH size, which
    * then left-joins back onto the batch rows broadcast-side. Corpus
    * text is never read; every non-index frame is batch-scale.
    *
    * @param corpusIndex (content_hash, corpus_id) — e.g.
    *                    `exact(corpus, id, text).select(hash, min-id)`.
    *                    One row per hash is the contract; a
    *                    multi-row-per-hash index is normalised here to
    *                    min(corpus_id) so batch rows are never
    *                    duplicated by the probe join.
    */
  def incremental(batch: DataFrame, corpusIndex: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val bh = batch.select(col(idCol),
      md5(lower(trim(col(textCol)))).as("content_hash"))
    val firsts = bh.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("batch_first"))
    val withFirsts = bh.join(broadcast(firsts), Seq("content_hash"))
    // enforce the one-row-per-hash contract (cheap: hit-list scale after
    // the semi-probe below, but aggregating first keeps the hit list
    // itself duplicate-free and bounded by distinct batch hashes)
    val hits = corpusIndex
      .join(broadcast(withFirsts.select("content_hash").distinct()),
        Seq("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("corpus_id")).as("corpus_id"))
    withFirsts
      .join(broadcast(hits), Seq("content_hash"), "left")
      .select(col(idCol), col("content_hash"),
        when(col("corpus_id").isNotNull, lit("dup_of_corpus"))
          .when(col("batch_first") < col(idCol), lit("dup_in_batch"))
          .otherwise(lit("new")).as("verdict"),
        when(col("corpus_id").isNotNull, col("corpus_id"))
          .when(col("batch_first") < col(idCol), col("batch_first"))
          .otherwise(col(idCol)).as("canonical_id"))
  }

  /** Incremental NEAR-dup (batch-vs-index) dedup — the MinHash-LSH
    * companion to [[incremental]]: a new batch is checked against the
    * PERSISTED band index of the already-deduped corpus (and against
    * itself) without ever rescanning corpus text. Verdicts:
    * `near_dup_of_corpus` (some band matches an indexed doc —
    * canonical is the min matching corpus id), `near_dup_in_batch`
    * (a band matches an earlier batch doc — first batch occurrence
    * wins), `new`. Corpus hits take precedence over batch hits.
    *
    * Scale shape: the batch's shingle→minhash→band chain is
    * batch-scale and narrow; the ONLY touch of the corpus-scale index
    * is an inner join against the BROADCAST batch band list — a
    * broadcast-hash probe, so the index (pre-bucketed on
    * (band, band_key) at rest) never shuffles. Both hit lists are
    * bounded by the batch size and re-join the batch broadcast-side.
    * Docs shorter than the shingle width have no bands and verdict
    * `new` — the same blind spot any MinHash pipeline has.
    *
    * @param corpusBands (band, band_key, corpus_id) — e.g.
    *                    `bands(minhash(shingles(corpus,…),…),…)` with
    *                    the id renamed, written bucketed by the band
    *                    key columns.
    */
  def incrementalNear(batch: DataFrame, corpusBands: DataFrame,
                      idCol: String, textCol: String, numHashes: Int,
                      rowsPerBand: Int, n: Int): DataFrame = {
    // lazy localCheckpoint: the batch band list feeds BOTH probes —
    // build the (batch-scale) chain once, leak no CacheManager entry
    val bBands = bands(
      minhash(shingles(batch, idCol, textCol, n), idCol, numHashes),
      idCol, numHashes, rowsPerBand).localCheckpoint(false)
    val probe = bBands.select(col(idCol), col("band"), col("band_key"))
    val corpusHits = corpusBands
      .join(broadcast(probe), Seq("band", "band_key"))
      .groupBy(col(idCol)).agg(min(col("corpus_id")).as("corpus_nn"))
    // the within-batch self-join is batch-scale on BOTH sides — the
    // broadcast here is bounded by the batch band list, same contract
    // as every other batch-derived frame in the incremental family
    val earlier = probe
      .join(broadcast(
          probe.select(col(idCol).as("__a"), col("band"), col("band_key"))),
        Seq("band", "band_key"))
      .filter(col("__a") < col(idCol))
      .groupBy(col(idCol)).agg(min(col("__a")).as("batch_first"))
    batch.select(col(idCol))
      .join(broadcast(corpusHits), Seq(idCol), "left")
      .join(broadcast(earlier), Seq(idCol), "left")
      .select(col(idCol),
        when(col("corpus_nn").isNotNull, lit("near_dup_of_corpus"))
          .when(col("batch_first").isNotNull, lit("near_dup_in_batch"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("corpus_nn"), col("batch_first"), col(idCol))
          .as("canonical_id"))
  }

  /** Sub-document duplicated-SPAN audit — the approximate form of
    * suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a doc's span is
    * "duplicated" when its word `n`-gram also occurs in ANOTHER doc.
    * Output per doc: total n-gram positions, positions covered by a
    * cross-doc duplicated gram, the duplicated fraction, and a keep
    * verdict (`dupFracMax`).
    *
    * Scale shape (the honest one — there is no all-pairs anywhere):
    *  1. one hash aggregation shingle→(id, gram, positions)  — map-side
    *     combinable over the shingle stream;
    *  2. one hash aggregation gram→n_docs — map-side combinable;
    *  3. join (id, gram) rows against the grams with n_docs ≥ 2 on the
    *     gram key. Duplicated grams are a small fraction of a healthy
    *     corpus, so the right side is usually broadcastable; we leave
    *     the shuffle join for the adversarial corpus where it is not —
    *     AQE converts it back to broadcast when the runtime size allows.
    * Docs shorter than `n` words have zero positions and report
    * dup_frac NULL with keep = true.
    */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int, dupFracMax: Double = 0.5): DataFrame = {
    val pos = shingles(df, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("positions"))
    val crossDoc = pos.groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("shingle")
    val dupPerDoc = pos.join(crossDoc, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sum(col("positions")).as("n_dup_grams"))
    val totals = pos.groupBy(col(idCol))
      .agg(sum(col("positions")).as("n_grams"))
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(dupPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        when(col("n_grams").isNotNull,
          TextStats.trunc6(coalesce(col("n_dup_grams"), lit(0L)) /
            col("n_grams"))).as("dup_frac"))
      .withColumn("keep",
        col("dup_frac").isNull || col("dup_frac") <= dupFracMax)
  }

  /** Exact duplicated-SUBSTRING runs — the Lee et al. 2022 /
    * RefinedWeb "remove exact substrings ≥ N tokens" pass, distributed
    * as sorted-shingle-run merging instead of a suffix array (ref
    * motif: dedup_span_ngram's gram machinery, extended from a
    * fraction to RANGES):
    *  1. per doc, word positions with their CHARACTER offsets (one
    *     window cumsum per doc);
    *  2. word n-grams at every position via `lead` (one window pass —
    *     no array blow-up, the gram stream stays one row per word);
    *  3. grams occurring ≥ 2 times anywhere in the corpus (same doc
    *     counts — self-repetition is duplication too) mark their
    *     positions as duplicated;
    *  4. per doc, consecutive duplicated positions merge into maximal
    *     runs (lag-gap + running sum — the classic islands trick);
    *     a run covering i..j spans j − i + n words.
    * Output: one row per maximal run of ≥ `minRunWords` words —
    * (id, start_word, run_words, start_char, end_char) with end_char
    * exclusive, i.e. `substr(text, start_char+1, end_char−start_char)`
    * IS the duplicated substring a curation pass would cut.
    *
    * Scale shape: shuffles only on (id) for the windows and on the
    * gram key for the occurrence count — never a doc-pair stage
    * (PlanSpec pins it). The dup-gram list routes through
    * [[TextStats.gatedBroadcast]]: corpus-scale gram joins degrade to
    * a shuffle instead of a driver OOM when real duplication volume
    * outgrows the gate.
    */
  def substringRuns(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minRunWords: Int = 50): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(minRunWords >= n,
      s"minRunWords ($minRunWords) must be >= the gram width ($n)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("i"))
    val wCum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // Dup-gram CENSUS on a LEAN gram stream (r18, guide §2.3/§8): this
    // side needs only the gram strings, so it skips the char-offset
    // cumsum entirely (one lead window instead of two window passes)
    // and — crucially — nothing corpus-scale materializes: the r17
    // shape localCheckpointed the full gram stream (~8× the text
    // bytes) just so the count and the probe could share it. Only the
    // BOUNDED census result (grams occurring ≥ 2×) checkpoints now;
    // the gate's count() materializes it once and the broadcast build
    // reads those rows. (A window-free array derivation — transform/
    // slice/concat_ws over the words array — was measured first and
    // rejected: the interpreted higher-order chain cost +0.3 s over
    // this lead-window census at sf0.1/local[8].)
    val census = df
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("i", "word")))
      .select(
        concat_ws(" ",
          col("word") +: (1 until n).map(j => lead(col("word"), j).over(w)): _*)
          .as("gram"),
        lead(col("word"), n - 1).over(w).as("__last"))
      .filter(col("__last").isNotNull) // i > size-n has no full gram
      .groupBy(col("gram")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("gram")
      .localCheckpoint(false)
    val dupGrams = TextStats.gatedBroadcast(census)
    // Probe side: ONE doc_id exchange + sort serves ALL four windows
    // (char-offset cumsum, gram/end_char leads, run-merge lag + run-id
    // sum) AND the final (id, run_id) aggregate — the broadcast gram
    // probe preserves the streamed side's partitioning and ordering,
    // so nothing between the windows forces a re-exchange (r17 verdict
    // ask #3; the r17 plan paid a second doc_id Exchange+Sort because
    // the checkpoint erased the partitioning under AQE).
    val pos = df
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("i", "word")))
      .withColumn("start_char",
        coalesce(sum(length(col("word")) + 1).over(wCum), lit(0L)))
    val grams = pos.select(col(idCol), col("i"), col("start_char"),
        concat_ws(" ",
          col("word") +: (1 until n).map(j => lead(col("word"), j).over(w)): _*)
          .as("gram"),
        (lead(col("start_char"), n - 1).over(w) +
          length(lead(col("word"), n - 1).over(w))).as("end_char"))
      .filter(col("end_char").isNotNull) // i > size-n has no full gram
    val dupPos = grams.join(dupGrams, Seq("gram"))
      .withColumn("newrun",
        when(col("i") - lag(col("i"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("run_id", sum(col("newrun")).over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    dupPos.groupBy(col(idCol), col("run_id"))
      .agg(min(col("i")).cast("long").as("start_word"),
        (max(col("i")) - min(col("i")) + n).cast("long").as("run_words"),
        min(col("start_char")).as("start_char"),
        max(col("end_char")).as("end_char"))
      .filter(col("run_words") >= minRunWords)
      .select(col(idCol), col("start_word"), col("run_words"),
        col("start_char"), col("end_char"))
  }

  /** 16-bit SimHash over whitespace tokens. Bit `i` of a token is the
    * top bit of nibble `i` of `md5(token)` (hex char in [89abcdef]);
    * the document bit is the exact-integer majority vote
    * (`2*ones >= tokens`, no float threshold). Output: (id, simhash
    * bit-string). Hamming-adjacent grouping is then a groupBy on the
    * fingerprint (or on fingerprint chunks for distance>0 lookups).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    val tokens = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("tok"))
      .withColumn("md5", md5(col("tok")))
    val bitCols = tokens.select(
      col(idCol) +: (0 until bits).map { i =>
        // top bit of nibble i: hex digit value >= 8
        (conv(substring(col("md5"), i + 1, 1), 16, 10).cast("int") >= 8)
          .cast("int").as(s"b$i")
      }: _*)
    val agg = bitCols.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_tok"),
      (0 until bits).map(i => sum(col(s"b$i")).as(s"s$i")): _*)
    agg.select(col(idCol),
      concat((0 until bits).map(i =>
        when(col(s"s$i") * 2 >= col("n_tok"), lit("1")).otherwise(lit("0"))): _*
      ).as("simhash"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup in
    * embedding space — the published recipe exactly: cluster first so
    * the pairwise stage is bounded (Σ cell², never corpus²), then
    * within-cell pairs at cosine ≥ `tau` collapse to the lowest id.
    * At 100 TB the assigned table is written partitioned by `cell`, so
    * each task's pair join is cell-local with zero shuffle; cells come
    * from any centroid set ([[Similarity.ivfAssign]] here — a fitted
    * k-means set slots in unchanged). Per-row verdict (`kept`/`dup` +
    * canonical id) so curation pipelines join on it directly.
    */
  def semantic(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, centIdCol: String, centVecCol: String,
               tau: Double): DataFrame = {
    // an empty centroid set would silently assign NOTHING (the argmax
    // crossjoin drops every row) — reject it like incremental() rejects
    // a malformed index, rather than return an empty "all clean" result
    require(centroids.limit(1).count() == 1L,
      "Dedup.semantic: centroid set is empty — every row would be " +
        "silently dropped instead of deduped")
    // the collapse tail materializes the assignment ONCE (lazily) for
    // its three consumers; at 100 TB this is the step that writes the
    // cell-partitioned table. cap <= 0: the caller owns the cell-size
    // story for an explicit centroid set.
    val cells = Similarity.ivfAssign(df, idCol, vecCol,
      centroids, centIdCol, centVecCol)
    collapseCells(cells.select(col(idCol), col(vecCol), col("cell")),
      idCol, vecCol, tau, cap = 0)
  }

  /** Sample size per coarse centroid for [[semanticFitted]]'s k-means
    * fit — the FAISS-style "train on a bounded sample" practice that
    * keeps the Lloyd update O(sample · dim) instead of O(n · dim).
    */
  val SemanticFitSamplePerCell = 50

  /** [[semantic]] over FITTED structure with a corpus-scaled cell
    * count — the published SemDeDup parameterization: the caller names
    * a target cell SIZE and the cell count k = ⌈n / target⌉ grows with
    * the corpus, so the within-cell pair stage stays Σ cell² ≈
    * n · target (LINEAR in n at fixed target), never quadratic. A
    * fixed k would silently turn the pair join quadratic at 100× the
    * data; this is the shape that survives the scale-up.
    *
    * A flat k-cell argmax would cost n·k cosines per assignment pass —
    * with k ∝ n that is n²/target, the quadratic reappearing one stage
    * earlier. The index here is TWO-LEVEL (the IVF/IMI recipe):
    *  - coarse: kc = ⌈√k⌉ k-means centroids, Lloyd-fitted on a bounded
    *    deterministic sample (first `SemanticFitSamplePerCell · kc`
    *    ids) so the fit bill never scales with n;
    *  - fine: the k smallest-id vectors act as anchor quantizers, each
    *    tagged with its coarse cell; a vector resolves its coarse cell
    *    (n · kc cosines) then argmaxes only the anchors CO-RESIDENT in
    *    that coarse cell (n · k/kc expected). Total assignment cost
    *    n · O(√k), and every step is a deterministic argmax with
    *    (sim DESC, id ASC) ties — exactly mirrorable in the oracle.
    *    A coarse cell with no anchors falls back to its own cell id
    *    (cell = −coarse − 1), never drops rows.
    *  - skew cap: k-means cells follow data density, so one dense
    *    mode can still produce a mega-cell whose pair join is
    *    quadratic in ITS size. Cells are chunked in id order into subs
    *    of ≤ `maxCellSize` (default 4 · target), bounding the pair
    *    stage at n · maxCellSize pairs REGARDLESS of skew. Pairs split
    *    across subs are the measured price — the recall audit key
    *    prices exactly this split.
    *
    * The two `count()`s are bounded driver scalars to size the index,
    * the same justified pattern as the union-find probe.
    */
  def semanticFitted(df: DataFrame, idCol: String, vecCol: String,
                     targetCellSize: Int, tau: Double, iters: Int = 1,
                     maxCellSize: Int = 0): DataFrame = {
    require(targetCellSize >= 2,
      s"targetCellSize must be >= 2 (got $targetCellSize): cells of one " +
        "row have no pairs to dedup")
    val cap = if (maxCellSize > 0) maxCellSize else 4 * targetCellSize
    val cells = fittedCells(df, idCol, vecCol, targetCellSize, iters)
    collapseCells(cells, idCol, vecCol, tau, cap)
  }

  /** [[semanticFitted]] against a PREBUILT [[fittedIndex]] — the
    * production shape: the index is fit once, persisted, and every
    * dedup run assigns + collapses against it without re-fitting
    * (re-fitting runs eager checkpoint jobs at plan-construction
    * time). Same result as [[semanticFitted]] when (coarse, anchors)
    * came from the same data and parameters.
    */
  def semanticFittedWith(df: DataFrame, idCol: String, vecCol: String,
                         coarse: DataFrame, anchors: DataFrame,
                         tau: Double, maxCellSize: Int): DataFrame = {
    val cells = assignCells(df, idCol, vecCol, coarse, anchors)
    collapseCells(cells, idCol, vecCol, tau, maxCellSize)
  }

  /** The fitted two-level index of [[semanticFitted]] as a standalone
    * artifact: (coarse centroids, coarse-tagged anchors). Persist both
    * tiny tables beside the cell-assigned corpus and any future batch
    * assigns cells IDENTICALLY without touching corpus data — the
    * contract [[incrementalSemantic]] builds on.
    */
  def fittedIndex(df: DataFrame, idCol: String, vecCol: String,
                  targetCellSize: Int,
                  iters: Int): (DataFrame, DataFrame) = {
    val n = df.count()
    val k = math.max(1L, math.ceil(n.toDouble / targetCellSize).toLong).toInt
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val sample = df.orderBy(col(idCol))
      .limit(math.min(n, SemanticFitSamplePerCell.toLong * kc).toInt)
    val coarse = Similarity.kmeansCentroids(sample, idCol, vecCol, kc, iters)
    val anchors = Similarity.assignToCentroids(
        df.orderBy(col(idCol)).limit(k)
          .select(col(idCol).as("anchor_id"), col(vecCol).as("avec")),
        "anchor_id", "avec", coarse)
      .select(col("cluster"), col("anchor_id"), col("avec"))
      .localCheckpoint(false) // k rows; consumed repeatedly via broadcast
    (coarse, anchors)
  }

  /** Two-level cell assignment against a [[fittedIndex]]: coarse
    * argmax, then an anchor argmax restricted to the coarse cell's
    * co-resident anchors. Returns (idCol, vecCol, cell).
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  coarse: DataFrame, anchors: DataFrame): DataFrame = {
    val vcoarse = Similarity.assignToCentroids(df, idCol, vecCol, coarse)
    vcoarse.join(broadcast(anchors), Seq("cluster"), "left")
      .withColumn("a_sim",
        coalesce(Similarity.cosine(col(vecCol), col("avec")), lit(-2.0)))
      .groupBy(col(idCol))
      .agg(
        coalesce(
          max_by(col("anchor_id"),
            struct(col("a_sim"), (-col("anchor_id")).as("nid"))),
          (-first(col("cluster")) - 1).cast("long")).as("cell"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), col("cell"))
  }

  /** The two-level cell assignment of [[semanticFitted]]: returns
    * (idCol, vecCol, cell). Shared with the recall-audit query so the
    * audited split IS the shipped split.
    */
  def fittedCells(df: DataFrame, idCol: String, vecCol: String,
                  targetCellSize: Int, iters: Int): DataFrame = {
    val (coarse, anchors) = fittedIndex(df, idCol, vecCol,
      targetCellSize, iters)
    assignCells(df, idCol, vecCol, coarse, anchors)
  }

  /** Incremental SEMANTIC dedup — the embedding analog of
    * [[incrementalNear]]: a new batch is checked against the PERSISTED
    * cell-assigned corpus without re-clustering or rescanning anything
    * corpus-scale. The batch assigns cells through the SAME
    * [[fittedIndex]] the corpus was assigned with, then probes only
    * the corpus rows co-resident in its (batch-bounded) cell list.
    * Verdicts: `dup_of_corpus` (some same-cell corpus vector at cosine
    * ≥ tau — canonical is the min matching corpus id), `dup_in_batch`
    * (an earlier batch vector in the same cell matches — first batch
    * occurrence wins), `new`. Corpus hits take precedence.
    *
    * Scale shape: the batch chain is batch-scale; the ONLY touch of
    * the corpus-scale cell table is an inner join against the
    * BROADCAST batch cell list — a broadcast-hash probe, so the index
    * (written partitioned by `cell` at rest) never shuffles
    * (PlanSpec-pinned). Like SemDeDup itself, a true near-dup split
    * across cells is invisible — the recall audit prices the split.
    *
    * @param corpusCells (cell, corpus_id, corpus_vec) — the persisted
    *                    assignment, e.g. `assignCells(corpus, …)` with
    *                    columns renamed.
    */
  def incrementalSemantic(batch: DataFrame, corpusCells: DataFrame,
                          coarse: DataFrame, anchors: DataFrame,
                          idCol: String, vecCol: String,
                          tau: Double): DataFrame = {
    val bCells = assignCells(batch, idCol, vecCol, coarse, anchors)
      .localCheckpoint(false) // batch-scale; feeds both probes + output
    val probe = bCells.select(col("cell"), col(idCol).as("__b_id"),
      col(vecCol).as("__bvec"))
    val corpusHits = corpusCells.join(broadcast(probe), Seq("cell"))
      .filter(round(Similarity.cosine(col("corpus_vec"), col("__bvec")), 6)
        >= tau)
      .groupBy(col("__b_id")).agg(min(col("corpus_id")).as("corpus_nn"))
    val earlier = probe
      .join(broadcast(probe.select(col("cell"), col("__b_id").as("__a_id"),
          col("__bvec").as("__avec"))),
        Seq("cell"))
      .filter(col("__a_id") < col("__b_id"))
      .filter(round(Similarity.cosine(col("__avec"), col("__bvec")), 6)
        >= tau)
      .groupBy(col("__b_id")).agg(min(col("__a_id")).as("batch_nn"))
    // both hit lists are bounded by the batch size — broadcast is the
    // contract, same as incrementalNear's re-join
    bCells.select(col(idCol), col("cell"))
      .join(broadcast(corpusHits.withColumnRenamed("__b_id", idCol)),
        Seq(idCol), "left")
      .join(broadcast(earlier.withColumnRenamed("__b_id", idCol)),
        Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        when(col("corpus_nn").isNotNull, lit("dup_of_corpus"))
          .when(col("batch_nn").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("corpus_nn"), col("batch_nn"), col(idCol))
          .as("canonical_id"))
  }

  /** The skew cap of [[semanticFitted]] as its own step: chunk each
    * cell in id order into `sub`s of ≤ cap rows (`cap <= 0` → one sub
    * per cell). Exposed so the recall audit can price the exact
    * (cell, sub) split the dedup ships.
    */
  def capCells(cells: DataFrame, idCol: String, cap: Int): DataFrame =
    if (cap > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col(idCol))
      cells.withColumn("sub",
        floor((row_number().over(w) - 1) / cap).cast("int"))
    } else cells.withColumn("sub", lit(0))

  /** Within-cell collapse shared by [[semantic]] and [[semanticFitted]]:
    * pairs at cosine ≥ tau collapse to the lowest id. `cap > 0` chunks
    * each cell in id order into subs of ≤ cap first (the skew bound);
    * `cap <= 0` compares whole cells (the explicit-centroid path,
    * where the caller owns the cell-size story).
    */
  private def collapseCells(cells0: DataFrame, idCol: String,
                            vecCol: String, tau: Double,
                            cap: Int): DataFrame = {
    val cells = capCells(cells0, idCol, cap).localCheckpoint(false)
    val keys = Seq("cell", "sub")
    val a = cells.select(col("cell"), col("sub"), col(idCol).as("a_id"),
      col(vecCol).as("avec"))
    val b = cells.select(col("cell"), col("sub"), col(idCol).as("b_id"),
      col(vecCol).as("bvec"))
    val dups = a.join(b, keys)
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        round(Similarity.cosine(col("avec"), col("bvec")), 6))
      .filter(col("sim") >= tau)
      .groupBy(col("b_id").as(idCol))
      .agg(min(col("a_id")).as("canonical_id"))
    cells.select(col(idCol), col("cell"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        when(col("canonical_id").isNotNull, lit("dup"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id"))
  }
}
