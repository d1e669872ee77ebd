package graft.tools

import java.nio.file.{Files, Paths}

/** Dump formatted physical plans for the plan-shape-critical queries to
  * PLANS.md, with the scale property each plan is expected to show.
  * Usage: sbt "runMain graft.tools.PlanDump [sfDir] [outFile]".
  */
object PlanDump {

  /** Expression-tree node count — THE counting rule for plan-size
    * observability; PlanSpec's byte-walk budget uses this same
    * definition so the committed record and the test can't diverge.
    */
  def exprSize(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    1 + e.children.map(exprSize).sum

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.core.Session.local(4)

    val picks: Seq[(String, String)] = Seq(
      "scan_time_range" ->
        ("expects: PushedFilters on the raw ts_ns long (row-group " +
          "min/max skipping); ReadSchema limited to selected columns"),
      "project_metrics" ->
        "expects: parquet ReadSchema contains only the projected columns",
      "pivot_long_to_wide" ->
        ("expects: ONE shuffle (hash partial_… → final HashAggregate); " +
          "map-side combine before exchange"),
      "q1_pricing" ->
        "expects: partial HashAggregate under a single Exchange",
      "join_enrich" ->
        ("expects: BroadcastHashJoin for both dims — no shuffle of the " +
          "orders fact table for the join"),
      "similar_topk_cosine" ->
        ("expects: arraydot inside WholeStageCodegen (native expression, " +
          "no interpreted higher-order fold); TakeOrderedAndProject, no " +
          "global sort"),
      "downsample_first_per_bucket" ->
        "expects: single hash aggregation after the pruned scan",
      "events_sessionize" ->
        ("expects: ONE shuffle on user_id reused by both window passes " +
          "and the final aggregation (sort-based windows, no re-exchange)"),
      "events_salted_sum" ->
        ("expects: two HashAggregate pairs (salted partial, then " +
          "re-aggregation of key×salt partials)"),
      "similar_ivf_topk" ->
        ("expects: broadcast of centroids and probed cells; arraydot in " +
          "codegen; TakeOrderedAndProject for the final top-k"),
      "asof_join_purchase" ->
        ("expects: NO join operator — union + one Window pass per " +
          "user_id (one key shuffle); never a range probe or nested loop"),
      "range_join_window_count" ->
        ("expects: hash equi-join on the coarse time bucket (interval " +
          "side exploded to covered buckets) — never " +
          "BroadcastNestedLoopJoin/CartesianProduct"),
      "ts_rolling_mean" ->
        ("expects: ONE Window operator carrying both the count and the " +
          "decimal-routed sliding sum over a single exchange+sort"),
      "ts_missing_slots" ->
        ("expects: expected grid generated by sequence+explode " +
          "(distributed, linear per series) feeding a left_anti hash join"),
      "events_session_window" ->
        ("expects: session_window aggregation — partial merge, one " +
          "shuffle on (user_id); no self-join or lag chain"),
      "kmeans_fit_assign" ->
        ("expects: BroadcastExchange of the k×dim centroid table per " +
          "iteration; arraydot in codegen; per-dim means via one hash " +
          "aggregation (decimal partials)"),
      "decontaminate_ngram" ->
        ("expects: BroadcastHashJoin of the (small) benchmark gram set " +
          "into the corpus gram stream, then a broadcast left_anti of " +
          "the hit ids — the 100 TB corpus is scanned once, never " +
          "shuffled on the gram key"),
      "events_cube_rollup" ->
        ("expects: ONE Expand feeding one partial+final HashAggregate " +
          "pair over one exchange — grouping sets never rescan or " +
          "re-shuffle the input per set"),
      "ts_window_suite" ->
        ("expects: ONE exchange on the series key shared by the time- " +
          "and value-ordered Window operators (re-sort in place, no " +
          "re-shuffle per ordering)"),
      "ts_ohlc" ->
        ("expects: a single map-side-combinable HashAggregate (min_by/" +
          "max_by argmin/argmax) — no Window, no per-bucket sort"),
      "interval_overlap_join" ->
        ("expects: hash equi-join on the coarse bucket with both " +
          "interval sides exploded to covered buckets — never " +
          "BroadcastNestedLoopJoin/CartesianProduct on the overlap " +
          "predicate"),
      "q6_forecast" ->
        ("expects: every predicate in PushedFilters (shipdate range, " +
          "discount band, quantity cap → parquet row-group skipping); " +
          "ReadSchema limited to the 4 referenced columns"),
      "dedup_exact" ->
        ("expects: ONE partial+final HashAggregate pair on the content " +
          "hash over one exchange (plus the output sort) — no join, no " +
          "window; 100 TB shuffles ~32 B/doc"),
      "dedup_embedding_cosine" ->
        ("expects: every pair join keyed on (label, cell) — NEVER the " +
          "label alone (the all-pairs shape); broadcast of centroids " +
          "and the (label, cell) radius summary; arraydot in codegen"),
      "dedup_embedding_ann" ->
        ("expects: Manku flipped-key probe as a (label, signature) " +
          "equi-join (hash/SMJ, never a nested loop on the hamming " +
          "predicate); arraydot in codegen for signature + re-rank"),
      "dedup_span_ngram" ->
        ("expects: two map-side-combinable HashAggregate pairs (gram " +
          "positions, cross-doc gram docfreq) + a join on the gram key " +
          "— no pairwise stage, no cartesian anywhere"),
      "dedup_incremental" ->
        ("expects: the batch side BROADCAST against the corpus-scale " +
          "content-hash index (left outer join, batch side preserved, " +
          "hit list broadcast); corpus text never rescanned, no " +
          "SortMergeJoin"),
      "similar_sq_int8" ->
        ("expects: TakeOrderedAndProject for the coarse reconstructed-" +
          "vector cut; BroadcastHashJoin of the k·rerank survivors for " +
          "the exact re-rank — the float corpus is never re-sorted"),
      "asof_join_nearest" ->
        ("expects: NO join operator — union + backward/forward struct-" +
          "argmax window frames over ONE exchange on the key"),
      "ts_ewma" ->
        ("expects: ONE Window operator (bounded k-row frame list + " +
          "codegen'd aggregate fold); no joins, no per-step recursion"),
      "events_quantiles_interp" ->
        ("expects: rank + count windows and the bracket aggregation " +
          "all on one event_type exchange (plus the output sort)"),
      "graph_pagerank" ->
        ("expects: per iteration ONE rank-onto-edges hash join + one " +
          "per-destination HashAggregate of int64 contributions (plans " +
          "truncated by localCheckpoint — the dump shows the final " +
          "iteration); no float/decimal expressions anywhere"),
      "downsample_lttb" ->
        ("expects: one decimal-routed bucket-average aggregation, two " +
          "bucket-scale neighbor joins, one argmax HashAggregate over " +
          "the points — no window, no point-scale self-join"),
      "pipeline_curate" ->
        ("expects: per-doc verdict tables joined on doc_id (quality is " +
          "a narrow projection; span and canonicality are hash " +
          "aggregations; decontamination broadcasts the bench grams) — " +
          "the corpus text is scanned a bounded constant number of " +
          "times, never shuffled on a non-key column"),
      "text_chunk_windows" ->
        ("expects: one Generate (explode over integer chunk starts) in " +
          "a narrow pipeline — the only exchange is the output sort"),
      "corpus_mix_resample" ->
        ("expects: BroadcastHashJoin of the source-cardinality rate " +
          "table onto the corpus + a narrow monotone hash-gate filter " +
          "— the corpus itself never shuffles"),
      "dedup_incremental_near" ->
        ("expects: every join a BroadcastHashJoin with a batch-scale " +
          "build side — the corpus-scale band index streams straight " +
          "into its probe with NO Exchange below it; the only shuffles " +
          "are the two batch-bounded hit-list aggregations + the " +
          "output sort; no SortMergeJoin anywhere"),
      "supplier_name_near_join" ->
        ("expects: equi-join on exploded deletion keys (bounded " +
          "(len+1)x fan-out) — never CartesianProduct or " +
          "BroadcastNestedLoopJoin; codegen levenshtein only on " +
          "bucket-local candidates"),
      "snapshot_diff_orders" ->
        ("expects: side-tagged Union + ONE map-side-combinable key " +
          "HashAggregate + the tiny verdict aggregation — NO join " +
          "operator (a full outer join would shuffle both snapshots " +
          "twice for the same answer)"),
      "events_winsorize" ->
        ("expects: one sort-window pass for the integer-rank [p5,p95] " +
          "cut; the quantile table (#event_types rows) joins back " +
          "without a forced hint (AQE broadcasts); one final decimal " +
          "hash aggregation"),
      "events_heavy_hitters_mg" ->
        ("expects: exact per-(type,day,user) counts (map-side " +
          "combinable) + per-fine-group rank window + the merge " +
          "aggregation — partial-scale rows only after the first " +
          "aggregation, never raw rows"),
      "dedup_containment" ->
        ("expects: candidate-restricted semi-join, two id-key " +
          "equi-joins of collect_set tables (no forced broadcast), " +
          "array_intersect in codegen — the Jaccard shape with " +
          "asymmetric denominators"),
      "graph_triangles" ->
        ("expects: two hash equi-joins on node keys over the oriented " +
          "a<b edge list (compact-forward) — no CartesianProduct, " +
          "each triangle counted exactly once"),
      "doc_unigram_logprob" ->
        ("expects: token-key join of the stream against the " +
          "vocabulary-scale count table WITHOUT a forced broadcast " +
          "hint; 1-row total broadcast; one per-doc decimal " +
          "HashAggregate"),
      "orders_scd2_intervals" ->
        ("expects: ONE Window (lead) over one o_custkey exchange plus " +
          "the output sort — nothing else"),
      "decontaminate_overlap_frac" ->
        ("expects: the same broadcast bench-gram join as " +
          "decontaminate_ngram plus two per-doc hash aggregations — " +
          "no second corpus scan beyond the gram stream"),
      "text_pack_sequences" ->
        ("expects: ONE per-source Window (integer prefix sum) + the " +
          "output sort — no join anywhere; packing is two exchanges " +
          "total"),
      "events_key_skew" ->
        ("expects: two map-side-combinable HashAggregates " +
          "((type,user) then type) — the argmax rides the struct max, " +
          "never a self-join"),
      "ts_level_shift" ->
        ("expects: all four frame aggregates (count/sum × " +
          "before/after) in Window ops over ONE event_type exchange; " +
          "the top-50 cut is TakeOrderedAndProject, not a global sort"),
      "ts_autocorr" ->
        ("expects: the lead Window's hashpartitioning(event_type) is " +
          "REUSED by the moment HashAggregate — one hash exchange + " +
          "the output sort only"),
      "similar_mips_topk" ->
        ("expects: native arraydot inside WholeStageCodegen; " +
          "TakeOrderedAndProject; the corpus scan never " +
          "hash-partitions (1-row query broadcast only)"),
      "similar_rp_topk" ->
        ("expects: the 16 projection dots are literal-plane arraydot " +
          "folds inside WholeStageCodegen (no hashing in the scan); " +
          "coarse cut is TakeOrderedAndProject; re-rank joins the " +
          "BROADCAST 20-id survivor list — the corpus never " +
          "hash-partitions"),
      "bpe_encode_count" ->
        ("expects: the encode pass is ONE projection (fused replace " +
          "chain, no join) over the words aggregate; the word→doc " +
          "token join carries NO broadcast hint (vocab-scale — AQE " +
          "decides); two hash aggregations around it"),
      "dedup_semantic" ->
        ("expects: the centroid argmax assignment is materialized ONCE " +
          "(lazy localCheckpoint — its three consumers scan the " +
          "checkpointed rows, not three re-assignments); the pair " +
          "stage exchanges BOTH sides on cell only — never a corpus² " +
          "cross product"),
      "corpus_mix_alpha" ->
        ("expects: the rate table rides a broadcast join (source-dim " +
          "cardinality); the gate itself is a narrow md5 filter — no " +
          "shuffle of the fact side"),
      "q3_shipping" ->
        ("expects: the date predicates PUSHED to both fact scans " +
          "(PushedFilters on o_orderdate/l_shipdate); no forced hints " +
          "— at this SF AQE broadcasts the filtered customer and " +
          "orders sides; the top-10 is TakeOrderedAndProject"),
      "q5_local_supplier" ->
        ("expects: nation⨝region rides the explicit broadcast (constant " +
          "cardinality); supplier/customer joins are UNHINTED (AQE " +
          "broadcasts at this SF, shuffles at 100 TB); the orderdate " +
          "range is pushed to the orders scan"),
      "dedup_substring_runs" ->
        ("expects: doc_id-window passes + ONE gram-key aggregation; NO " +
          "doc-pair join anywhere; the dup-gram probe rides the gated " +
          "broadcast"),
      "dedup_incremental_semantic" ->
        ("expects: the corpus cell index's only touch is an inner join " +
          "vs the BROADCAST batch cell list — no SortMergeJoin, the " +
          "index never shuffles"),
      "multimodal_dims" ->
        ("expects: one narrow codegen'd byte-expression pass (no join, " +
          "no UDF); the only exchange is the output sort"),
      "similar_pq_topk" ->
        ("expects: the codebook+LUT ride ONE broadcast join; per-(row," +
          "sub) argmin and the LUT sum are map-side-combinable hash " +
          "aggregations; coarse cut is TakeOrderedAndProject; exact " +
          "re-rank joins the broadcast survivor ids"),
      "similar_ivfpq_topk" ->
        ("expects: centroids, probed cells, codebook, and survivor ids " +
          "ALL broadcast — the corpus scans once for assignment and " +
          "once for the probed-cell ADC; no shuffle of full vectors"),
      "events_cms_heavy_hitters" ->
        ("expects: the d×w matrix is two map-side-combinable hash " +
          "aggregations (fixed-size partials); candidate probes join " +
          "the matrix without a raw-row re-scan"),
      "q4_order_priority" ->
        ("expects: LEFT SEMI join on the order key (EXISTS never " +
          "multiplies fact rows); the quarter window pushed to the " +
          "orders scan"),
      "q7_volume_shipping" ->
        ("expects: the pair-filtered nation dim broadcasts into both " +
          "lookups; the four-fact chain joins on its keys unhinted; " +
          "shipdate window pushed; no cartesian"),
      "ts_holt_forecast" ->
        ("expects: ONE key shuffle (the series collect) + a narrow " +
          "fold projection — the sequential fit never re-exchanges"),
      "ts_cusum" ->
        ("expects: one hash aggregation collecting series + moments " +
          "together, then a narrow fold projection — one exchange " +
          "total before the output sort"),
      "q13_customer_distribution" ->
        ("expects: orders pre-aggregate to per-custkey counts BEFORE " +
          "the LEFT OUTER join — customer never multiplies against " +
          "raw orders"),
      "q17_small_qty_revenue" ->
        ("expects: the per-part average aggregates the BRAND-PRUNED " +
          "bridge (EqualTo(p_brand) pushed to the part scan), never " +
          "full lineitem"),
      "q8_market_share" ->
        ("expects: ONE lineitem scan — numerator and denominator are " +
          "conditional sums in one grouped pass; part/date filters " +
          "pushed"),
      "q20_dominant_supplier" ->
        ("expects: ONE lineitem scan; the per-part total is a Window " +
          "sum over the per-(part,supplier) aggregate — a self-join " +
          "would duplicate the subtree and re-scan the fact"),
      "q21_sole_late_supplier" ->
        ("expects: ONE lineitem scan — the double-correlated EXISTS " +
          "lowers to grouped aggregates; top-20 is " +
          "TakeOrderedAndProject"),
      "ts_stl_decompose" ->
        ("expects: the detrended frame materializes once (lazy " +
          "checkpoint); both consumers read Scan ExistingRDD — no " +
          "events re-scan, no re-run Window downstream of the cut"),
      "ts_ols_trend" ->
        ("expects: ONE map-side-combinable hash aggregation over one " +
          "pruned events scan — no window, no join; the line fit is a " +
          "narrow projection over the 5-row aggregate"),
      "orders_rfm_segments" ->
        ("expects: NO ntile window; every row_number partitions on " +
          "(__bucket); the customer-grain frame materializes once " +
          "(lazy checkpoint) and feeds all three quartile passes"),
      "events_dau_wau" ->
        ("expects: the (user, day) distinct materializes once; dau " +
          "reads it and the d..d+6 contribution expansion " +
          "(Generate explode) reads it — the events fact is scanned " +
          "exactly once, never once per output day"),
      "events_top_paths" ->
        ("expects: rn<=3 cut pushed down as a map-side " +
          "WindowGroupLimit below the shuffle; the collect_list " +
          "buffer only ever sees <=3 rows/user; top-10 is " +
          "TakeOrderedAndProject"),
      "corpus_token_budget" ->
        ("expects: NO window operator — rank and cumulative sum come " +
          "from a BroadcastNestedLoopJoin over the bounded source " +
          "table; the documents fact is scanned once behind the " +
          "checkpoint"),
      "grafana_long_json" ->
        ("expects: the per-bucket boundary table BROADCASTS back onto " +
          "the bucketed stream (no SortMergeJoin); the JSON string " +
          "assembles in two hash aggregations — no per-datapoint " +
          "driver loop"),
    )

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the scale-critical queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` on sf dir `$sfDir`.\n")
    sb.append("Each section states the property the plan must exhibit for\n")
    sb.append("the operator to survive a 100 TB / 1000-executor scale-up,\n")
    sb.append("followed by the actual `explain(formatted)` output.\n")

    // Plan-SIZE observability (r10 lesson): `multimodal_av_meta` shipped
    // with a perfect one-exchange plan SHAPE but a million-node
    // expression tree that cost ~49 s of Catalyst re-optimization on
    // every run — invisible in every shape pin. Record expression node
    // counts + plan-build wall time per key so the defect class shows
    // in the committed record; PlanSpec enforces a budget on the
    // byte-walk family.
    // optional 3rd+ args: restrict the size table to named keys and
    // print counts to stdout (local iteration on one key's tree size)
    val only = args.drop(2).toSet
    val sizes = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map {
      case (name, fn) =>
        graft.queries.ExtQueries.clearMemo()
        val t0 = System.nanoTime()
        val nodes =
          try {
            val qe = fn(spark, sfDir).queryExecution
            val n = qe.optimizedPlan.collect {
              case p => p.expressions.map(exprSize).sum
            }.sum
            qe.executedPlan // include physical planning in the build time
            n
          } catch { case _: Throwable => -1 }
        (name, nodes, (System.nanoTime() - t0) / 1e6)
    }
    sizes.foreach { case (n, c, ms) =>
      println(f"[plandump] $n%-32s nodes=$c%6d construct+plan=$ms%.0f ms")
    }
    val ok = sizes.filter(_._2 >= 0)
    sb.append("\n## Expression-tree size per key (optimized plan)\n\n")
    if (ok.isEmpty) {
      sb.append(s"ALL ${sizes.size} keys failed to construct on `$sfDir` " +
        "— no sizes recorded.\n")
    } else {
      sb.append(s"${ok.size} keys; node-count max=${ok.map(_._2).max}, ")
      val sortedN = ok.map(_._2).sorted
      sb.append(s"median=${sortedN(sortedN.size / 2)}; ")
      // the timing is construct+analyze+optimize+plan; for the
      // memoized-index families (memo cleared per key) it ALSO
      // includes executing the eager shared-index builds, so it upper-
      // bounds — not equals — pure Catalyst time for those keys
      sb.append(f"construct+plan max=${ok.map(_._3).max}%.0f ms " +
        "(includes eager shared-index builds for memoized keys).\n")
      sb.append("Top 40 by node count — a key that jumps an order of\n")
      sb.append("magnitude here is duplicating sub-trees (Columns are\n")
      sb.append("trees, not DAGs) and will pay it in Catalyst time per run:\n\n")
      sb.append("| key | expr nodes | construct+plan ms |\n|---|---|---|\n")
      ok.sortBy(-_._2).take(40).foreach { case (n, c, ms) =>
        sb.append(f"| $n | $c | $ms%.0f |\n")
      }
    }

    picks.foreach { case (name, expectation) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$expectation\n\n```\n$plan```\n")
    }
    // a key-filtered run is a local probe — never overwrite the full
    // committed record with a partial table
    if (only.isEmpty) {
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plandump] wrote $out")
    } else println(s"[plandump] key-filtered probe — $out NOT written")
    spark.stop()
  }
}
