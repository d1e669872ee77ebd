package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics as dataframe passes, built deterministic
  * the same way the k-means fit is: every cross-partition float SUM is
  * routed through decimal (exact, associative — partial-aggregation
  * order cannot change the result) and every per-row float expression
  * has one fixed shape both engines evaluate identically.
  *
  * Companion to [[graft.ext.Dedup.connectedComponents]]: components
  * label the near-dup clusters, PageRank ranks nodes INSIDE the
  * similarity graph (which docs are the "hubs" of a duplicate
  * neighborhood — the ones to keep when collapsing a cluster).
  */
object Graph {

  /** Fixed-point rank scale: 10^16 units of mass. Headroom: the total
    * mass is ≤ 1, so any contribution sum ≤ Scale and `sum·85` ≤
    * 8.5·10^17 — an order of magnitude inside int64.
    */
  val Scale = 10000000000000000L

  /** `iters` fixed PageRank iterations over an edge list, simplified
    * model (dangling mass is dropped, not redistributed — documented,
    * mirrored by the oracle): r'(v) = (1−d)/n + d·Σ_{u→v} r(u)/out(u).
    *
    * Scale shape per iteration: one join of the rank table onto the
    * edge list (both keyed on the node id — at 100 TB both sides are
    * bucketed by it, so this is a co-located join) + one hash
    * aggregation of contributions per destination. The rank table is
    * nodes-scale, the join is edges-scale; LAZY localCheckpoint(false)
    * truncates the iteration's plan growth exactly like the k-means
    * fit but defers materialization — the fixed-point math is exact
    * integer arithmetic, so no eager cut is needed for determinism,
    * and first-run cost is one job instead of one per iteration.
    *
    * Determinism by FIXED-POINT INTEGER arithmetic: ranks live in
    * int64 units of [[Scale]] (`r0 = Scale div n`, contribution
    * `r div out`, damping `(sum·85) div 100`) — every op is exact
    * integer math, so the result is bit-identical on any engine and
    * any partitioning with NO float or decimal anywhere. (The first
    * float version of this operator died at the oracle: two ranks
    * landed a 1-ulp engine divergence exactly on the output-rounding
    * grid. Truncation error here is ≤ iters·(1+85/100)/Scale ≈ 10⁻¹⁶
    * of total mass — far below anything a ranking consumer can see.)
    *
    * @param nodes one row per node (ranks start uniform 1/n; nodes
    *              with no in-edges decay toward (1−d)/n)
    * @param dampingPct damping factor as an integer percent (85 = 0.85)
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               nodes: DataFrame, idCol: String, iters: Int,
               dampingPct: Int = 85): DataFrame = {
    require(dampingPct >= 0 && dampingPct <= 100, s"bad damping $dampingPct")
    val n1 = nodes.agg(count(lit(1)).as("__n"))
    val outdeg = edges.groupBy(col(srcCol).as(idCol))
      .agg(count(lit(1)).as("__out"))
    var ranks = nodes.select(col(idCol)).crossJoin(broadcast(n1))
      .select(col(idCol), expr(s"${Scale}L div __n").as("__r"), col("__n"))
      .localCheckpoint(false)
    for (_ <- 0 until iters) {
      val contrib = edges
        .join(ranks.join(outdeg, idCol)
          .select(col(idCol).as(srcCol), col("__r"), col("__out")), srcCol)
        .groupBy(col(dstCol).as(idCol))
        .agg(sum(expr("__r div __out")).as("__sum"))
      ranks = ranks
        .join(contrib, Seq(idCol), "left")
        .select(col(idCol),
          (expr(s"(${Scale}L * ${100 - dampingPct}) div (100 * __n)") +
            expr(s"(coalesce(__sum, 0L) * $dampingPct) div 100")).as("__r"),
          col("__n"))
        .localCheckpoint(false)
    }
    // rank_fp: the exact fixed-point value; rank: its double view
    // (long→double is one correctly-rounded conversion — identical
    // everywhere)
    ranks.select(col(idCol), col("__r").as("rank_fp"),
      (col("__r").cast("double") / lit(Scale.toDouble)).as("rank"))
  }
}
