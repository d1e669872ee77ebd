package perfbench

import scala.collection.mutable

/** Expected contents of one sensor, kept from every acknowledged write
  * with the store's documented semantics: timestamps snap down to the
  * tick grid, within a batch the last line wins per cell, cells a line
  * omits keep their stored value, and a metric first seen in a batch
  * reads as the batch's fill value in every chunk that existed before it.
  */
final class CellModel(val tickSec: Long, initialMetrics: Seq[String]) {
  val chunkSec: Long = tickSec * (1L << 14)
  private val cells = mutable.HashMap.empty[(Long, String), Float]
  private val rows = mutable.TreeSet.empty[Long]
  private val metricOrder = mutable.ArrayBuffer.from(initialMetrics)
  /** metric -> (fill, since): chunks starting before `since` read `fill`. */
  private val fills = mutable.HashMap.empty[String, (Float, Long)]

  def metrics: Seq[String] = metricOrder.toSeq
  def ticks: collection.SortedSet[Long] = rows
  def pointCount: Long = cells.size.toLong

  private def chunkOf(tick: Long): Long = tick - Math.floorMod(tick, chunkSec)

  /** Apply one batch: `(tsSec, metric -> value)` lines in arrival order. */
  def write(batch: Seq[(Long, Seq[(String, Double)])], fill: Double): Unit = {
    val fresh = batch.flatMap(_._2.map(_._1)).distinct.filterNot(metricOrder.contains)
    if (fresh.nonEmpty) {
      val since = if (rows.isEmpty) 0L else rows.map(chunkOf).max + chunkSec
      fresh.sorted.foreach { m =>
        metricOrder += m
        fills(m) = (fill.toFloat, since)
      }
    }
    batch.foreach { case (ts, kv) =>
      val tick = ts - Math.floorMod(ts, tickSec)
      rows += tick
      kv.foreach { case (m, v) => cells((tick, m)) = v.toFloat }
    }
  }

  /** The value a read returns for a row that exists; None for a missing
    * cell (null, or NaN on the wire).
    */
  def cell(tick: Long, metric: String): Option[Float] =
    cells.get((tick, metric)).orElse(fills.get(metric).collect {
      case (f, since) if chunkOf(tick) < since => f
    })
}
