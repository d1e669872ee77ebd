package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.queries.{ExtQueries, PipeQueries, RelQueries, TsQueries}

/** `board`: a fixed sample of the `SparkEntry.queries` keys, in a seeded
  * order, run like the board bench at sf0.01: build the DataFrame, then
  * `.count()`. One key is one operation, split into construction and
  * execution.
  */
final class Board(spark: SparkSession, dataDir: String, seed: Long) extends Workload {
  val keys: Seq[(String, String)] = Board.order(seed)
  private val fns: Map[(String, String), (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Seq("TsQueries" -> TsQueries.queries, "RelQueries" -> RelQueries.queries,
      "PipeQueries" -> PipeQueries.queries, "ExtQueries" -> ExtQueries.queries)
      .flatMap { case (m, q) => q.map { case (k, f) => (m, k) -> f } }.toMap
  /** Sampled keys the checkout does not define; each is a failed operation. */
  val missing: Seq[(String, String)] = keys.filterNot(fns.contains)
  private val reference = scala.collection.mutable.Map.empty[String, Long]
  private var opId = 0L
  private var passTimes = Vector.empty[Double]
  @volatile private var wrongCounts = Vector.empty[String]

  private def runKey(module: String, key: String): (Op, Long) = {
    opId += 1
    val tags = Seq(Tags.kind("board_key"), Tags.op(opId), Tags.module(module))
    val t0 = System.currentTimeMillis().toDouble
    var t1 = t0
    val n = try Tags.tagged(spark, tags: _*) {
      val f = fns.getOrElse((module, key),
        throw new NoSuchElementException(s"$module has no key $key"))
      val df = Tags.tagged(spark, Tags.phase("construct"))(f(spark, dataDir))
      t1 = System.currentTimeMillis().toDouble
      Tags.tagged(spark, Tags.phase("exec"))(df.count())
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] board key $key failed: $e"); -1L
    }
    val t2 = System.currentTimeMillis().toDouble
    (Op("board_key", opId, t0, t2, n >= 0, module = module, constructMs = t1 - t0), n)
  }

  def setup(): Map[String, Double] = {
    ExtQueries.setArtifactRoot(None)
    val t0 = System.nanoTime()
    Tags.tagged(spark, Tags.kind("setup")) {
      graft.core.Tables.All.foreach { t =>
        if (Files.exists(Path.of(dataDir, s"$t.parquet")))
          graft.core.Tables.load(spark, dataDir, t).count()
      }
    }
    val t1 = System.nanoTime()
    // warm-up pass: its counts are the reference every timed pass must match
    keys.foreach { case (m, k) =>
      val (op, n) = runKey(m, k)
      if (op.ok) reference(k) = n
    }
    Map("load_s" -> (t1 - t0) / 1e9, "rollup_s" -> 0.0,
      "warm_s" -> (System.nanoTime() - t1) / 1e9)
  }

  /** Whole passes over the sampled keys until `seconds` have passed. */
  def window(seconds: Double): Seq[Op] = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val out = Vector.newBuilder[Op]
    do {
      val p0 = System.nanoTime()
      keys.foreach { case (m, k) =>
        val (op, n) = runKey(m, k)
        val ok = op.ok && reference.get(k).contains(n)
        if (op.ok && !ok) wrongCounts :+= s"$k counted $n, warm pass ${reference.get(k)}"
        out += op.copy(ok = ok)
      }
      passTimes :+= (System.nanoTime() - p0) / 1e9
    } while (elapsed < seconds)
    out.result()
  }

  def check(): Seq[String] =
    missing.map { case (m, k) => s"$m has no key $k" } ++ wrongCounts.take(20)

  def extra(ops: Seq[Op]): Map[String, Double] = Map(
    "board_pass_s" -> Stats.median(passTimes),
    "board_keys" -> keys.size.toDouble)

  def close(): Unit = ()
}

object Board {
  /** One key in 24 of each module, taken along the keys' order by cost (a
    * steady full-board pass at sf0.1 on 8 cores), so the sample spans
    * cheap and dear keys alike. It is fixed, so that a key added to or
    * removed from a module does not change which keys are timed.
    */
  val Sample: Seq[(String, String)] = Seq(
    "TsQueries" -> "events_histogram", "TsQueries" -> "long_format_dropna",
    "RelQueries" -> "q5_local_supplier",
    "PipeQueries" -> "events_quantiles_interp", "PipeQueries" -> "events_user_gini",
    "PipeQueries" -> "orders_ntile_deciles",
    "ExtQueries" -> "dedup_near_minhash", "ExtQueries" -> "embedding_label_drift",
    "ExtQueries" -> "corpus_mix_resample", "ExtQueries" -> "dedup_threshold_curve",
    "ExtQueries" -> "lang_id", "ExtQueries" -> "doc_collocations_pmi")

  /** The seed fixes the order the sample runs in, not which keys run. */
  def order(seed: Long): Seq[(String, String)] = new Random(seed).shuffle(Sample)
}
