package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Head-to-head with the reference's influx-parser microbenchmark
  * (`/root/reference/examples/inspect_chunker.py`: 2^16 copies of one
  * 5-metric line, µs/line): parse the identical workload through
  * graft.ingest.Influx.parseLines. Prints lines/s and points/s for 1
  * and 4 threads; run twice internally, steady-state (second) timing
  * reported.
  */
object ParserBench {
  private val Line =
    "database,key_to_ignore=sensor " +
      "metric_name=1.1,metric_name2=2.2,metric_name3=3.3," +
      "metric_name4=4.4,metric_name5=5.5 1637262558914122000"

  def main(args: Array[String]): Unit = {
    for (threads <- Seq(1, 4)) {
      val spark = graft.core.Session.local(threads)
      val n = 1 << 20
      val lines = spark.range(n).select(lit(Line).as("line")).cache()
      lines.count()
      def run(): (Long, Double) = {
        val t0 = System.nanoTime()
        val rows = graft.ingest.Influx.parseLines(lines, "line")
          .filter(!col("malformed")).count()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      run() // warm-up (codegen)
      val (points, sec) = run()
      println(f"[parser] threads=$threads lines=$n points=$points " +
        f"sec=$sec%.4f lines_per_sec=${(n / sec).toLong} points_per_sec=${(points / sec).toLong}")
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
