package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.{MetricDef, SensorConfig, SensorStore}

/** Store throughput stress: bulk ingest N points into a multi-chunk
  * sensor, full-range read-back, then a 1% overlapping upsert batch —
  * the three write/read shapes that matter at scale. Prints one JSON
  * line. Usage: sbt "runMain graft.tools.StoreStress [nPoints]".
  */
object StoreStress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = graft.core.Session.local(graft.core.Session.cpus)

    val dir = Files.createTempDirectory("graft-stress").toString
    val store = new SensorStore(spark, dir)
    store.createSensor(SensorConfig("stress", "s", "1s",
      Seq("m0", "m1", "m2", "m3").map(m => MetricDef(Seq(m)))))

    val t0 = 1704067200L
    def batch(ids: org.apache.spark.sql.DataFrame) = ids
      .withColumn("slot", col("id") / 4)
      .select(
        timestamp_seconds(lit(t0) + (col("id") / 4).cast("long")).as("ts"),
        concat(lit("m"), pmod(col("id"), lit(4))).as("metric"),
        (pmod(col("id"), lit(1000)) * 0.5).as("value"))

    def time[T](f: => T): (T, Double) = {
      val s = System.nanoTime(); val r = f; (r, (System.nanoTime() - s) / 1e9)
    }

    val (_, tIngest) = time(store.write("stress", "s", batch(spark.range(n).toDF("id"))))
    val (rows, tRead) = time(store.read("stress", "s").count())
    // 1% upsert overlapping the first chunks
    val (_, tUpsert) = time(store.write("stress", "s",
      batch(spark.range(n / 100).toDF("id"))))
    val chunks = store.listChunks("stress", "s").size

    println(s"""{"metric":"store_stress","points":$n,"rows":$rows,""" +
      s""""chunks":$chunks,"ingest_sec":$tIngest,"read_sec":$tRead,""" +
      s""""upsert_sec":$tUpsert,""" +
      s""""ingest_pts_per_sec":${(n / tIngest).toLong},""" +
      s""""read_rows_per_sec":${(rows / tRead).toLong}}""")
    spark.stop()
  }
}
