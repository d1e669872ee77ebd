package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet substrate
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A TABLE HANDLE artifact ([[Artifacts.TableHandle]], r17
    * optimization): `spark.read.parquet` lists the directory and
    * re-reads parquet footers for schema on every call, and the board's
    * ~290 keys each load 1-3 tables inside their timed regions — pure
    * fixed cost repeated per key per pass. The registry returns the
    * same lazy DataFrame (an analyzed relation, like a catalog lookup;
    * nothing is materialized or cached), so listing + schema inference
    * run once per (session, dir, table). A new session re-reads.
    *
    * ASSUMPTION (documented per r17 advice): a table dir is immutable
    * for the lifetime of the session that read it — the handle
    * snapshots the file listing, so in-place rewrites of a dir within
    * one session would be served stale. Every caller (bench, verify,
    * tests) reads the provided test corpus, which never mutates in
    * place; stores that DO rewrite (DocStore, SensorStore) manage their
    * own readers and never route through here.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Artifacts.getOrBuild(
      Artifacts.Key(Artifacts.TableHandle, Some(spark), sfDir, name))(
      loadUncached(spark, sfDir, name))

  private def loadUncached(spark: SparkSession, sfDir: String,
                           name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS): with
    // spark.sql.legacy.parquet.nanosAsLong=true it arrives as a long of
    // epoch-ns — normalize to a proper TimestampType (µs, floor), the
    // same truncation DuckDB applies when it reads ns into its µs
    // timestamps. `div` is integer division (exact on the int64 range,
    // where a double round-trip would not be). The raw long survives as
    // `ts_ns`: a derived-column filter cannot be pushed into the parquet
    // scan, so Reader.scanRange rewrites time bounds onto `ts_ns`
    // (exactly equivalent: floor(ns/1000) ≥ s·10⁶ ⟺ ns ≥ s·10⁹) to keep
    // row-group skipping — at 100 TB the scan prune IS the query plan.
    df.schema.fields.find(f => f.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts_ns", org.apache.spark.sql.functions.col("ts"))
          .withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  /** Canonical metric vocabulary of the `events` table when it plays the
    * role of a sensor stream (event_type ≈ metric, user_id ≈ sensor id).
    */
  val EventMetrics: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
}
