package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration. The server, the oracle dump
  * (`graft.Verify`), the bench, the tools and the test suite all build
  * their session here, so the config the oracle checks is the config
  * the bench times.
  */
object Session {

  /** AQE join-strategy thresholds, applied to RUNTIME-MEASURED byte
    * sizes only — planning-time estimates (and with them the static
    * plan shapes) keep the 10 MB default. The gated vocabulary-scale
    * joins dropped their eager count() probes in favor of AQE's
    * exchange statistics (`TextStats.lazyGatedBroadcast`); these
    * thresholds size that decision to one machine: any executor that
    * can hold a 10 MB build side holds 64 MB.
    */
  private val AqeJoinThreshold = "64m"

  /** The whole-stage-codegen CLASS cache holds 100 entries by default.
    * A 290-query board generates ~1-2k distinct codegen units per
    * pass, so at the default every pass recompiled (janino) and
    * re-JIT'd nearly every stage; isolated-key profiles ran ~0.3-0.5 s
    * faster per key than the same key inside a full pass for exactly
    * this reason. Sized to the board: any JVM re-running many distinct
    * plans wants this at any scale. ~50 KB per class.
    */
  private val CodegenCacheEntries = 4096

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** Worker threads (and shuffle partitions) from [[CpusVar]], or 4
    * when it is unset. */
  lazy val cpus: Int = parseCpus(sys.env.get(CpusVar))

  /** A set value must be a positive integer (surrounding blanks
    * allowed): anything else fails rather than run at a width the
    * caller did not ask for. */
  def parseCpus(value: Option[String]): Int = value match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusVar must be a positive integer, got '$v'"))
  }

  /** A `local[cpus]` session with `cpus` shuffle partitions. The
    * warehouse is a fresh temp dir: only catalog-written bucketed
    * tables use it, and nothing reads it across runs.
    */
  def local(cpus: Int): SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    warehouse.toFile.deleteOnExit() // removed at exit if nothing wrote there
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 rejects
      // by default; read it as long ns (`Tables.load` converts back)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      // graft's native SQL functions (array_dot, hamming_distance, …)
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        AqeJoinThreshold)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        AqeJoinThreshold)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
