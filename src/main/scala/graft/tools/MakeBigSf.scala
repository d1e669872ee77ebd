package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes a coherent REPL×-scaled copy of the full sf0.1 table set
  * (default 10× ≈ "sf1": ~6M lineitem rows) so the bench gate can be
  * measured at a scale where data-dependent cost dominates the
  * per-query scheduling floor (r9 verdict ask #6 — every gate row so
  * far was sf0.1, where totals are floor-dominated).
  *
  * The replication preserves every cross-table invariant the queries
  * rely on, mirroring how TPC-H itself scales:
  *   - region/nation: fixed at all SFs — copied verbatim.
  *   - customer/part/supplier: replicated with disjoint key offsets
  *     (custkey/partkey +i·1e7, suppkey +i·1e6) — dims grow with SF.
  *   - orders/lineitem: orderkey +i·1e8 in BOTH tables, and the FK
  *     columns get the SAME offsets as their dims, so every join keeps
  *     its per-replica match structure and selectivity; output grows
  *     exactly REPL×.
  *   - events: event_id +i·1e7, ts +i·31 days (unique ids/timestamps);
  *     user_id unchanged so per-user history grows REPL× — the harder,
  *     more realistic shape for the per-user window family.
  *   - documents: doc_id +i·1e7; the text of replica i goes through a
  *     DISTINCT deterministic a–z permutation (length-, punctuation-
  *     and whitespace-preserving; 26! maps, so no wrap at any REPL —
  *     r16 verdict ask #2), so replicas are NOT near-duplicates of
  *     each other at any scale: the minhash/simhash/gram dedup
  *     families see the per-replica dup structure REPL× (linear),
  *     never REPL²-sized cross-replica groups that would measure a
  *     data pathology instead of the plan. supplier names get the
  *     same per-replica permutation (verbatim-replicated names made
  *     FastSS candidate volume quadratic in the copy count).
  *   - embeddings: vec_id +i·1e7 (the codebook pivots vec_id∈[0,16]
  *     stay a fixed 17 rows — the corpus grows around them, which is
  *     the correct ANN scaling), vectors angularly perturbed per
  *     replica so they don't manufacture sim=1.0 own-cell bests.
  *
  * Usage: sbt "runMain graft.tools.MakeBigSf [outDir] [repl]"
  * (defaults: target/bigsf 10). Then
  * `SPARK_GRAFT_SF_DIR=target/bigsf sbt "runMain graft.Bench"`.
  */
object MakeBigSf {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/bigsf")
    val repl = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local(graft.core.Session.cpus)

    def load(t: String): DataFrame = graft.core.Tables.load(spark, srcDir, t)
    def fanned(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until repl).map(i => per(df, i)).reduce(_ union _)
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[bigsf] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    // Per-replica ALPHABET PERMUTATION (r16 verdict ask #2): the old
    // a–z rotation wrapped at replica 26, so the 100× fixture carried
    // verbatim cross-replica duplicate text (replicas i and i+26
    // identical) — exact-dup cliques whose pair/triangle counts grow
    // super-linearly in the copy count, a pathology real corpora don't
    // produce. A deterministic Fisher–Yates permutation seeded by the
    // replica index draws from 26! ≈ 4e26 distinct maps — no wrap at
    // ANY replication factor, still length-, punctuation-, whitespace-
    // and token-boundary-preserving (the vocab SHAPE is preserved; the
    // letter identities are not, which is the point). Replica 0 stays
    // the identity — the original corpus verbatim.
    val alphaPerm = "abcdefghijklmnopqrstuvwxyz"
    def permFor(i: Int): String =
      if (i == 0) alphaPerm
      else {
        val a = alphaPerm.toCharArray
        var st = 0x9E3779B97F4A7C15L * (i + 1)
        def nxt(bound: Int): Int = { // splitmix64 step, bounded
          st += 0x9E3779B97F4A7C15L
          var z = st
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          (((z ^ (z >>> 31)) >>> 1) % bound).toInt
        }
        var k = a.length - 1
        while (k > 0) {
          val j = nxt(k + 1)
          val t = a(k); a(k) = a(j); a(j) = t
          k -= 1
        }
        new String(a)
      }

    Seq("region", "nation").foreach(t => write(load(t), t))

    write(fanned(load("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i.toLong * 10000000L))
    }, "customer")
    // s_name letters get the replica permutation too: the fixture used
    // to replicate every supplier NAME verbatim, so FastSS buckets of
    // R copies yielded R²-scale candidate pairs (SCALE.md's
    // supplier_name_near_join audit) — a real name table doesn't
    // replicate. Permuted prefixes differ in far more than one edit,
    // so cross-replica candidates vanish; within-replica typo
    // structure is preserved exactly.
    write(fanned(load("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i.toLong * 1000000L))
        .withColumn("s_name",
          translate(col("s_name"), alphaPerm + alphaPerm.toUpperCase,
            permFor(i) + permFor(i).toUpperCase))
    }, "supplier")
    write(fanned(load("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 10000000L))
    }, "part")
    write(fanned(load("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * 10000000L))
    }, "orders")
    write(fanned(load("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i.toLong * 1000000L))
    }, "lineitem")
    write(fanned(load("events")) { (df, i) =>
      val shifted = df
        .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 31} DAYS"))
      // Tables.load adds a ts_ns companion for TIMESTAMP(NANOS)
      // sources and Reader.scanRange prefers it when present — shift
      // it in lockstep or replicas i>0 keep their ORIGINAL times for
      // every range scan (r10 advice; latent while testdata is µs)
      if (shifted.columns.contains("ts_ns"))
        shifted.withColumn("ts_ns",
          col("ts_ns") + lit(i.toLong * 31L * 86400L * 1000000000L))
      else shifted
    }, "events")
    // full a–z PERMUTATION by replica (permFor above): deterministic,
    // length-preserving, distinct for every replica at any REPL, so
    // any word containing a letter changes per replica and replicas of
    // the same doc never share shingles — the dedup candidate volume
    // scales REPL×, never with cross-replica duplicate groups (the
    // rotation this replaces wrapped at 26 and manufactured verbatim
    // duplicate cliques at the 100× point).
    write(fanned(load("documents")) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
        .withColumn("text", translate(col("text"), alphaPerm, permFor(i)))
    }, "documents")
    write(fanned(load("embeddings")) { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(i * 0.05f)).cast("float")))
    }, "embeddings")

    println(s"[bigsf] wrote $repl x $srcDir -> $outDir")
    spark.stop()
  }
}
