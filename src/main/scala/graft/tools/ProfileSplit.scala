package graft.tools

import java.nio.file.{Files, Paths}

/** Splits a query key's wall time into the three phases the bench's
  * timed region actually contains (guide §1: know where the time goes
  * before touching the plan):
  *   construct — the `fn(spark, dir)` call itself (eager model fits /
  *               index gate probes execute Spark jobs here);
  *   plan      — analysis + optimization + physical planning
  *               (`queryExecution.executedPlan`), driver-side;
  *   exec      — the `count()` action.
  * Each phase is timed on a FRESH DataFrame per rep so codegen/footer
  * caches warm across reps exactly like consecutive bench passes; the
  * phases report their best rep, and `first` is the first rep's total
  * (one-off cost: codegen compile, shared-artifact builds).
  * Each key's `explain("formatted")` plan (first rep, before execution)
  * goes to `<planDir>/<key>.txt`: profile a change's before and after
  * into two plan dirs and diff them (the plans/r17 evidence format).
  * Usage: sbt "runMain graft.tools.ProfileSplit <sfDir> <reps> <planDir> <keys...>"
  */
object ProfileSplit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val planArg = args.lift(2).getOrElse("target/plans")
    // a key here means keys came without a planDir: refuse, rather
    // than write plans under it and profile every key
    require(!graft.SparkEntry.queries.contains(planArg),
      s"planDir '$planArg' is a query key; usage: <sfDir> <reps> <planDir> <keys...>")
    val planDir = Files.createDirectories(Paths.get(planArg))
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    spark.sparkContext.setLogLevel("ERROR") // keep stdout to result lines
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.core.Tables.All.foreach { t =>
      // NonFatal only (r17 advice): swallowing OOM/linkage errors here
      // silently skipped table warm-ups and warped the measured split
      try graft.core.Tables.load(spark, sfDir, t).count()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[profile] warm-up of table $t failed: $e")
      }
    }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val trip = (0 until reps).map { rep =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        if (rep == 0) Files.writeString(planDir.resolve(s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        val t3 = System.nanoTime()
        df.count()
        val t4 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t4 - t3) / 1e9)
      }
      val c = trip.map(_._1).min
      val p = trip.map(_._2).min
      val e = trip.map(_._3).min
      val first = trip.head._1 + trip.head._2 + trip.head._3
      println(f"[split] $name%-30s construct=$c%6.3f plan=$p%6.3f exec=$e%6.3f total=${c + p + e}%6.3f first=$first%6.3f")
    }
    spark.stop()
  }
}
