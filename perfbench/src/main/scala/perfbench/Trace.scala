package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation a benchmark client issued, timed around the call into
  * the program. Times are epoch milliseconds.
  */
final case class Op(kind: String, id: Long, start: Double, end: Double,
                    ok: Boolean, rowsReturned: Long = 0, respBytes: Long = 0,
                    rowsIngested: Long = 0, pointsIngested: Long = 0,
                    module: String = "", constructMs: Double = 0, client: Int = 0) {
  def ms: Double = end - start
}

/** Job tags the benchmark's own threads set, so jobs from library calls
  * and board keys are attributed without reading call sites.
  */
object Tags {
  def kind(k: String) = s"pb.kind.$k"
  def op(id: Long) = s"pb.op.$id"
  def module(m: String) = s"pb.mod.$m"
  def phase(p: String) = s"pb.phase.$p"

  def tagged[T](spark: SparkSession, tags: String*)(f: => T): T = {
    val sc = spark.sparkContext
    tags.foreach(sc.addJobTag)
    try f finally tags.foreach(sc.removeJobTag)
  }

  def value(tags: Set[String], prefix: String): Option[String] =
    tags.collectFirst { case t if t.startsWith(prefix) => t.stripPrefix(prefix) }
}

/** Listens to Spark from outside the program and keeps, in memory, every
  * job, stage and SQL execution of the traced window; `summary` turns them
  * into the per-layer metrics.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  final class JobRec(val id: Int, val start: Long, val stageIds: Seq[Int],
                     val execId: Option[Long], val tags: Set[String]) {
    @volatile var end: Long = -1
  }
  final class StageRec(val id: Int) {
    @volatile var submit: Long = -1
    @volatile var done: Long = -1
    @volatile var tasks = 0
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
    @volatile var inBytes = 0L
    @volatile var inRecords = 0L
    @volatile var outBytes = 0L
    @volatile var outRecords = 0L
    val schedDelay = new java.util.concurrent.atomic.AtomicLong()
  }
  final case class ExecRec(details: String, plan: String, tags: Set[String])
  final case class Phases(analysis: Double, optimization: Double, planning: Double)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  /** Planning phases by QueryExecution id, and that id's SQL execution. */
  private val phases = new ConcurrentHashMap[Long, Phases]()
  private val qeExec = scala.collection.concurrent.TrieMap.empty[Long, Long]

  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageRec(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set.empty)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, e.stageIds, exec, tags))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.tasks = e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    if (s.submit > 0 && e.taskInfo != null)
      s.schedDelay.addAndGet((e.taskInfo.launchTime - s.submit).max(0L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.done = i.completionTime.getOrElse(System.currentTimeMillis())
    val m = i.taskMetrics
    if (m != null) {
      s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes = m.inputMetrics.bytesRead
      s.inRecords = m.inputMetrics.recordsRead
      s.outBytes = m.outputMetrics.bytesWritten
      s.outRecords = m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, ExecRec(s.details, s.physicalPlanDescription, s.jobTags))
    case end: SparkListenerSQLExecutionEnd =>
      // the end event carries the execution's QueryExecution (the object a
      // QueryExecutionListener receives) behind a package-private accessor
      scala.util.Try(end.getClass.getMethod("qe").invoke(end)).toOption.collect {
        case qe: QueryExecution => qeExec.put(qe.id, end.executionId)
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    phases.put(qe.id, Phases(ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Listener delivery is asynchronous: wait until every job seen has
    * ended (or `timeoutMs` passes) before summarizing.
    */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (jobs.values.asScala.exists(_.end < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  // ---- attribution -------------------------------------------------------

  private final case class Job(rec: JobRec, kind: String, layer: String,
                               rollupWrite: Boolean, rollupScan: Boolean,
                               opId: Option[Long], phase: Option[String],
                               module: Option[String]) {
    def ms: Double = (rec.end - rec.start).toDouble.max(0)
    def ranStages: Seq[StageRec] =
      rec.stageIds.flatMap(i => Option(stages.get(i))).filter(_.submit > 0)
    /** Time covered by running stages (union of their intervals). */
    def stageMs: Double = {
      val iv = ranStages.filter(_.done >= 0).map(s => (s.submit, s.done)).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = curE.max(e)
      }
      if (curE > curS) covered += curE - curS
      covered.toDouble
    }
  }

  private def attributed(from: Double, to: Double): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.start >= from && j.start <= to && j.end >= 0)
      .map { j =>
        val ex = j.execId.flatMap(i => Option(execs.get(i)))
        val details = ex.map(_.details).getOrElse("")
        val plan = ex.map(_.plan).getOrElse("")
        val tags = j.tags ++ ex.map(_.tags).getOrElse(Set.empty)
        val module = Tags.value(tags, "pb.mod.")
        val kind = Tags.value(tags, "pb.kind.")
          .orElse(Layers.kindOf(details)).getOrElse("other")
        val layer = module.map(m => s"queries.$m").getOrElse(Layers.layerOf(details))
        val rollupWrite = Layers.isRollupWrite(plan)
        Job(j, kind, layer, rollupWrite, !rollupWrite && plan.contains("rollup_"),
          Tags.value(tags, "pb.op.").flatMap(_.toLongOption),
          Tags.value(tags, "pb.phase."), module)
      }

  /** Per-layer metrics of the traced window [from, to] (epoch ms). */
  def summary(ops: Seq[Op], from: Double, to: Double): Map[String, Double] = {
    val js = attributed(from, to)
    val byKind = js.groupBy(_.kind)
    val opsByKind = ops.groupBy(_.kind)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def per(n: Double, v: Double) = if (n > 0) v / n else 0.0
    val execPhases = phases.asScala.toSeq.flatMap { case (q, p) =>
      qeExec.get(q).map(_ -> p) }.toMap
    def phasesOf(sel: Seq[Job]) = sel.flatMap(_.rec.execId).distinct.flatMap(execPhases.get)
    val reads = Seq("grafana", "read_df", "last_ts", "rollup_read")
    val nReads = reads.map(k => opsByKind.getOrElse(k, Nil).size).sum.toDouble
    val readJobs = js.filter(j => reads.contains(j.kind))
    val writes = opsByKind.getOrElse("write", Nil)
    val nW = writes.size.toDouble
    val wJobs = byKind.getOrElse("write", Nil)

    Seq("write", "grafana", "read_df").foreach { k =>
      val os = opsByKind.getOrElse(k, Nil)
      out(s"server.self_ms.$k") =
        per(os.size, os.map(_.ms).sum - byKind.getOrElse(k, Nil).map(_.ms).sum)
    }
    Seq("grafana", "read_df").foreach { k =>
      val os = opsByKind.getOrElse(k, Nil)
      out(s"server.resp_bytes.$k") = per(os.size, os.map(_.respBytes.toDouble).sum)
    }
    val ingestJobs = wJobs.filter(_.layer == "ingest")
    out("ingest.busy_ms_per_write") = per(nW, ingestJobs.map(_.ms).sum)
    out("ingest.jobs_per_write") = per(nW, ingestJobs.size)
    val storeW = wJobs.filter(j => j.layer == "store" && !j.rollupWrite)
    out("store.busy_ms_per_write") = per(nW, storeW.map(_.ms).sum)
    out("store.jobs_per_write") = per(nW, storeW.size)
    out("store.rows_written_per_row_ingested") = per(writes.map(_.rowsIngested).sum,
      storeW.flatMap(_.ranStages).map(_.outRecords.toDouble).sum)
    out("store.bytes_written_per_user_byte") = per(writes.map(_.pointsIngested * 4).sum,
      storeW.flatMap(_.ranStages).map(_.outBytes.toDouble).sum)
    out("store.rollup_refresh_ms_per_write") =
      per(nW, wJobs.filter(_.rollupWrite).map(_.ms).sum)
    out("store.bytes_scanned_per_read") =
      per(nReads, readJobs.flatMap(_.ranStages).map(_.inBytes.toDouble).sum)
    out("store.rows_scanned_per_row_returned") = per(
      reads.flatMap(k => opsByKind.getOrElse(k, Nil)).map(_.rowsReturned).sum,
      readJobs.flatMap(_.ranStages).map(_.inRecords.toDouble).sum)
    val rollupOps = opsByKind.getOrElse("rollup_read", Nil)
    val hits = js.filter(_.rollupScan).flatMap(_.opId).toSet
    out("client.rollup_hit_ratio") = per(rollupOps.size, rollupOps.count(o => hits(o.id)))
    out("client.jobs_per_read") = per(nReads, readJobs.count(_.layer == "client"))

    Layers.Kinds.foreach { k =>
      val os = opsByKind.getOrElse(k, Nil)
      val n = os.size.toDouble
      val kj = byKind.getOrElse(k, Nil)
      val st = kj.flatMap(_.ranStages)
      val ph = phasesOf(kj)
      out(s"spark.jobs_per_op.$k") = per(n, kj.size)
      out(s"spark.stages_per_op.$k") = per(n, st.size)
      out(s"spark.tasks_per_op.$k") = per(n, st.map(_.tasks.toDouble).sum)
      out(s"spark.shuffle_bytes_per_op.$k") = per(n, st.map(_.shuffleWrite.toDouble).sum)
      out(s"spark.driver_ms_per_op.$k") = per(n, os.map(_.ms).sum - kj.map(_.stageMs).sum)
      out(s"spark.sched_delay_ms.$k") = per(n, st.map(_.schedDelay.get.toDouble).sum)
      out(s"spark.analysis_ms.$k") = per(n, ph.map(_.analysis).sum)
      out(s"spark.optimization_ms.$k") = per(n, ph.map(_.optimization).sum)
      out(s"spark.planning_ms.$k") = per(n, ph.map(_.planning).sum)
    }

    val keyOps = opsByKind.getOrElse("board_key", Nil)
    Layers.QueryModules.foreach { m =>
      val os = keyOps.filter(_.module == m)
      val n = os.size.toDouble
      val mj = js.filter(_.module.contains(m))
      val cons = mj.filter(_.phase.contains("construct"))
      val exec = mj.filter(_.phase.contains("exec"))
      val ph = phasesOf(mj)
      val p = s"queries.$m"
      out(s"$p.construct_ms") = per(n, os.map(_.constructMs).sum)
      out(s"$p.construct_jobs") = per(n, cons.size)
      out(s"$p.analysis_ms") = per(n, ph.map(_.analysis).sum)
      out(s"$p.optimization_ms") = per(n, ph.map(_.optimization).sum)
      out(s"$p.planning_ms") = per(n, ph.map(_.planning).sum)
      out(s"$p.exec_ms") = per(n, os.map(o => o.ms - o.constructMs).sum)
      out(s"$p.exec_jobs") = per(n, exec.size)
      out(s"$p.exec_stages") = per(n, exec.flatMap(_.ranStages).size)
      out(s"$p.shuffle_bytes") = per(n, exec.flatMap(_.ranStages).map(_.shuffleWrite.toDouble).sum)
      out(s"$p.spill_bytes") = per(n, exec.flatMap(_.ranStages).map(_.spill.toDouble).sum)
    }

    val opKinds = ops.map(_.kind).toSet
    out("trace.coverage") = per(ops.map(_.ms).sum,
      js.filter(j => opKinds(j.kind)).map(_.ms).sum)
    out.toMap
  }
}
