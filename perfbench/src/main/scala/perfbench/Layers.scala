package perfbench

/** Attribution of a Spark job to the program layer that caused it and
  * to the benchmark operation kind it served, read from the call site
  * Spark records for the job's SQL execution (one `Class.method(File:line)`
  * frame per line, innermost first).
  */
object Layers {

  /** Operation kinds the benchmark issues. */
  val Kinds: Seq[String] =
    Seq("write", "grafana", "read_df", "last_ts", "rollup_read", "board_key")

  val QueryModules: Seq[String] =
    Seq("TsQueries", "RelQueries", "PipeQueries", "ExtQueries")

  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(.*$""".r

  /** (class, method) of each frame; `$` suffixes of Scala objects and
    * lambdas are stripped so `TsQueries$` reads as `TsQueries`.
    */
  def frames(callSite: String): Seq[(String, String)] =
    callSite.split("\n").toSeq.collect { case Frame(cls, m) =>
      (cls.split('$').head, m)
    }

  /** Layer of the first `graft.*` frame: the program code that asked
    * Spark for the job. `GraftClient.write` is the influx front end, so
    * its own jobs (parse, malformed-line check, sensor discovery) are
    * the ingest layer's.
    */
  def layerOf(callSite: String): String =
    frames(callSite).find(_._1.startsWith("graft.")) match {
      case None => "bench"
      case Some((cls, m)) =>
        val simple = cls.split('.').last
        cls.split('.').drop(1).headOption.getOrElse("") match {
          case "client" if simple == "GraftClient" && m.contains("write") &&
              !m.contains("Points") && !m.contains("Df") => "ingest"
          case "server" => "server"
          case "client" => "client"
          case "ingest" => "ingest"
          case "store" => "store"
          case "core" if simple == "PathLock" => "store"
          case "read" => "read"
          case "queries" if QueryModules.contains(simple) => s"queries.$simple"
          case "ext" | "operators" | "expr" | "queries" => "queries"
          case _ => "other"
        }
    }

  /** Operation kind from the server route on the stack; None when the
    * job ran on a benchmark thread (those carry a job tag instead).
    */
  def kindOf(callSite: String): Option[String] = {
    val fs = frames(callSite)
    def has(cls: String, m: String => Boolean) =
      fs.exists { case (c, meth) => c.endsWith(cls) && m(meth) }
    if (has(".GraftServer", m => m.contains("influxWrite") || m.contains("binaryWrite")))
      Some("write")
    else if (has(".GraftServer", _.contains("grafanaQuery"))) Some("grafana")
    else if (has(".GraftServer", _.contains("readDf"))) Some("read_df")
    else if (has(".SensorStore", _.contains("lastTimestamp"))) Some("last_ts")
    else None
  }

  /** A SQL execution that writes a rollup directory. */
  def isRollupWrite(planDescription: String): Boolean =
    planDescription.contains("InsertIntoHadoopFsRelationCommand") &&
      planDescription.contains("rollup_")
}
