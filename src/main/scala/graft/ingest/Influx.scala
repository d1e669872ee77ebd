package graft.ingest

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** InfluxDB-line-protocol ingest (reference operator A-1).
  *
  * Grammar (from `/root/reference/src/ong_tsdb/server_utils.py:8-25`):
  * `"<db>,<ignored>=<sensor> <m1>=<v1>,<m2>=<v2>,... <ts_ns>"` — the
  * first comma-field's key is ignored, only its value names the sensor;
  * the trailing nanosecond timestamp is optional (missing → ingest
  * time); a malformed line raises (`InfluxParseException`).
  *
  * One decoder, [[decodeLine]], plain Scala on whoever calls it: the
  * server and the library decode a write body on the driver into
  * [[PointRow]]s ([[decode]]), the points the `/influx_binary`
  * body decodes to; a DataFrame of lines decodes through the same
  * function as a UDF ([[parseLines]]) into the engine's long rows
  * `(db, sensor, metric, value, ts_sec)`.
  */
object Influx {

  /** Lines that the grammar accepts: header, fields, optional ts
    * (possibly negative — the reference's `int()` accepts pre-epoch).
    */
  val LineRegex = """^([^, ]+),[^= ]+=([^ ]+) ([^ ]+)( -?\d+)?$"""

  private val Line = Pattern.compile(LineRegex)
  private val SensorRe = Pattern.compile(""",[^=]+=(.+)$""")
  private val TsRe = Pattern.compile(""" (-?\d+)$""")

  /** One field of an accepted line; a field without `=` has no value
    * and a line without a timestamp no `ts_sec`.
    */
  private case class Field(db: String, sensor: String, metric: String,
                           value: Option[Double], ts_sec: Option[Long])

  /** The first match of `p`'s group 1 in `s`, or "" — Spark's
    * `regexp_extract`.
    */
  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) Option(m.group(1)).getOrElse("") else ""
  }

  /** Spark's string→double rule (what `try_cast(v AS DOUBLE)` accepts):
    * Java's number syntax, then the `inf`/`infinity`/`nan` literals in
    * any case; anything else is not a number.
    */
  private def toDouble(s: String): Option[Double] =
    try Some(s.toDouble) catch {
      case _: NumberFormatException =>
        s.trim.toLowerCase(java.util.Locale.ROOT) match {
          case "inf" | "+inf" | "infinity" | "+infinity" =>
            Some(Double.PositiveInfinity)
          case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
          case "nan" => Some(Double.NaN)
          case _ => None
        }
    }

  /** The fields of one line, or None when it is malformed: the line
    * fails [[LineRegex]], or a field has an empty name or a non-numeric
    * value. Strings split as Spark's `split` does (Java's, trailing
    * empties kept). The ns→s stamp FLOORS like the reference's Python
    * `//`, on pre-epoch timestamps too (`Math.floorDiv`, which cannot
    * overflow at the int64 edges); a digit run past int64 counts as no
    * timestamp.
    */
  private def decodeLine(line: String): Option[Seq[Field]] = {
    val lm = Line.matcher(Option(line).getOrElse(""))
    if (!lm.find()) None
    else {
      val Array(header, fields, _*) = line.split(" ", -1)
      val (db, sensor) = (lm.group(1), extract(SensorRe, header))
      val ts = extract(TsRe, line).toLongOption.map(Math.floorDiv(_, 1000000000L))
      val values = fields.split(",", -1).toSeq.map { f =>
        val kv = f.split("=", -1)
        (kv(0), kv.lift(1).map(toDouble))
      }
      Option.when(values.forall { case (m, v) => m.nonEmpty && !v.contains(None) })(
        values.map { case (m, v) => Field(db, sensor, m, v.flatten, ts) })
    }
  }

  /** Decode a write body's lines into points, stamping a line without a
    * timestamp `nowSec` and a field without a value NaN (a cell the
    * write leaves alone); the first malformed line raises
    * [[graft.core.InfluxParseException]], so a bad line refuses the
    * whole body.
    */
  def decode(lines: Seq[String], nowSec: Long): Seq[PointRow] =
    lines.flatMap(line => decodeLine(line)
      .getOrElse(throw new graft.core.InfluxParseException(line))
      .map(f => PointRow(f.db, f.sensor, f.metric, f.value.getOrElse(Double.NaN),
        f.ts_sec.getOrElse(nowSec).toDouble)))

  private val parseUdf = udf((line: String) => decodeLine(line))

  /** Parse a DataFrame with a string column `lineCol` into long-format
    * points, keeping its other columns. Output columns: malformed
    * (boolean), db, sensor, metric, value (double; null for a field
    * without `=`), ts_sec (long; null when the line had no timestamp —
    * caller fills ingest time). A malformed line gives one row, flagged,
    * its other columns null.
    */
  def parseLines(df: DataFrame, lineCol: String): DataFrame =
    Seq("db", "sensor", "metric", "value", "ts_sec").foldLeft(
        df.withColumn("__field", explode_outer(parseUdf(col(lineCol))))
          .withColumn("malformed", col("__field").isNull)) {
        (acc, c) => acc.withColumn(c, col(s"__field.$c"))
      }.drop("__field")

  /** Fill-value parsing (reference C-5, `server.py:296-301`): numeric
    * string → its value; "nan" (any case) → NaN; anything else → warn
    * semantics collapsed to the default 0.0.
    */
  def parseFillValue(s: String): Double = {
    val t = s.trim.toLowerCase
    if (t == "nan") Double.NaN
    else try t.toDouble catch { case _: NumberFormatException => 0.0 }
  }

  /** Render long-format points back into influx lines (client.py:372-382
    * direction). One metric per line; value printed with a fixed `%.6f`
    * so the text form is deterministic across engines.
    */
  def formatLine(db: Column, sensor: Column, metric: Column, value: Column,
                 tsSec: Column): Column =
    format_string("%s,circuit=%s %s=%.6f %d",
      db, sensor, metric, value, tsSec * lit(1000000000L))
}
