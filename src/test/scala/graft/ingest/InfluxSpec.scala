package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Influx line grammar (reference `server_utils.py:8-25`, fixture
  * shapes from FIXTURES.md §A.2 / `tests/test_client.py:65-71`).
  */
class InfluxSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def parse(lines: String*) = {
    import spark.implicits._
    Influx.parseLines(lines.toDF("line"), "line")
  }

  test("multi-metric line explodes to long rows in order") {
    val rows = parse("test,circuit=s1 active=9,reactive=10 1704067200000000000")
      .select("db", "sensor", "metric", "value", "ts_sec")
      .collect().toSeq
    assert(rows == Seq(
      Row("test", "s1", "active", 9.0, 1704067200L),
      Row("test", "s1", "reactive", 10.0, 1704067200L)))
  }

  test("pre-epoch nanoseconds floor to the earlier second (python //)") {
    // -1 ns is inside second -1 ([-1e9, 0)); truncation would say 0
    val rows = parse(
      "test,circuit=s1 active=1 -1",
      "test,circuit=s1 active=1 -1000000000",
      "test,circuit=s1 active=1 -1000000001",
      "test,circuit=s1 active=1 1")
      .select("ts_sec").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(-1L, -1L, -2L, 0L))
  }

  test("ragged lines: single metric, missing ts → null ts") {
    val rows = parse("test,circuit=s1 active=11")
      .select("metric", "value", "ts_sec").collect().toSeq
    assert(rows == Seq(Row("active", 11.0, null)))
  }

  test("new metric mid-stream parses like any other") {
    val rows = parse(
      "test,circuit=s1 reactive=15,active=16,nueva=17 1704067201000000000")
      .select("metric").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("reactive", "active", "nueva"))
  }

  test("malformed lines are flagged, not dropped") {
    val rows = parse("garbage without equals", "test,circuit=s1 a=1 123")
      .select("malformed").collect().map(_.getBoolean(0)).toSeq
    assert(rows == Seq(true, false))
  }

  test("non-numeric metric value FLAGS the row — never throws under ANSI") {
    // the reference raises InfluxParseException per line (float(v)
    // ValueError); a plain cast would kill the whole batch instead
    val rows = parse("test,circuit=s1 m=abc 123", "test,circuit=s1 m=2.5 123")
      .select("malformed", "value").collect()
    assert(rows(0).getBoolean(0) && rows(0).isNullAt(1))
    assert(!rows(1).getBoolean(0) && rows(1).getDouble(1) == 2.5)
  }

  test("ns→sec floors — a ts 1ns below a boundary must not round up") {
    val rows = parse(
      "test,circuit=s1 a=1 1704067199999999999",
      "test,circuit=s1 a=1 1704067200000000000")
      .select("ts_sec").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1704067199L, 1704067200L))
  }

  test("format → parse round-trip") {
    import spark.implicits._
    val df = Seq(("g", "u7", "active", 12.5, 1704067200L))
      .toDF("db", "sensor", "metric", "value", "sec")
      .select(Influx.formatLine(col("db"), col("sensor"), col("metric"),
        col("value"), col("sec")).as("line"))
    assert(df.head().getString(0) == "g,circuit=u7 active=12.500000 1704067200000000000")
    val back = Influx.parseLines(df, "line")
      .select("db", "sensor", "metric", "value", "ts_sec").head()
    assert(back == Row("g", "u7", "active", 12.5, 1704067200L))
  }

  /** Each line's outcome: "malformed", or its rows
    * `(db|sensor|metric|value|ts_sec)`. A line with an empty field or
    * metric name (`m1=1,`, `m1=1,=2`, `m=1,,n=2`, `,`) is malformed: a
    * metric named '' would join the sensor's schema for good. The
    * `m=<v> 123` rows pin Spark's string→double rule.
    */
  private val Table = Seq(
    "" -> "malformed",
    " " -> "malformed",
    "," -> "malformed",
    "=" -> "malformed",
    "db" -> "malformed",
    "db," -> "malformed",
    "db,c=s" -> "malformed",
    "db,c=s " -> "malformed",
    "db,c=s m" -> "(db|s|m|null|null)",
    "db,c=s m=" -> "malformed",
    "db,c=s m=abc" -> "malformed",
    "db,c=s m=1e999" -> "(db|s|m|Infinity|null)",
    "db,c=s m=nän" -> "malformed",
    "db,c=s m=1 notanumber" -> "malformed",
    "db,c=s m=1 99999999999999999999999999" -> "(db|s|m|1.0|null)",
    "db,c=s m=1 123 extra" -> "malformed",
    "db,,c=s m=1" -> "(db|s|m|1.0|null)",
    "db,c=s m=1,=2" -> "malformed",
    "db,c=s m==2" -> "malformed",
    "🚀,c=s m=1 123" -> "(🚀|s|m|1.0|0)",
    "db,c=🚀 m=∞ 456" -> "malformed",
    "a,b=c d=1.5 1704067200000000000" -> "(a|c|d|1.5|1704067200)",
    "test,circuit=s1 active=9,reactive=10 1704067200000000000" -> "(test|s1|active|9.0|1704067200) (test|s1|reactive|10.0|1704067200)",
    "test,circuit=s1 active=1 -1" -> "(test|s1|active|1.0|-1)",
    "test,circuit=s1 active=1 -1000000000" -> "(test|s1|active|1.0|-1)",
    "test,circuit=s1 active=1 -1000000001" -> "(test|s1|active|1.0|-2)",
    "test,circuit=s1 active=1 1" -> "(test|s1|active|1.0|0)",
    "test,circuit=s1 active=11" -> "(test|s1|active|11.0|null)",
    "test,circuit=s1 reactive=15,active=16,nueva=17 1704067201000000000" -> "(test|s1|reactive|15.0|1704067201) (test|s1|active|16.0|1704067201) (test|s1|nueva|17.0|1704067201)",
    "garbage without equals" -> "malformed",
    "test,circuit=s1 a=1 123" -> "(test|s1|a|1.0|0)",
    "test,circuit=s1 m=abc 123" -> "malformed",
    "test,circuit=s1 m=2.5 123" -> "(test|s1|m|2.5|0)",
    "test,circuit=s1 a=1 1704067199999999999" -> "(test|s1|a|1.0|1704067199)",
    "test,circuit=s1 a=1 1704067200000000000" -> "(test|s1|a|1.0|1704067200)",
    "g,circuit=u7 active=12.500000 1704067200000000000" -> "(g|u7|active|12.5|1704067200)",
    "db,c=s m=inf 123" -> "(db|s|m|Infinity|0)",
    "db,c=s m=+inf 123" -> "(db|s|m|Infinity|0)",
    "db,c=s m=-inf 123" -> "(db|s|m|-Infinity|0)",
    "db,c=s m=Infinity 123" -> "(db|s|m|Infinity|0)",
    "db,c=s m=-Infinity 123" -> "(db|s|m|-Infinity|0)",
    "db,c=s m=+Infinity 123" -> "(db|s|m|Infinity|0)",
    "db,c=s m=INF 123" -> "(db|s|m|Infinity|0)",
    "db,c=s m=iNfInItY 123" -> "(db|s|m|Infinity|0)",
    "db,c=s m=NaN 123" -> "(db|s|m|NaN|0)",
    "db,c=s m=nan 123" -> "(db|s|m|NaN|0)",
    "db,c=s m=-nan 123" -> "malformed",
    "db,c=s m=+nan 123" -> "malformed",
    "db,c=s m=1d 123" -> "(db|s|m|1.0|0)",
    "db,c=s m=1f 123" -> "(db|s|m|1.0|0)",
    "db,c=s m=1D 123" -> "(db|s|m|1.0|0)",
    "db,c=s m=0x1p3 123" -> "(db|s|m|8.0|0)",
    "db,c=s m=0x10 123" -> "malformed",
    "db,c=s m=1e5 123" -> "(db|s|m|100000.0|0)",
    "db,c=s m=1E-3 123" -> "(db|s|m|0.001|0)",
    "db,c=s m=1e-999 123" -> "(db|s|m|0.0|0)",
    "db,c=s m=+5 123" -> "(db|s|m|5.0|0)",
    "db,c=s m=.5 123" -> "(db|s|m|0.5|0)",
    "db,c=s m=5. 123" -> "(db|s|m|5.0|0)",
    "db,c=s m=-0 123" -> "(db|s|m|-0.0|0)",
    "db,c=s m=1_000 123" -> "malformed",
    "db,c=s m=١ 123" -> "malformed",
    "db,c=s m=1.5e 123" -> "malformed",
    "db,c=s m=e5 123" -> "malformed",
    "db,c=s m=--1 123" -> "malformed",
    "db,c=s m=1.0.0 123" -> "malformed",
    "db,c=s m=∞ 123" -> "malformed",
    "db,c=s m=infinit 123" -> "malformed",
    "db,c=s m=nanx 123" -> "malformed",
    "db,c=s m=1  123" -> "malformed",
    "db,c=s m=1\r 123" -> "(db|s|m|1.0|0)",
    "db,c=s m=0.1 123" -> "(db|s|m|0.1|0)",
    "db,c=s m=-1.7976931348623157E308 123" -> "(db|s|m|-1.7976931348623157E308|0)",
    "db,c=s m=4.9e-324 123" -> "(db|s|m|4.9E-324|0)",
    "db,c=s m=1 -0" -> "(db|s|m|1.0|0)",
    "db,c=s m=1 00123" -> "(db|s|m|1.0|0)",
    "db,c=s m=1 9223372036854775807" -> "(db|s|m|1.0|9223372036)",
    "db,c=s m=1 9223372036854775808" -> "(db|s|m|1.0|null)",
    "db,c=s m=1 -9223372036854775808" -> "(db|s|m|1.0|-9223372037)",
    "db,c=s m=1 -9223372036854775809" -> "(db|s|m|1.0|null)",
    "db,a=b=c m=1" -> "(db|b=c|m|1.0|null)",
    "db,a=b,x=y m=1" -> "(db|b,x=y|m|1.0|null)",
    "db,c=s m=1=2" -> "(db|s|m|1.0|null)",
    "db,c=s m,n=2" -> "(db|s|m|null|null) (db|s|n|2.0|null)",
    "db,c=s m=1,,n=2" -> "malformed",
    "db,c=s m1=1," -> "malformed",
    "db,c=s m1=1,=2" -> "malformed",
    "db,c=s\tm=1" -> "malformed",
    "db,c=s m=1 123\n" -> "(db|s|m|1.0|0)",
    "db,c=s m=1\r" -> "(db|s|m|1.0|null)",
    "db,c=s m=1\n" -> "(db|s|m|1.0|null)",
    "db,c=a\nb m=1" -> "(db||m|1.0|null)",
    "db,c=s  m=1" -> "malformed",
    "db,c=s m=1  123" -> "malformed",
    " db,c=s m=1" -> "malformed",
    "db,c=s m=1 123 " -> "malformed",
    "db ,c=s m=1" -> "malformed",
    "d b,c=s m=1" -> "malformed",
    "db,c=s m=1,m=2,m=3 5" -> "(db|s|m|1.0|0) (db|s|m|2.0|0) (db|s|m|3.0|0)",
    "db,c= m=1" -> "malformed",
    "db,=s m=1" -> "malformed",
    ",c=s m=1" -> "malformed",
    "db,c=s m=1 1.5" -> "malformed",
    "db,c=s m=1 +5" -> "malformed",
    "db,c=s m=1,n=x 5" -> "malformed",
    "db,c=s m=x,n=1 5" -> "malformed",
    "db,c=s =" -> "malformed",
    "db,c=s ," -> "malformed",
    "db,c=s m=1 " -> "malformed",
    "db,c=s m=é 1" -> "malformed")

  test("decode table: each line is malformed or its points, and the " +
    "write-path decode agrees") {
    import spark.implicits._
    val rows = Influx.parseLines(Table.map(_._1).zipWithIndex.toDF("line", "id"),
        "line")
      .select("id", "malformed", "db", "sensor", "metric", "value", "ts_sec")
      .collect().groupBy(_.getInt(0))
    def show(r: Row, value: Any, ts: Any) =
      s"(${r.getString(2)}|${r.getString(3)}|${r.getString(4)}|$value|$ts)"
    val now = 42L
    Table.zipWithIndex.foreach { case ((line, want), id) =>
      val rs = rows(id).toSeq
      val bad = rs.exists(_.getBoolean(1))
      assert((if (bad) "malformed" else rs.map(r =>
        show(r, r.get(5), r.get(6))).mkString(" ")) == want, s"line <$line>")
      val decoded = try Some(Influx.decode(Seq(line), now).map(p =>
          s"(${p.db}|${p.sensor}|${p.metric}|${p.value}|${p.ts_sec.toLong})"))
        catch { case _: graft.core.InfluxParseException => None }
      assert(decoded == Option.when(!bad)(rs.map(r => show(r,
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5),
        if (r.isNullAt(6)) now else r.getLong(6)))), s"decode <$line>")
    }
  }
}
