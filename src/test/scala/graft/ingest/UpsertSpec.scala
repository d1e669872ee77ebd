package graft.ingest


import graft.SparkSpec

/** Cell-level upsert semantics (reference `database.py:480-483`):
  * incoming NaN/null never clobbers, real values always win, rows only
  * on one side pass through.
  */
class UpsertSpec extends SparkSpec {

  test("NaN-mask: incoming NaN/null keeps stored value") {
    import spark.implicits._
    val old = Seq((1L, Some(1.0), Some(2.0)), (2L, Some(3.0), None))
      .toDF("slot", "a", "b")
    val nw = Seq(
      (1L, Some(Double.NaN), Some(20.0)), // NaN must not clobber a=1.0
      (2L, None, Some(40.0)),             // null must not clobber a=3.0
      (3L, Some(5.0), None))              // new row
      .toDF("slot", "a", "b")
    val out = Upsert.merge(old, nw, Seq("slot"), Seq("a", "b"))
      .orderBy("slot").collect()
    assert(out(0).getDouble(1) == 1.0 && out(0).getDouble(2) == 20.0)
    assert(out(1).getDouble(1) == 3.0 && out(1).getDouble(2) == 40.0)
    assert(out(2).getDouble(1) == 5.0 && out(2).isNullAt(2))
  }

  test("upsert is idempotent: re-merging the same batch changes nothing") {
    import spark.implicits._
    val old = Seq((1L, Some(1.0)), (2L, Some(2.0))).toDF("slot", "a")
    val once = Upsert.merge(old, old, Seq("slot"), Seq("a"))
    val twice = Upsert.merge(once, old, Seq("slot"), Seq("a"))
    assert(twice.orderBy("slot").collect().toSeq ==
      old.orderBy("slot").collect().toSeq)
  }

  test("last-write-wins inside a batch via pivot order") {
    import spark.implicits._
    val pts = Seq(
      (100L, "a", 1.0, 1L), (100L, "a", 9.0, 2L) // same cell, later arrival 9.0
    ).toDF("slot", "metric", "value", "arrival")
    val wide = Pivot.longToWide(pts, Seq("slot"), "metric", "value",
      "arrival", Seq("a"))
    assert(wide.head().getDouble(1) == 9.0)
  }
}
