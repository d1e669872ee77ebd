package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.store.{MetricDef, SensorConfig, SensorStore}

/** The maintenance CLI drives each subcommand against a temp store —
  * the CLI-layer mirror of the reference's migrate round-trip
  * (`tests/test_fileutils.py:696-881`) and corrupt-scan exit codes
  * (`__main__.py:101-109`).
  */
class MainSpec extends SparkSpec {

  private def run(args: String*): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val rc = Main.run(args.toArray, spark, new PrintStream(bos, true, "UTF-8"))
    (rc, bos.toString("UTF-8"))
  }

  private def freshStore(): (SensorStore, String) = {
    val dir = Files.createTempDirectory("graft-cli").toString
    (new SensorStore(spark, dir), dir)
  }

  private def writeFixture(st: SensorStore): Unit = {
    import spark.implicits._
    st.createSensor(SensorConfig("db1", "s1", "1s",
      Seq(MetricDef(Seq("active")), MetricDef(Seq("reactive")))))
    val t0 = 1704067200L
    val pts = Seq(
      (t0, "active", 1.0), (t0, "reactive", 2.0),
      (t0 + 1, "active", 3.0), (t0 + 2, "reactive", 4.0))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("db1", "s1", pts)
  }

  /** Names of the data files the sensor's current version lists (the
    * previous version's files stay on disk one commit longer). */
  private def dataFileNames(dir: String): Seq[String] =
    new SensorStore(spark, dir).dataFiles("db1", "s1")
      .map(Paths.get(_).getFileName.toString)

  test("usage and bad input: no args / unknown subcommand / missing " +
    "base-dir exit 2; --help exits 0; repair explains its absence") {
    assert(run()._1 == 2)
    val (rcHelp, help) = run("--help")
    assert(rcHelp == 0 && help.contains("no `repair`"))
    assert(run("frobnicate", "--base-dir", "/tmp")._1 == 2)
    assert(run("verify")._1 == 2)
    val (rcRepair, repairOut) = run("repair", "--base-dir",
      Files.createTempDirectory("graft-cli").toString)
    assert(rcRepair == 2 && repairOut.contains("atomic commit"))
    // serve requires the admin token before it binds anything
    val (rcServe, serveOut) = run("serve", "--base-dir",
      Files.createTempDirectory("graft-cli").toString)
    assert(rcServe == 2 && serveOut.contains("--admin-token"))
  }

  test("verify exits 0 on a clean store and 1 after out-of-band " +
    "tampering; --corrupt-only prints only the bad chunks") {
    val (st, dir) = freshStore()
    writeFixture(st)
    val (rc0, out0) = run("verify", "--base-dir", dir)
    assert(rc0 == 0, out0)
    assert(out0.contains("0 corrupt row(s)"), out0)

    // tamper one stored checksum in a listed file (the corruption class
    // verify exists for), same technique as SensorStoreSpec
    graft.store.Tamper.checksum(spark, st.dataFiles("db1", "s1"),
      1704067200L, 100f)

    val (rc1, out1) = run("verify", "--base-dir", dir, "--corrupt-only")
    assert(rc1 == 1, out1)
    assert(out1.contains("CORRUPT db1/s1"), out1)
    assert(!out1.contains("OK "), s"--corrupt-only must not list OK chunks: $out1")
  }

  test("stats prints per-chunk usage for every sensor") {
    val (st, dir) = freshStore()
    writeFixture(st)
    val (rc, out) = run("stats", "--base-dir", dir)
    assert(rc == 0, out)
    assert(out.contains("db1/s1 chunk="), out)
    assert(out.contains("3 used row(s)"), out) // 3 distinct ticks written
  }

  test("migrate: dry-run by default (files untouched), --force " +
    "rewrites to the target codec with data intact, re-run skips") {
    val (st, dir) = freshStore()
    writeFixture(st)
    val before = st.read("db1", "s1").collect().map(_.toString).sorted
    val filesBefore = dataFileNames(dir)
    assert(filesBefore.nonEmpty &&
      !filesBefore.exists(_.endsWith(".zstd.parquet")),
      s"fixture should not start zstd: $filesBefore")

    val (rcDry, outDry) = run("migrate", "--base-dir", dir,
      "--target", "zstd")
    assert(rcDry == 0 && outDry.contains("DRY-RUN db1/s1"), outDry)
    assert(dataFileNames(dir).sorted == filesBefore.sorted,
      "dry run must not touch files")

    val (rcF, outF) = run("migrate", "--base-dir", dir,
      "--target", "zstd", "--force")
    assert(rcF == 0 && outF.contains("MIGRATE db1/s1"), outF)
    val filesAfter = dataFileNames(dir)
    assert(filesAfter.nonEmpty && filesAfter.forall(_.endsWith(".zstd.parquet")),
      s"expected zstd part files, got: $filesAfter")
    val after = st.read("db1", "s1").collect().map(_.toString).sorted
    assert(after.sameElements(before), "migrate must not change values")

    val (rcAgain, outAgain) = run("migrate", "--base-dir", dir,
      "--target", "zstd", "--force")
    assert(rcAgain == 0 && outAgain.contains("SKIP    db1/s1 (already zstd"),
      outAgain)

    // and verify still passes end-to-end on the migrated store
    assert(run("verify", "--base-dir", dir)._1 == 0)
  }
}
