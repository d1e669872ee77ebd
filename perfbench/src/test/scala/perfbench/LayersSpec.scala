package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private def site(frames: String*) =
    ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)" +: frames).mkString("\n")

  test("the first graft frame names the layer") {
    assert(Layers.layerOf(site(
      "graft.store.SensorStore.write(SensorStore.scala:153)",
      "graft.store.SensorStore.$anonfun$writeLocked$1(SensorStore.scala:241)",
      "graft.client.GraftClient.write(GraftClient.scala:190)")) == "store")
    assert(Layers.layerOf(site(
      "graft.client.GraftClient.readGrafanaJson(GraftClient.scala:503)",
      "graft.server.GraftServer.grafanaQuery(GraftServer.scala:563)")) == "client")
    assert(Layers.layerOf(site("graft.server.GraftServer.readDf(GraftServer.scala:497)")) == "server")
    assert(Layers.layerOf(site("graft.core.PathLock$.withLock(PathLock.scala:60)")) == "store")
    assert(Layers.layerOf(site("graft.read.Downsample$.lttb(Downsample.scala:80)")) == "read")
    assert(Layers.layerOf(site("graft.queries.TsQueries$.$anonfun$queries$5(TsQueries.scala:40)")) ==
      "queries.TsQueries")
    assert(Layers.layerOf(site("graft.ext.Dedup$.minhash(Dedup.scala:10)")) == "queries")
    assert(Layers.layerOf(site("perfbench.Board.runKey(Board.scala:39)")) == "bench")
  }

  test("the influx front end's own jobs are ingest, its other writes are not") {
    assert(Layers.layerOf(site("graft.client.GraftClient.write(GraftClient.scala:174)",
      "graft.server.GraftServer.influxWrite(GraftServer.scala:444)")) == "ingest")
    assert(Layers.layerOf(site("graft.client.GraftClient.$anonfun$write$2(GraftClient.scala:183)")) ==
      "ingest")
    assert(Layers.layerOf(site("graft.client.GraftClient.writeDf(GraftClient.scala:215)")) == "client")
  }

  test("the server route on the stack names the operation kind") {
    val write = site("graft.store.SensorStore.write(SensorStore.scala:206)",
      "graft.client.GraftClient.write(GraftClient.scala:190)",
      "graft.server.GraftServer.influxWrite(GraftServer.scala:444)")
    assert(Layers.kindOf(write).contains("write"))
    assert(Layers.kindOf(site("graft.client.GraftClient.readGrafanaJson(GraftClient.scala:503)",
      "graft.server.GraftServer.grafanaQuery(GraftServer.scala:563)")).contains("grafana"))
    assert(Layers.kindOf(site("graft.server.GraftServer.readDf(GraftServer.scala:497)"))
      .contains("read_df"))
    assert(Layers.kindOf(site("graft.store.SensorStore.lastTimestamp(SensorStore.scala:350)",
      "graft.server.GraftServer.routedAuthed(GraftServer.scala:377)")).contains("last_ts"))
    assert(Layers.kindOf(site("perfbench.Board.runKey(Board.scala:39)")).isEmpty)
  }

  test("rollup writes are told apart from rollup scans") {
    val write = "Execute InsertIntoHadoopFsRelationCommand file:/s/pb/fine/meanrollup_60, ..."
    assert(Layers.isRollupWrite(write))
    assert(!Layers.isRollupWrite("Execute InsertIntoHadoopFsRelationCommand file:/s/pb/fine/data"))
    assert(!Layers.isRollupWrite("FileScan parquet [...] Location: InMemoryFileIndex [file:/s/rollup_60]"))
  }
}
