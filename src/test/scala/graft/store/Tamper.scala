package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Out-of-band corruption for the integrity specs. */
object Tamper {

  /** Add `delta` to the stored checksum of the row at `slot` in each of
    * the parquet `files`, rewriting each file in place under its listed
    * name (its local-FS checksum sidecar goes, so the reader does not
    * refuse the file before the store's own check sees it).
    */
  def checksum(spark: SparkSession, files: Seq[String], slot: Long,
               delta: Float): Unit =
    files.foreach { f =>
      val tmp = Files.createTempDirectory("tamper")
      spark.read.parquet(f)
        .withColumn("checksum",
          when(col("slot") === slot, col("checksum") + lit(delta))
            .otherwise(col("checksum")))
        .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
      val s = Files.list(tmp.resolve("out"))
      val part = try s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally s.close()
      val p = Paths.get(f)
      Files.move(part, p, StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
}
