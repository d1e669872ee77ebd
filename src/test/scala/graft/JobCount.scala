package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block fires, by job group. */
object JobCount {

  def apply(spark: SparkSession)(f: => Any): Int = split(spark)(f)._1

  /** The jobs `f` fires on the calling thread, and the jobs other
    * threads (a server's handler pool, say) fire while it runs.
    */
  def split(spark: SparkSession)(f: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val mine = new AtomicInteger()
    val others = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => mine.incrementAndGet(); ()
          case Some(g) if g == s"$group-end" => drained.countDown()
          case _ if drained.getCount > 0 => others.incrementAndGet(); ()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job count")
      f
      // the bus delivers in order: once this marker job is seen, every
      // job of `f` has been counted
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "marker job never seen")
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    (mine.get, others.get)
  }
}
