package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small parallelism: the specs use
  * tiny frames; 4 shuffle partitions keeps jobs snappy). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session, keep alive

  /** Run `body` and return its result with the Spark jobs it started,
    * as the local properties each job carried. Waits for the listener
    * bus on both sides, so jobs of earlier code are not counted and
    * every job of `body` is. */
  def jobsOf[A](body: => A): (A, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val out = try {
      val a = body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      a
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.core.GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
}
