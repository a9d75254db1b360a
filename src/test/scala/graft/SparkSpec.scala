package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the benched config
  * ([[Sessions.builder]]) at 4 cores.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()   // shared session lives for the whole test JVM
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("4").config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `f` runs; the listener bus is async, so
    * drain it before reading the count.
    */
  def jobsDuring(spark: SparkSession)(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      Obs.drain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
