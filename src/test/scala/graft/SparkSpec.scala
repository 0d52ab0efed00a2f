package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across every suite (fork=true → one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Spark jobs launched while running `body`, listener bus drained
    * before each read so stragglers cannot cross the boundary.
    */
  def jobsDuring[T](body: => T): (Long, T) = {
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        count.incrementAndGet(): Unit
    }
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
      (count.get(), r)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
