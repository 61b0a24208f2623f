package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one JVM-wide session). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSpec.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftSpec.drainListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object GraftSpec {

  /** The engine's session with a warehouse of its own per test JVM, so
    * TableStats and tables that other runs persist in the default
    * warehouse cannot change what a spec sees; it is deleted at exit. */
  private lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_spec_warehouse")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse.toFile))
    val s = GraftSession.builder("4", None)
      .config("spark.sql.warehouse.dir", warehouse.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Blocks until every listener has been handed every event posted so
    * far (the listener bus has no public call for it). */
  private def drainListeners(spark: SparkSession): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
