package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `op` and counts the Spark jobs it started and the classes
    * codegen compiled meanwhile. Jobs are tagged with a job group; a
    * fence job run after `op` marks when every earlier job start has
    * reached the listener (the bus delivers in order).
    */
  protected def jobsAndCompiles[T](op: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    sc.addSparkListener(listener)
    try {
      val c0 = compiles.getCount
      sc.setJobGroup("counted-op", "counted")
      val out = try op finally sc.clearJobGroup()
      val compiled = compiles.getCount - c0
      sc.setJobGroup("counted-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!groups.contains("counted-fence") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
      assert(groups.contains("counted-fence"), "listener never saw the fence job")
      (out, groups.toArray.count(_ == "counted-op"), compiled)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the engine's own session settings (SessionTuning), so the suite
    // runs on the filesystem and class loaders the mains run on
    val s = SessionTuning.tuned(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
