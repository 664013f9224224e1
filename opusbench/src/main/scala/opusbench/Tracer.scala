package opusbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Public process-wide counters, snapshotted before and after a
  * measured window: Hadoop `file` byte statistics, filesystem operation
  * counts (traced runs), the engine's own MergeSink counters, Spark
  * codegen, and JVM GC/heap.
  */
object Counters {
  def snapshot(): Map[String, Double] = {
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "fs.read_ops" -> CountingFileSystem.reads.get.toDouble,
      "fs.write_ops" -> CountingFileSystem.writes.get.toDouble,
      "fs.bytes_read" -> fs.map(_.getBytesRead).sum.toDouble,
      "fs.bytes_written" -> fs.map(_.getBytesWritten).sum.toDouble,
      "mergesink.rebases" -> graft.streaming.MergeSink.rebaseCount.get.toDouble,
      "mergesink.metadata_fallbacks" ->
        graft.streaming.MergeSink.metadataFallbacks.get.toDouble,
      "catalyst.codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
      "catalyst.codegen_classes" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.gc_ms" -> gcMs.toDouble)
  }

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}

/** Public Spark listeners for a traced run: jobs become spans under
  * the harness span that submitted them; stages and tasks are summed;
  * every query execution reports its Catalyst phase times and the
  * graft-merge scan's custom metrics; every streaming progress
  * reports its trigger breakdown. Registered only in traced runs.
  */
final class Tracer(spark: SparkSession) {
  private val jobStarts = TrieMap.empty[Int, (Double, String, String)]
  private val stageToJob = TrieMap.empty[Int, Int]
  val jobSpans = new ConcurrentLinkedQueue[Array[Any]]()
  val totals = TrieMap.empty[String, Double]
  val queries = new ConcurrentLinkedQueue[Map[String, Double]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Double]]()
  @volatile var recording = false

  private def add(k: String, v: Double): Unit =
    totals.synchronized(totals.put(k, totals.getOrElse(k, 0.0) + v))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val p = Option(e.properties)
      jobStarts.put(e.jobId, (e.time.toDouble,
        p.map(_.getProperty(Recorder.SpanProp)).orNull,
        p.map(_.getProperty(Recorder.OpProp)).orNull))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, span, op) =>
        jobSpans.add(Array[Any](s"job${e.jobId}",
          Option(span).map(_.toLong).getOrElse(0L),
          Option(op).map(_.toLong).getOrElse(-1L), "job", t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording && stageToJob.contains(e.stageInfo.stageId)) add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && stageToJob.contains(e.stageId)) {
        add("exec.tasks", 1)
        add("exec.task_ms", e.taskInfo.duration.toDouble)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val ph = qe.tracker.phases
        def phase(n: String) = ph.get(n).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
          .getOrElse(0.0)
        val scans = nodes(qe.executedPlan).collect { case b: BatchScanExec => b.metrics }
        def scanSum(k: String) = scans.flatMap(_.get(k)).map(_.value.toDouble).sum
        queries.add(Map(
          "analysis_ms" -> phase("analysis"),
          "optimization_ms" -> phase("optimization"),
          "planning_ms" -> phase("planning"),
          "duration_ms" -> durationNs / 1e6,
          "scans" -> scans.size.toDouble,
          "snapshot_files" -> scanSum("snapshotDataFiles"),
          "pruned_files" -> scanSum("prunedDataFiles"),
          "planned_bytes" -> scanSum("plannedBytes")))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording && e.progress.numInputRows > 0)
        progress.add(e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.doubleValue }.toMap + ("batchId" -> e.progress.batchId.toDouble))
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    recording = true
  }

  /** Stop recording once every event of the window has been delivered. */
  def stop(): Unit = {
    org.apache.spark.opusbench.Bus.drain(spark.sparkContext)
    recording = false
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}
