package opusbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.MaterializedViews
import graft.streaming.MergeSink

/** Streaming ingest into a graft-merge fact table that maintains an
  * algebraic materialized view, one generated batch file per
  * `Trigger.AvailableNow` micro-batch, while a reader queries both
  * tables through the catalog.
  */
final class IngestMv(a: Args) extends Workload {
  import IngestMv._

  private val reads: Seq[(String, Long, Long)] = {
    val src = Source.fromFile(s"${a.input}/reader.csv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split(','))
      .map(f => (f(0), f(1).toLong, f(2).toLong)).toVector
    finally src.close()
  }
  private val batchFiles: Seq[Path] = {
    val d = new java.io.File(s"${a.input}/batches")
    d.list().filter(_.endsWith(".parquet")).sorted.toSeq.map(n => d.toPath.resolve(n))
  }
  private def number(name: String): Long = {
    val src = Source.fromFile(s"${a.input}/$name", "UTF-8")
    try src.getLines().next().trim.toLong finally src.close()
  }
  private val baseRows = number("base_rows.txt")

  private var fact, view, srcDir, ckpt: String = _
  private var schema: StructType = _
  /** Micro-batch ids whose upsert committed. */
  private val upserted = ArrayBuffer.empty[Long]
  /** ... and those of them applied in the measured window. */
  private val windowBatches = ArrayBuffer.empty[Long]

  def setup(spark: SparkSession, dir: String, rec: Recorder): Unit = {
    fact = s"$dir/fact"
    view = s"$dir/view"
    srcDir = s"$dir/stream-in"
    ckpt = s"$dir/checkpoint"
    upserted.clear()
    Files.createDirectories(Paths.get(srcDir))
    val t0 = rec.nowMs
    val base = spark.read.parquet(s"${a.input}/base.parquet")
    schema = base.schema
    MergeSink.upsertBatch(base, fact, "l_id", "seq", 0L, "base")
    MaterializedViews.refreshDir(spark, fact, "l_id", view, Group, Aggs, "algebraic")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
    spark.sql(s"CREATE TABLE bench.db.fact (${schema.toDDL}) USING `graft-merge` " +
      s"OPTIONS (key 'l_id', seq 'seq', path '$fact')")
    val viewSchema = MergeSink.currentState(spark, view).get.schema
    spark.sql(s"CREATE TABLE bench.db.mv (${viewSchema.toDDL}) USING `graft-merge` " +
      s"OPTIONS (key '${Group.mkString(",")}', seq '${MaterializedViews.RefreshCol}', " +
      s"path '$view')")
    rec.sample("preload_ms", rec.nowMs - t0)
    // warm-up: one micro-batch through the stream, one of each query
    deadline = Double.PositiveInfinity
    drain(spark, rec, Seq(Paths.get(s"${a.input}/warm.parquet")))
    reads.distinctBy(_._1).foreach(query(spark, rec, _))
  }

  @volatile private var deadline = Double.PositiveInfinity
  @volatile private var lastBatchEnd = 0.0
  @volatile private var parked = false

  private def foreachBatch(spark: SparkSession, rec: Recorder)(df: DataFrame, id: Long): Unit = {
    // past the deadline: park here, between two applied batches, until
    // the harness stops the query
    if (rec.nowMs >= deadline) {
      parked = true
      try Thread.sleep(Long.MaxValue) catch { case _: InterruptedException => () }
      return
    }
    val applied = rec.op("batch") {
      val s = rec.nowMs
      rec.span("mergesink.upsertBatch")(
        MergeSink.upsertBatch(df, fact, "l_id", "seq", id, "ingest"))
      rec.sample("upsert_ms", rec.nowMs - s)
      upserted.synchronized(upserted += id)
      windowBatches.synchronized(windowBatches += id)
      val r = rec.nowMs
      val groups = rec.span("mv.refreshDir")(MaterializedViews.refreshDir(
        spark, fact, "l_id", view, Group, Aggs, "algebraic"))
      rec.sample("refresh_ms", rec.nowMs - r)
      rec.sample("groups_per_refresh", groups.toDouble)
      if (rec.trace) {
        val lag = MaterializedViews.viewLag(spark, view).map(_._2).getOrElse(-1L)
        rec.sample("lag_versions", lag.toDouble)
        rec.gate("ingest_mv.view_current_after_batch")(lag == 0L,
          s"view lags its source by $lag versions after batch $id")
      }
    }
    // trigger start (the previous batch's end, or the query start) to
    // the moment the view reflects this batch
    val now = rec.nowMs
    if (applied.isDefined) rec.sample("batch_e2e_ms", now - lastBatchEnd)
    lastBatchEnd = now
  }

  /** Stage `files` in the stream's input directory and drain them with
    * one AvailableNow query, one file per micro-batch, until every file
    * is applied or the deadline passes; then the query is stopped once
    * its thread is parked between micro-batches.
    */
  private def drain(spark: SparkSession, rec: Recorder, files: Seq[Path]): Unit = {
    files.foreach(f => Files.copy(f, Paths.get(srcDir).resolve(f.getFileName),
      StandardCopyOption.REPLACE_EXISTING))
    lastBatchEnd = rec.nowMs
    parked = false
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(foreachBatch(spark, rec) _)
      .start()
    try {
      while (!q.awaitTermination(50L))
        if (parked || rec.aborted) q.stop()
    } catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException if rec.aborted => ()
    }
    if (rec.aborted) throw rec.abort.get
  }

  private def query(spark: SparkSession, rec: Recorder, r: (String, Long, Long)): Unit = {
    val (kind, lo, hi) = r
    rec.op(kind) {
      val rows = kind match {
        case "range" => spark.sql(
          s"SELECT count(*), sum(l_quantity) FROM bench.db.fact " +
            s"WHERE l_id BETWEEN $lo AND $hi").collect()
        case "point" => spark.sql(
          s"SELECT l_id, l_suppkey, l_quantity FROM bench.db.fact WHERE l_id = $lo").collect()
        case "view_agg" => spark.sql(
          "SELECT count(*), sum(n), sum(qty) FROM bench.db.mv").collect()
      }
      kind match {
        case "range" => rec.gate("ingest_mv.range_sees_every_key_once")(
          rows(0).getLong(0) == hi - lo + 1, s"[$lo, $hi] -> ${rows(0)}")
        case "point" => rec.gate("ingest_mv.point_sees_key_once")(
          rows.length == 1 && rows(0).getLong(0) == lo, s"$lo -> ${rows.mkString(" ")}")
        case _ => rec.gate("ingest_mv.view_counts_every_base_row")(
          !rows(0).isNullAt(1) && rows(0).getLong(1) >= baseRows,
          s"view total ${rows(0)} < $baseRows base rows")
      }
    }
  }

  def run(spark: SparkSession, rec: Recorder, deadlineMs: Double): Double = {
    windowBatches.clear()
    deadline = deadlineMs
    // the reader stops only once the stream has: a batch that ends past
    // the deadline still runs beside reads, like every other batch
    val ingesting = new java.util.concurrent.atomic.AtomicBoolean(true)
    var readerEnd = 0.0
    val reader = Client.start("reader") {
      var i = 0
      while (ingesting.get && !rec.aborted) {
        query(spark, rec, reads(i % reads.size))
        i += 1
      }
      readerEnd = rec.nowMs
    }
    try {
      drain(spark, rec, batchFiles)
      if (rec.nowMs < deadlineMs)
        rec.errors.add(s"ingest ran out of its ${batchFiles.size} batch files")
    } finally {
      ingesting.set(false)
      reader.join()
    }
    math.max(readerEnd, lastBatchEnd)
  }

  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    // the fact table is checked against the last-writer-wins model by
    // run.py; the view is checked here against a from-scratch groupBy
    val st = MergeSink.currentState(spark, fact).get
    st.write.mode("overwrite").parquet(s"${a.work}/fact_final")
    val fresh = st.groupBy(Group.map(col): _*).agg(
      count(lit(1)).as("n"), sum("l_quantity").as("qty"), sum("l_cents").as("cents"))
    val mv = MergeSink.currentState(spark, view).get
      .select((Group ++ Seq("n", "qty", "cents")).map(col): _*)
    val diff = fresh.exceptAll(mv).union(mv.exceptAll(fresh)).limit(5).collect()
    rec.gate("ingest_mv.view_equals_fresh_groupby")(diff.isEmpty,
      s"rows differing: ${diff.mkString(" ")}")
    // run.py maps the batch ids to their files through the checkpoint's
    // source log
    Map("upserted_batches" -> upserted.synchronized(upserted.toList),
      "window_batches" -> windowBatches.synchronized(windowBatches.toList),
      "checkpoint" -> ckpt) ++
      Space.measure(spark, Seq(fact, view), s"${a.work}/space")
  }
}

object IngestMv {
  val Group = Seq("l_suppkey")
  val Aggs = Seq(
    MaterializedViews.Agg("n", "count", "*"),
    MaterializedViews.Agg("qty", "sum", "l_quantity"),
    MaterializedViews.Agg("cents", "sum", "l_cents"))
}
