package opusbench

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Passes over read-only query lanes (`graft.ops`) on a generated
  * star-schema fixture, each pass in a seeded lane order. No MergeSink,
  * view or stream code runs. Every run of a lane must return the same
  * rows; `run.py` checks them against the lane's DuckDB twin.
  */
final class OlapLanes(a: Args) extends Workload {
  private val passes: Seq[Seq[String]] = {
    val src = Source.fromFile(s"${a.input}/passes.csv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split(',').toSeq).toVector
    finally src.close()
  }
  private val lanes = passes.head.sorted
  private val queries = SparkEntry.queries
  /** Each lane's first result: schema and rows, sorted as strings. */
  private val results = TrieMap.empty[String, (StructType, Array[Row], Seq[String])]
  private var pass = 0

  /** Warm-up: the first `WarmPasses` passes. A lane's first runs in a
    * JVM stay slower for about two passes while the JIT compiles
    * Spark's planning and execution paths.
    */
  def setup(spark: SparkSession, dir: String, rec: Recorder): Unit =
    passes.take(OlapLanes.WarmPasses).flatten.foreach(lane(spark, rec, _))

  private def lane(spark: SparkSession, rec: Recorder, name: String): Unit =
    rec.op(s"lane.$name") {
      val df = queries(name)(spark, a.input)
      val rows = df.collect()
      val key = rows.map(_.toString).toSeq.sorted
      val (_, _, first) = results.getOrElseUpdate(name, (df.schema, rows, key))
      rec.gate("olap_lanes.lane_result_stable")(key == first,
        s"$name returned ${key.size} rows, its first run ${first.size}")
    }

  def run(spark: SparkSession, rec: Recorder, deadlineMs: Double): Double = {
    while (rec.nowMs < deadlineMs && !rec.aborted) {
      val order = passes(pass % passes.size)
      val t0 = rec.nowMs
      val done = order.takeWhile { l =>
        rec.nowMs < deadlineMs && { lane(spark, rec, l); !rec.aborted }
      }
      if (done.size == order.size) rec.sample("pass_ms", rec.nowMs - t0)
      pass += 1
    }
    rec.nowMs
  }

  /** Writes each lane's result and DuckDB twin SQL for `run.py`. */
  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    val out = s"${a.work}/lanes"
    Files.createDirectories(Paths.get(out))
    for ((name, (schema, rows, _)) <- results)
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
    Json.write(new java.io.File(s"$out/oracle_sql.json"),
      lanes.map(l => l -> SparkEntry.oracleSql(l)).toMap.asJava)
    val inputs = Seq("region", "nation", "customer", "orders", "lineitem", "embeddings")
      .map(t => s"${a.input}/$t.parquet")
    Map("lanes_dir" -> out, "lanes" -> lanes) ++
      Space.measureFiles(spark, inputs, s"${a.work}/space")
  }
}

object OlapLanes {
  val WarmPasses = 2
}
