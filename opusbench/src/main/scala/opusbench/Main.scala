package opusbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    cpus: Int) {
  def input: String = s"$work/input"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("cpus").toInt)
  }
}

/** One workload: built fresh by `setup` (timed, repeated), driven by
  * its clients until the deadline by `run`, then checked and measured
  * with the clock stopped by `finish`.
  */
trait Workload {
  def setup(spark: SparkSession, dir: String, rec: Recorder): Unit
  /** Drive the clients until `deadlineMs`; returns when the last
    * operation ended.
    */
  def run(spark: SparkSession, rec: Recorder, deadlineMs: Double): Double
  /** Gates over the final state plus untimed measurements (space). */
  def finish(spark: SparkSession, rec: Recorder): Map[String, Any]
}

/** The benchmark's JVM: set up `Setups` times (the last set-up is the
  * one measured), run the workload's clients for `seconds`, check, and
  * write every raw measurement to `<work>/raw.json` for `run.py`.
  */
object Main {
  val Setups = 2

  def session(a: Args, dir: String): SparkSession =
    graft.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"opusbench-${a.workload}")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.catalog.bench", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.bench.warehouse", s"$dir/catalog"))
      // traced runs count filesystem operations (see CountingFileSystem)
      .config(if (a.trace) Map("spark.hadoop.fs.file.impl" ->
        classOf[CountingFileSystem].getName) else Map.empty[String, String])
      .getOrCreate()

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_: Path))
      finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = System.exit(run(Args.parse(argv)))

  /** One run; returns the process exit code. */
  def run(a: Args): Int = {
    val w: Workload = a.workload match {
      case "bank_txn" => new BankTxn(a)
      case "ingest_mv" => new IngestMv(a)
      case "olap_lanes" => new OlapLanes(a)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val rec = new Recorder(a.trace)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", a.workload)
    out.put("seed", a.seed)
    out.put("cpus", a.cpus)
    out.put("trace", a.trace)
    var spark: SparkSession = null
    var code = 0
    try {
      val setupS = new java.util.ArrayList[Double]()
      val setupCounters = new java.util.ArrayList[java.util.Map[String, Double]]()
      val setupPhases = new java.util.ArrayList[java.util.Map[String, Double]]()
      for (k <- 1 to Setups) {
        if (spark != null) {
          spark.stop()
          deleteTree(s"${a.work}/setup${k - 1}")
        }
        val c0 = Counters.snapshot()
        val t0 = rec.nowMs
        spark = session(a, s"${a.work}/setup$k")
        spark.sparkContext.setLogLevel("ERROR")
        val sessionMs = rec.nowMs - t0
        // set-up goes through its own recorder: warm-up gates still
        // abort, but nothing it times is a measurement of the window
        val srec = new Recorder(false)
        w.setup(spark, s"${a.work}/setup$k", srec)
        setupS.add((rec.nowMs - t0) / 1000.0)
        setupCounters.add(Counters.delta(c0, Counters.snapshot()).asJava)
        setupPhases.add((srec.allSamples.map { case (n, v) => n -> v.sum } +
          ("session_ms" -> sessionMs)).asJava)
      }
      out.put("setup_s", setupS)
      out.put("setup_counters", setupCounters)
      out.put("setup_phases_ms", setupPhases)

      rec.bind(spark.sparkContext)
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      tracer.foreach(_.start())
      val c0 = Counters.snapshot()
      val start = rec.nowMs
      val end = w.run(spark, rec, start + a.seconds * 1000.0)
      tracer.foreach(_.stop())
      out.put("counters", Counters.delta(c0, Counters.snapshot()).asJava)
      out.put("heap_used_mb_end", Counters.heapUsedMb)
      out.put("window_ms", Seq(start, end).asJava)
      if (rec.aborted) throw rec.abort.get
      // the clock has stopped: final-state gates and space accounting
      val f0 = rec.nowMs
      out.put("values", Json.javaOf(w.finish(spark, rec)))
      out.put("finish_ms", rec.nowMs - f0)
      tracer.foreach { t =>
        out.put("spans", (rec.spans.asScala ++ t.jobSpans.asScala)
          .map(_.toSeq.asJava).toSeq.asJava)
        out.put("spark_totals", t.totals.toMap.asJava)
        out.put("queries", t.queries.asScala.map(_.asJava).toSeq.asJava)
        out.put("stream_progress", t.progress.asScala.map(_.asJava).toSeq.asJava)
      }
    } catch {
      case g: GateFailed =>
        System.err.println(s"[opusbench] ${g.getMessage}")
        out.put("gate", Map("check" -> g.check, "detail" -> g.getMessage).asJava)
        code = 3
      case NonFatal(e) =>
        e.printStackTrace()
        out.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        code = 4
    } finally {
      out.put("attempted", rec.attempted.get)
      out.put("failed", rec.failed.get)
      out.put("errors", rec.errors.asScala.toSeq.asJava)
      out.put("samples", rec.allSamples.map { case (k, v) => k -> v.asJava }.asJava)
      Json.write(new File(s"${a.work}/raw.json"), out)
      if (spark != null) spark.stop()
    }
    code
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def write(f: File, v: Any): Unit = mapper.writeValue(f, v)

  /** Scala collections to the Java ones Jackson serialises natively. */
  def javaOf(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> javaOf(x) }.asJava
    case s: Iterable[_] => s.map(javaOf).toSeq.asJava
    case o: Option[_] => o.map(javaOf).orNull
    case x => x
  }
}

/** Runs each named workload once, briefly, in one JVM. The build runs it
  * under `-XX:ArchiveClassesAtExit` to make the class-data sharing
  * archive every later run maps: `Train <dir> <cpus> <workload>...`,
  * with each workload's inputs under `<dir>/<workload>/input`.
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val dir +: cpus +: workloads = argv.toSeq
    for (w <- workloads)
      Main.run(Args(w, seed = 0L, seconds = 1.0, trace = false, work = s"$dir/$w",
        cpus = cpus.toInt))
    System.exit(0)
  }
}
