package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val startLoadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: JIT, codegen compilation, parquet footer reads. Without it
    // the first timed query absorbs several seconds of one-time JVM cost.
    try {
      ops.Relational.bankConservation(spark, sfDir).count()
      ops.Temporal.walReplay(spark, sfDir).count()
      ops.Embeddings.embedStats(spark, sfDir).count()
      // streaming machinery warmup (micro-batch engine, state store,
      // sink registration): without it the FIRST timed streaming query
      // absorbs the one-time init cost — now that streaming queries are
      // timed once, that cost must not land on whichever runs first
      streaming.Streams.streamTumblingGated(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // Two timed runs per query, report the min — steady-state timing in
    // the spirit of the reference's Criterium sampling (warmed JIT,
    // compiled codegen), not a cold-start artifact.
    // A crashed query must be FLAGGED, not reported as its time-to-failure
    // (which could read as a speedup): failures surface as -1.
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] query failed: ${e.getMessage}")
        -1.0
      }
    }
    // Between-queries cleanup, OUTSIDE any timed section: across ~190
    // queries in ONE JVM, gated stream queries leave their memory-sink
    // tables registered (rows held on-heap) and checkpointed frames leave
    // blocks for the ContextCleaner — accumulated pressure inflates LATE
    // queries up to 8x vs the same query run alone (measured). A real
    // deployment runs each query as its own job; the cleanup restores
    // that boundary without touching what's timed.
    def cleanup(): Unit = {
      try {
        spark.catalog.listTables().collect().foreach { t =>
          if (t.name.startsWith("graft_stream_"))
            spark.catalog.dropTempView(t.name)
        }
      } catch { case _: Throwable => () }
      System.gc()
    }
    val selected = SparkEntry.selectedQueries
    val results = selected.map { case (name, fn) =>
      // Gated streaming queries run a full AvailableNow query to
      // completion — checkpoint + state-store machinery dominates and
      // has no JIT/codegen warmup effect worth a second sample, so they
      // are timed ONCE. Batch queries keep best-of-2 (steady-state).
      val r =
        if (name.startsWith("q_stream_")) name -> timeOnce(fn)
        else {
          val a = timeOnce(fn)
          val b = if (a < 0) a else timeOnce(fn)
          name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
        }
      cleanup()
      r
    }
    // Fixture echo: one line that makes a unit/fixture drift (round 8's
    // silent TIMESTAMP(NANOS)→MICROS regeneration) diagnosable from the
    // bench tail alone — the resolved dir and the DECODED event-time range.
    try {
      import org.apache.spark.sql.functions.{col, max, min}
      val r = Tables.events(spark, sfDir)
        .agg(min(col("ts")), max(col("ts"))).head()
      println(s"""{"metric":"fixture","sf":"$sfDir","events_ts_min":"${r.get(0)}","events_ts_max":"${r.get(1)}","ts_unit":"${Tables.eventsTsUnit(spark, sfDir)}"}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fixture echo failed: ${e.getMessage}")
    }
    // ms precision: the full per-query line must stay well inside the
    // driver's bounded tail capture (~6 KB at 9-decimal seconds blew it in
    // round 8 and `parsed` has been null every round)
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}"""
    // Run-condition stamp: bench numbers swing up to ±4x under
    // concurrent load (another sbt on the box), and round 10's committed
    // artifact silently captured a load-skewed run. The 1-minute load
    // average at start/end makes a contaminated artifact self-identifying
    // (quiet box ≈ the JVM's own cores; skewed run ≫).
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // the N of local[N]: the parallelism the run had, which can be far
    // below the box's core count
    val localN =
      if (cpus == "*") Runtime.getRuntime.availableProcessors() else cpus.toInt
    val cond =
      s""""run_conditions":{"load_avg_end":${fmt(math.max(loadAvg, 0.0))},""" +
        s""""load_avg_start":${fmt(math.max(startLoadAvg, 0.0))},""" +
        s""""cpus":$localN}"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",$cond}"""
    // The per-query line is too long for a bounded stdout-tail capture,
    // so it goes to a file only. The default name carries the checkout's
    // short commit, so two commits' artifacts sit side by side for
    // `tools/ab.py --bench`; a tree with uncommitted or untracked files
    // adds `-dirty`, so its run never takes the clean commit's name.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      import scala.sys.process._
      def git(args: String*): String = ("git" +: args).!!(ProcessLogger(_ => ())).trim
      val sha =
        try {
          val dirty = if (git("status", "--porcelain").nonEmpty) "-dirty" else ""
          "-" + git("rev-parse", "--short=12", "HEAD") + dirty
        } catch { case _: Exception => "" }
      s"target/bench_full$sha.json"
    })
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
      println(s"""{"metric":"bench_file","path":"$p","n_queries":${results.size}}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] write $outPath failed: ${e.getMessage}")
    }
    // the short summary stays the LAST stdout line
    println(summary)
    spark.stop()
  }
}
