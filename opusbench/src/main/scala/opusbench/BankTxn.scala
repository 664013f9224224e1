package opusbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.MergeSink

/** The dual of opusdb's bank benchmark: writer clients (one per
  * `writer<N>.csv` input) commit transfers atomically into a debit and
  * a credit table (graft-merge, keyed by transfer id) through
  * `withCommitRetry { commitTransaction }`; a reader looks transfers up
  * by id and audits both tables at one consistent cut.
  */
final class BankTxn(a: Args) extends Workload {
  import BankTxn._

  private def lines(name: String): Seq[Array[String]] = {
    val src = Source.fromFile(s"${a.input}/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split(',')).toVector
    finally src.close()
  }
  private def transfers(name: String): Seq[Transfer] =
    lines(name).map(f => Transfer(f(0).toLong, f(1).toLong, f(2).toLong, f(3).toLong))

  private val warm = transfers("warm.csv").head
  private val plans = new java.io.File(a.input).list()
    .filter(_.matches("writer\\d+\\.csv")).sorted.toSeq.map(transfers)
  private val reads = lines("reader.csv").map(f => (f(0), f(1).toDouble))
  private val absent = lines("absent.csv").map(_(0).toLong)
  private val byTid = (warm +: plans.flatten).map(t => t.tid -> t).toMap

  private var debit, credit, txnLog: String = _
  private val acked = ArrayBuffer.empty[Long]
  private val tried = ConcurrentHashMap.newKeySet[Long]()

  def setup(spark: SparkSession, dir: String, rec: Recorder): Unit = {
    debit = s"$dir/debit"
    credit = s"$dir/credit"
    txnLog = s"$dir/txnlog"
    acked.synchronized(acked.clear())
    tried.clear()
    // the events ledger: every event is a settled transfer from its
    // user to a counter-party, one row in each table
    val t0 = rec.nowMs
    val ev = spark.read.parquet(s"${a.input}/events.parquet")
    val cents = round(col("value") * 100).cast("long")
    // the two tables load concurrently
    val loads = Seq(
      debit -> ev.select(col("event_id").as("tid"), col("user_id").as("account"),
        (-cents).as("amount"), lit(0L).as("seq")),
      credit -> ev.select(col("event_id").as("tid"),
        ((col("user_id") + col("event_id") % 1499 + 1) % 1500).as("account"),
        cents.as("amount"), lit(0L).as("seq"))
    ).map { case (dir, rows) =>
      Future(MergeSink.upsertBatch(rows, dir, "tid", "seq", 0L, "preload"))(ExecutionContext.global)
    }
    loads.foreach(Await.result(_, Duration.Inf))
    // keep every version of the run readable for the audit's cut
    Seq(debit, credit).foreach(MergeSink.setHistoryKeepMs(spark, _, KeepMs))
    rec.sample("preload_ms", rec.nowMs - t0)
    transfer(spark, rec, warm)
    lookup(spark, rec, warm.tid)
    audit(spark, rec)
  }

  private def row(spark: SparkSession, tid: Long, account: Long, amount: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(tid, account, amount, 1L)), Schema)

  private def transfer(spark: SparkSession, rec: Recorder, t: Transfer): Unit =
    rec.op("txn") {
      tried.add(t.tid)
      val writes = Seq(
        MergeSink.TxnWrite(debit, "tid", "seq", row(spark, t.tid, t.from, -t.cents)),
        MergeSink.TxnWrite(credit, "tid", "seq", row(spark, t.tid, t.to, t.cents)))
      val t0 = rec.nowMs
      var attempts = 0
      var inAttempts = 0.0
      MergeSink.withCommitRetry() {
        attempts += 1
        val s = rec.nowMs
        try rec.span("mergesink.commitTransaction") {
          MergeSink.commitTransaction(spark, txnLog, writes)
        } finally {
          rec.sample("txn_attempt_ms", rec.nowMs - s)
          inAttempts += rec.nowMs - s
        }
      }
      rec.sample("txn_attempts", attempts)
      rec.sample("retry_wait_ms", rec.nowMs - t0 - inAttempts)
      acked.synchronized(acked += t.tid)
    }

  private def lookup(spark: SparkSession, rec: Recorder, tid: Long): Unit =
    rec.op("lookup") {
      val t = byTid(tid)
      for ((dir, amount) <- Seq(debit -> -t.cents, credit -> t.cents)) {
        if (rec.trace) {
          val s = rec.nowMs
          val files = rec.span("mergesink.lookupFiles")(
            MergeSink.lookupFiles(spark, dir, Seq(tid)))
          rec.sample("lookup_files_ms", rec.nowMs - s)
          rec.sample("files_per_lookup", files.size)
        }
        val s = rec.nowMs
        val rows = rec.span("mergesink.pointLookup") {
          MergeSink.pointLookup(spark, dir, "tid", Seq(tid))
            .map(_.collect()).getOrElse(Array.empty[Row])
        }
        rec.sample("point_lookup_ms", rec.nowMs - s)
        rec.gate(s"${a.workload}.acknowledged_visible_once")(
          rows.length == 1 && rows(0).getAs[Long]("amount") == amount,
          s"transfer $tid in $dir: ${rows.mkString(" ")}")
      }
    }

  private def at(spark: SparkSession, dir: String, v: Long): DataFrame =
    spark.read.format("graft-merge").option("path", dir).option("key", "tid")
      .option("seq", "seq").option("versionAsOf", v.toString).load()

  private def audit(spark: SparkSession, rec: Recorder): Unit =
    rec.op("audit") {
      val s = rec.nowMs
      val cut = rec.span("mergesink.consistentSnapshot") {
        MergeSink.consistentSnapshot(spark, Seq(debit, credit), System.currentTimeMillis())
      }
      rec.sample("snapshot_cut_ms", rec.nowMs - s)
      rec.gate(s"${a.workload}.audit_cut_resolves")(
        cut.values.forall(_.isDefined), s"cut $cut")
      val sides = rec.span("dsv2.audit") {
        at(spark, debit, cut(debit).get).select(lit(0).as("side"), col("amount"))
          .unionByName(at(spark, credit, cut(credit).get)
            .select(lit(1).as("side"), col("amount")))
          .groupBy("side").agg(sum("amount"), count(lit(1)))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
      rec.gate(s"${a.workload}.audit_sums_to_zero")(
        sides.size == 2 && sides(0)._1 + sides(1)._1 == 0L && sides(0)._2 == sides(1)._2,
        s"cut $cut: debit (sum, rows) ${sides.get(0)}, credit ${sides.get(1)}")
    }

  def run(spark: SparkSession, rec: Recorder, deadlineMs: Double): Double = {
    def live = rec.nowMs < deadlineMs && !rec.aborted
    val clients = plans.zipWithIndex.map { case (plan, w) =>
      Client.start(s"writer$w") {
        val it = plan.iterator
        while (live && it.hasNext) transfer(spark, rec, it.next())
        if (live) rec.errors.add(s"writer$w exhausted its plan of ${plan.size}")
      }
    }
    val reader = Client.start("reader") {
      var i = 0
      while (live) {
        val (kind, u) = reads(i % reads.size)
        if (kind == "audit") audit(spark, rec)
        else {
          val tid = acked.synchronized(acked((u * acked.size).toInt))
          lookup(spark, rec, tid)
        }
        i += 1
      }
    }
    (clients :+ reader).foreach(_.join())
    rec.nowMs
  }

  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    val ack = acked.synchronized(acked.toSet)
    for (dir <- Seq(debit, credit)) {
      val st = MergeSink.currentState(spark, dir).get
      val dups = st.groupBy("tid").count().filter(col("count") > 1).limit(5).collect()
      rec.gate(s"${a.workload}.no_duplicate_transfers")(dups.isEmpty,
        s"$dir: ${dups.mkString(" ")}")
      val seen = st.filter(col("tid") >= TransferBase).select("tid").collect()
        .map(_.getLong(0)).toSet
      rec.gate(s"${a.workload}.every_acknowledged_visible")((ack -- seen).isEmpty,
        s"$dir misses ${(ack -- seen).take(5)}")
      rec.gate(s"${a.workload}.nothing_untried_visible")(
        seen.forall(tried.contains), s"$dir shows ${seen.filterNot(tried.contains).take(5)}")
      val ghosts = MergeSink.pointLookup(spark, dir, "tid", absent)
        .map(_.count()).getOrElse(0L)
      rec.gate(s"${a.workload}.unassigned_ids_absent")(ghosts == 0L,
        s"$dir: $ghosts rows for ids no writer was given")
    }
    val total = Seq(debit, credit).map(d =>
      MergeSink.currentState(spark, d).get.agg(sum("amount")).head().getLong(0)).sum
    rec.gate(s"${a.workload}.final_sum_zero")(total == 0L, s"debits + credits = $total")
    Space.measure(spark, Seq(debit, credit), s"${a.work}/space")
  }
}

object BankTxn {
  final case class Transfer(tid: Long, from: Long, to: Long, cents: Long)
  /** The run's transfer ids start here, above every ledger event id. */
  val TransferBase = 1000000000L
  val KeepMs = 600000L
  val Schema: StructType = StructType(Seq(
    StructField("tid", LongType, nullable = false),
    StructField("account", LongType),
    StructField("amount", LongType),
    StructField("seq", LongType)))
}

/** Untimed accounting of what the tables cost on disk. */
object Space {
  /** Bytes under `paths` over the bytes of `rows` of each rewritten
    * once as parquet.
    */
  private def amp(paths: Seq[String], rows: Seq[DataFrame], scratch: String): Map[String, Any] = {
    val onDisk = paths.map(Main.bytesUnder).sum
    val rewritten = rows.zipWithIndex.map { case (df, i) =>
      val out = s"$scratch/t$i"
      df.write.mode("overwrite").parquet(out)
      val b = Main.bytesUnder(out)
      Main.deleteTree(out)
      b
    }.sum
    Map(
      "space_bytes_on_disk" -> onDisk,
      "space_bytes_rewritten" -> rewritten,
      "space_amp" -> onDisk.toDouble / rewritten)
  }

  /** Read-only parquet inputs: their bytes over Spark's rewrite of them. */
  def measureFiles(spark: SparkSession, files: Seq[String], scratch: String): Map[String, Any] =
    amp(files, files.map(spark.read.parquet(_)), scratch)

  def measure(spark: SparkSession, dirs: Seq[String], scratch: String): Map[String, Any] = {
    val files = dirs.map(d => MergeSink.currentFiles(spark, d).values.flatten.toSeq)
    amp(dirs, dirs.map(MergeSink.currentState(spark, _).get), scratch) ++ Map(
      "live_files" -> files.map(_.size).sum,
      "live_bytes" -> files.flatten.map(f => Main.bytesUnder(new java.net.URI(f).getPath)).sum,
      "versions" -> dirs.map(d => MergeSink.commits(spark, d).size).sum)
  }
}

object Client {
  /** A client thread; a failed gate inside it is already recorded. */
  def start(name: String)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try body catch { case _: GateFailed => () }, s"opusbench-$name")
    t.start()
    t
  }
}
