package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.GraftMergeScan
import graft.streaming.MergeSink

/** The `graft-merge` DataSourceV2 connector: pushdown-driven bucket
  * pruning on the batch path, commit-log replay on the streaming path,
  * schema reconciliation and tombstone semantics on both.
  */
class Dsv2Spec extends SparkSpec {

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("dsv2_spec_tbl").toString

  private def seedTwoCommits(table: String): Unit = {
    val e = Tables
      .events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id"))).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "ds")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "ds")
  }

  test("batch read equals currentState (snapshot semantics)") {
    val table = freshTable()
    seedTwoCommits(table)
    val viaSource = spark.read
      .format("graft-merge").option("path", table).load()
    val viaLib = MergeSink.currentState(spark, table).get
    assert(viaSource.schema.fieldNames.sorted.sameElements(
      viaLib.schema.fieldNames.sorted))
    val a = viaSource.select("user_id", "event_id").orderBy("user_id").collect()
    val b = viaLib.select("user_id", "event_id").orderBy("user_id").collect()
    assert(a.sameElements(b))
  }

  test("key predicate pushes down and prunes bucket files") {
    val table = freshTable()
    seedTwoCommits(table)
    val keys = Seq(1L, 3L)
    val df = spark.read
      .format("graft-merge")
      .option("path", table)
      .option("key", "user_id")
      .load()
      .filter(col("user_id").isin(keys: _*))
    val scan = df.queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r.scan }
      .get.asInstanceOf[GraftMergeScan]
    val (planned, total) = scan.fileCounts
    assert(planned > 0, "pruned scan planned no files")
    assert(planned < total,
      s"no pruning: planned $planned of $total bucket files")
    assert(scan.description().contains("pushed=[In(user_id"),
      s"pushed filter missing from scan description: ${scan.description()}")
    // pruning must not lose rows: same answer as the unpruned read
    val expected = spark.read.format("graft-merge").option("path", table).load()
      .filter(col("user_id").isin(keys: _*))
      .orderBy("user_id").collect()
    assert(df.orderBy("user_id").collect().sameElements(expected))
    // planning outcomes surface as driver-reported custom metrics
    val metrics = scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    assert(metrics("snapshotDataFiles") == total.toLong &&
      metrics("prunedDataFiles") == (total - planned).toLong &&
      metrics("plannedBytes") > 0L, metrics.toString)
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ==
      metrics.keySet)
    // the SQL UI re-instantiates each metric BY CLASS NAME through a
    // zero-arg constructor to aggregate task values — a metric class
    // that can't do that silently never aggregates (only a logged error)
    scan.supportedCustomMetrics().foreach { m =>
      val fresh = m.getClass.getDeclaredConstructor().newInstance()
      assert(fresh.name() == m.name(), s"${m.getClass} not UI-recoverable")
    }
  }

  test("column pruning reaches the parquet projection") {
    val table = freshTable()
    seedTwoCommits(table)
    val df = spark.read.format("graft-merge").option("path", table).load()
      .select("user_id")
    val scan = df.queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r.scan }
      .get
    assert(scan.readSchema().fieldNames.sameElements(Array("user_id")),
      s"projection not pruned: ${scan.readSchema()}")
  }

  test("streaming replay emits every committed version's written buckets") {
    val table = freshTable()
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id"))).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1)
        .select(col("user_id"), col("event_id"), col("value"),
          lit(false).as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 0L, "dsr")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .select(col("user_id"), col("event_id"), col("value"),
          (col("event_type") === "error").as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 1L, "dsr")
    val name = "dsv2_spec_replay"
    val q = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val log = spark.table(name)
    // every committed version appears, tombstones are RETAINED in replay
    val versions = log.select("_version").distinct()
      .collect().map(_.getLong(0)).sorted
    val committed = MergeSink.commits(spark, table).map(_.version).sorted
    assert(versions.sameElements(committed),
      s"replayed $versions vs committed $committed")
    assert(log.filter(col(MergeSink.DeletedCol)).count() > 0,
      "replay hid tombstones — the log must carry them")
    // v1's rows are exactly the touched buckets' post-merge content
    val v1 = committed.max
    val v1Rows = log.filter(col("_version") === v1)
    val touched = v1Rows.select("_bucket").distinct().count()
    assert(touched > 0 && touched <= MergeSink.DefaultBuckets)
    spark.catalog.dropTempView(name)
  }

  test("startingVersion bounds CDC replay: numeric entry point and latest") {
    val table = freshTable()
    val s2 = spark
    import s2.implicits._
    (0 to 2).foreach { i =>
      MergeSink.upsertBatch(
        Seq((i.toLong, 10L + i, false)).toDF("k", "seq", MergeSink.DeletedCol),
        table, "k", "seq", i.toLong, "sv")
    }
    // numeric: replay begins AT the named version — earlier retained
    // history is skipped, later commits still arrive
    val name = "dsv2_spec_startver"
    val q = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .option("startingVersion", "2")
      .load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val versions = spark.table(name).select("_version").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(versions.sameElements(Array(2L)), s"replayed ${versions.toSeq}")
    spark.catalog.dropTempView(name)
    // latest: the subscription starts AT the current head — nothing
    // already committed replays (new-commits-only semantics)
    val name2 = name + "_latest"
    val q2 = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .option("startingVersion", "latest")
      .load()
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table(name2).isEmpty, "latest replayed retained history")
    spark.catalog.dropTempView(name2)
  }

  test("schema reconciliation: pre-CDC files read __deleted as null") {
    val table = freshTable()
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id"))).head().getLong(0) / 2
    // commit 0 WITHOUT the tombstone column, commit 1 with it
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "dm")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .withColumn(MergeSink.DeletedCol, lit(false)),
      table, "user_id", "event_id", 1L, "dm")
    val name = "dsv2_spec_mixed"
    val q = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val log = spark.table(name)
    // v0 files lack __deleted: the reader must surface NULL, not fail
    assert(log.filter(col("_version") === 0 && col(MergeSink.DeletedCol).isNull)
      .count() > 0, "absent column did not read as null")
    spark.catalog.dropTempView(name)
  }

  test("batch read hides tombstoned keys") {
    val table = freshTable()
    val s2 = spark
    import s2.implicits._
    MergeSink.upsertBatch(
      Seq((1L, 10L, false), (2L, 11L, false)).toDF("k", "seq", MergeSink.DeletedCol),
      table, "k", "seq", 0L, "dt")
    MergeSink.upsertBatch(
      Seq((2L, 20L, true)).toDF("k", "seq", MergeSink.DeletedCol),
      table, "k", "seq", 1L, "dt")
    val rows = spark.read.format("graft-merge").option("path", table).load()
      .select("k").collect().map(_.getLong(0)).sorted
    assert(rows.sameElements(Array(1L)), s"tombstone visible: ${rows.toSeq}")
  }

  test("runtime filtering: a selective dim join prunes buckets with no predicate") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    seedTwoCommits(table)
    val fact = spark.read.format("graft-merge")
      .option("path", table).option("key", "user_id").load()
    // selective dim: 2 keys survive its filter; the fact side has NO
    // predicate on user_id — pruning must come from the join at runtime
    // (the DSv2 dual of dynamic partition pruning). The dim must be a
    // SCAN (a LocalRelation folds the filter away and DPP sees no
    // selective predicate to derive the runtime filter from).
    val dimPath = java.nio.file.Files
      .createTempDirectory("dsv2_dim").toString
    Seq((1L, "a"), (3L, "b"), (1000001L, "x"), (1000002L, "y"))
      .toDF("user_id", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("tag").isin("a", "b"))
    GraftMergeScan.lastPrune.set(null)
    val joined = fact.join(dim, Seq("user_id")).select("user_id", "event_id", "tag")
    val rows = joined.collect()
    assert(rows.nonEmpty)
    val prune = GraftMergeScan.lastPrune.get()
    assert(prune != null, "scan never planned")
    val (planned, total, runtime) = prune
    assert(runtime, "runtime filter was never delivered to the scan")
    assert(planned < total,
      s"runtime join keys did not prune: planned $planned of $total files")
    // correctness: pruning must not lose rows vs the unfiltered join
    val expected = MergeSink.currentState(spark, table).get
      .join(dim, Seq("user_id")).select("user_id", "event_id", "tag")
      .orderBy("user_id").collect()
    assert(joined.orderBy("user_id").collect().sameElements(expected))
  }

  test("versionAsOf reads the historical snapshot; collected versions fail loudly") {
    val table = freshTable()
    seedTwoCommits(table)
    val versions = MergeSink.commits(spark, table).map(_.version)
    val v0 = versions.min
    val viaSource = spark.read.format("graft-merge")
      .option("path", table).option("versionAsOf", v0.toString).load()
      .select("user_id", "event_id").orderBy("user_id").collect()
    val viaLib = MergeSink.stateAt(spark, table, v0).get
      .select("user_id", "event_id").orderBy("user_id").collect()
    assert(viaSource.sameElements(viaLib),
      "versionAsOf read diverged from stateAt")
    // a never-committed version must error, not read partial state
    val err = intercept[Exception] {
      spark.read.format("graft-merge")
        .option("path", table).option("versionAsOf", "99").load().count()
    }
    assert(err.getMessage.contains("versionAsOf"), err.getMessage)
  }

  test("scan reports real file sizes: a small merge table broadcasts unhinted") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    seedTwoCommits(table)
    val fact = spark.read.format("graft-merge").option("path", table).load()
    val other = spark.range(100000)
      .select(col("id").as("user_id"), (col("id") * 2).as("payload"))
    val plan = other.join(fact, Seq("user_id"))
      .queryExecution.executedPlan.toString
    // without SupportsReportStatistics a V2 relation reports the huge
    // default size and can never be chosen as the broadcast side
    assert(plan.contains("BroadcastHashJoin"),
      s"stats-known small merge table did not broadcast:\n$plan")
  }

  test("writer API commits equal library commits; options are enforced") {
    val s2 = spark
    import s2.implicits._
    val viaApi = freshTable()
    val viaLib = freshTable()
    val batch1 = Seq((1L, 10L, 1.5), (2L, 11L, 2.5)).toDF("k", "seq", "v")
    val batch2 = Seq((2L, 20L, 9.5), (3L, 21L, 3.5)).toDF("k", "seq", "v")
    Seq(batch1, batch2).foreach { b =>
      b.write.format("graft-merge").mode("append")
        .option("path", viaApi).option("key", "k").option("seq", "seq")
        .save()
    }
    MergeSink.upsertBatch(batch1, viaLib, "k", "seq", 0L, "lib")
    MergeSink.upsertBatch(batch2, viaLib, "k", "seq", 1L, "lib")
    val a = MergeSink.currentState(spark, viaApi).get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = MergeSink.currentState(spark, viaLib).get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.sameElements(b), s"${a.toSeq} vs ${b.toSeq}")
    // merge semantics need a key and a seq — a write without them is an error
    val err = intercept[Exception] {
      batch1.write.format("graft-merge").mode("append")
        .option("path", freshTable()).save()
    }
    assert(err.getMessage.contains("key"), err.getMessage)
  }

  test("aborted write leaves the table bit-identical and no staging") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    Seq((1L, 10L, 1.5)).toDF("k", "seq", "v")
      .write.format("graft-merge").mode("append")
      .option("path", table).option("key", "k").option("seq", "seq").save()
    val before = MergeSink.commits(spark, table)
    val poison = udf((x: Long) => {
      if (x == 2L) throw new RuntimeException("poison"); x
    })
    intercept[Exception] {
      Seq((2L, 20L, 2.5)).toDF("k", "seq", "v")
        .select(poison(col("k")).as("k"), col("seq"), col("v"))
        .write.format("graft-merge").mode("append")
        .option("path", table).option("key", "k").option("seq", "seq").save()
    }
    assert(MergeSink.commits(spark, table) == before,
      "aborted write advanced the commit log")
    val staged = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("_staging_"))
    assert(staged.isEmpty, s"staging left behind: ${staged.toSeq}")
  }

  test("streaming write survives restart: stable runId, merged state, no replays") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val src = java.nio.file.Files.createTempDirectory("dsv2_swr_src").toString
    val table = freshTable()
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2_swr_ck").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("seq", LongType),
      StructField("v", DoubleType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("graft-merge")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", table).option("key", "k").option("seq", "seq")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq((1L, 10L, 1.0), (2L, 11L, 2.0)).toDF("k", "seq", "v")
      .repartition(1).write.mode("append").parquet(src)
    runOnce()
    val afterFirst = MergeSink.commits(spark, table)
    assert(afterFirst.nonEmpty)
    // restart from the SAME checkpoint with new data: the second
    // incarnation must keep the stable runId (no fencing, no replay)
    // and merge only the new file
    Seq((2L, 20L, 9.0), (3L, 21L, 3.0)).toDF("k", "seq", "v")
      .repartition(1).write.mode("append").parquet(src)
    runOnce()
    val afterSecond = MergeSink.commits(spark, table)
    assert(afterSecond.size == afterFirst.size + 1,
      s"expected exactly one new commit: $afterFirst -> $afterSecond")
    assert(afterSecond.map(_.runId).distinct.size == 1,
      s"runId not stable across restarts: ${afterSecond.map(_.runId)}")
    val state = MergeSink.currentState(spark, table).get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(state.sameElements(Array((1L, 10L, 1.0), (2L, 20L, 9.0), (3L, 21L, 3.0))),
      state.toSeq.toString)
    // a third restart with NO new data must commit nothing
    runOnce()
    assert(MergeSink.commits(spark, table) == afterSecond,
      "empty restart advanced the commit log")
  }

  test("q_dsv2_changes lane equals the library change feed") {
    val changes = streaming.Streams.dsv2ChangesGated(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val viaLib = streaming.Streams.mergeChangesGated(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(changes.sameElements(viaLib),
      s"replay-derived feed ${changes.toSeq} != snapshot diff ${viaLib.toSeq}")
  }

  test("CDC replay of GC'd history fails loudly, never silently skips") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    // three commits: GC retires v0's marker + manifest (retention keeps
    // current + previous), so a replay from scratch reaches below the
    // earliest retained version
    (0 to 2).foreach { i =>
      MergeSink.upsertBatch(
        Seq((i.toLong, 10L + i, 1.0)).toDF("k", "seq", "v"),
        table, "k", "seq", i.toLong, "gc")
    }
    assert(MergeSink.commits(spark, table).map(_.version).min == 1L,
      "precondition: v0 should be GC'd")
    val stream = new graft.sources.GraftMergeMicroBatchStream(
      spark, table,
      new org.apache.spark.sql.types.StructType().add("k", "long"))
    val err = intercept[IllegalStateException] {
      stream.planInputPartitions(
        graft.sources.MergeOffset(-1L), graft.sources.MergeOffset(2L))
    }
    assert(err.getMessage.contains("retention"), err.getMessage)
    // a caught-up reader (start at the earliest retained - 1) replays fine
    val ok = stream.planInputPartitions(
      graft.sources.MergeOffset(0L), graft.sources.MergeOffset(2L))
    assert(ok.nonEmpty)
  }

  test("annotated INT32/INT64 bucket columns fail instead of misdecoding") {
    val s2 = spark
    import s2.implicits._
    val dir = freshTable()
    // decimal(9,2) -> INT32-annotated, decimal(15,2) -> INT64-annotated:
    // each would silently surface unscaled physical integers if mapped
    // by physical type alone. DATE-annotated INT32 is a SUPPORTED type
    // (partition columns) and must decode as DateType, not fail.
    spark.sql(
      """select cast(1.23 as decimal(9,2)) d32,
        |       cast(4.56 as decimal(15,2)) d64,
        |       date'2026-01-01' dt""".stripMargin)
      .write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val footer = graft.sources.MergeTableUtil.footerOf(
      spark.sessionState.newHadoopConf(), f.toString)
    footer.getFields.asScala.foreach { t =>
      val prim = t.asPrimitiveType()
      if (prim.getName == "dt")
        assert(graft.sources.MergeTableUtil.sparkFieldOf(prim).dataType ==
          org.apache.spark.sql.types.DateType)
      else {
        val err = intercept[IllegalArgumentException] {
          graft.sources.MergeTableUtil.sparkFieldOf(prim)
        }
        assert(err.getMessage.contains("logical type"), err.getMessage)
      }
    }
  }

  test("batch CDC read reports each bucket's manifest version, not -1") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    MergeSink.upsertBatch(
      Seq((1L, 10L, false), (2L, 11L, false)).toDF("k", "seq", MergeSink.DeletedCol),
      table, "k", "seq", 0L, "cv")
    MergeSink.upsertBatch(
      Seq((2L, 20L, false)).toDF("k", "seq", MergeSink.DeletedCol),
      table, "k", "seq", 1L, "cv")
    val byKey = spark.read.format("graft-merge")
      .option("path", table).option("cdc", "true").load()
      .select("k", "_version").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key 2's bucket was rewritten at v1; key 1's bucket (if different)
    // still carries v0 — either way no row may report the -1 placeholder
    assert(byKey.values.forall(_ >= 0L), s"placeholder _version: $byKey")
    assert(byKey(2L) == 1L, s"rewritten bucket must report v1: $byKey")
  }

  test("scan of a never-committed table with a user schema is empty, not an error") {
    val table = freshTable()
    val n = spark.read.format("graft-merge")
      .schema("k long, seq long")
      .option("path", table).option("key", "k")
      .load()
      .filter(col("k") === 1L)
      .count()
    assert(n == 0L)
  }

  test("batch scan is COLUMNAR: vectorized ColumnarBatch path end to end") {
    val table = freshTable()
    seedTwoCommits(table)
    val df = spark.read.format("graft-merge").option("path", table).load()
    val plan = df.queryExecution.executedPlan
    val scanExec = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scanExec.supportsColumnar,
      "graft-merge scan is not columnar — row-at-a-time reader regressed")
    assert(plan.toString.contains("ColumnarToRow"),
      s"no ColumnarToRow transition above the scan:\n$plan")
    // columnar result == library snapshot, including through the
    // tombstone copy path (a table where SOME batches carry tombstones)
    val s2 = spark
    import s2.implicits._
    val cdc = freshTable()
    val base = (1L to 500L).map(k => (k, 10L, false))
    MergeSink.upsertBatch(
      base.toDF("k", "seq", MergeSink.DeletedCol), cdc, "k", "seq", 0L, "vc")
    MergeSink.upsertBatch(
      (1L to 500L by 7).map(k => (k, 20L, true))
        .toDF("k", "seq", MergeSink.DeletedCol),
      cdc, "k", "seq", 1L, "vc")
    val viaSource = spark.read.format("graft-merge").option("path", cdc).load()
      .select("k").collect().map(_.getLong(0)).sorted
    val viaLib = MergeSink.currentState(spark, cdc).get
      .select("k").collect().map(_.getLong(0)).sorted
    assert(viaSource.sameElements(viaLib),
      s"columnar tombstone filter diverged: ${viaSource.length} vs ${viaLib.length}")
  }

  test("aggregate pushdown: count/min/max served from footers, zero data reads") {
    val table = freshTable()
    seedTwoCommits(table)
    val t = spark.read.format("graft-merge").option("path", table).load()
    val df = t.agg(
      count(lit(1)).as("n"),
      min(col("user_id")).as("mn"),
      max(col("user_id")).as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMergeAggScan FOOTER-SERVED"),
      s"aggregate did not push to the footer-served scan:\n$plan")
    assert(plan.contains("dataFilesRead=0"), plan)
    // values equal the real scan's answer
    val viaScan = MergeSink.currentState(spark, table).get
      .agg(count(lit(1)), min(col("user_id")), max(col("user_id"))).head()
    val got = df.head()
    assert(got == viaScan, s"$got vs $viaScan")

    // a surviving filter must FALL BACK to the real scan (footer counts
    // cannot see the predicate)
    val filtered = t.filter(col("user_id") > 5L).agg(count(lit(1)).as("n"))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("GraftMergeAggScan"),
      s"filtered aggregate wrongly pushed:\n$fplan")
    val expected = MergeSink.currentState(spark, table).get
      .filter(col("user_id") > 5L).count()
    assert(filtered.head().getLong(0) == expected)

    // a tombstone-retaining table must fall back too (footer row counts
    // include physically-retained tombstones)
    val s2 = spark
    import s2.implicits._
    val cdc = freshTable()
    MergeSink.upsertBatch(
      Seq((1L, 10L, false), (2L, 11L, true)).toDF("k", "seq", MergeSink.DeletedCol),
      cdc, "k", "seq", 0L, "af")
    val cdcAgg = spark.read.format("graft-merge").option("path", cdc).load()
      .agg(count(lit(1)).as("n"))
    assert(!cdcAgg.queryExecution.executedPlan.toString.contains("GraftMergeAggScan"),
      "tombstone-bearing table wrongly served counts from footers")
    assert(cdcAgg.head().getLong(0) == 1L)
  }

  test("pushed predicates skip parquet row groups inside a bucket file") {
    val s2 = spark
    import s2.implicits._
    // a SORTED multi-row-group file: tiny block size forces many row
    // groups, sorting gives each a tight disjoint min/max range
    val dir = java.nio.file.Files.createTempDirectory("dsv2_rg_tbl").toString
    spark.range(200000)
      .select(col("id").as("k"), col("id").as("seq"),
        md5(col("id").cast("string")).as("tag"))
      .repartition(1).sortWithinPartitions("seq")
      .write.option("parquet.block.size", "65536")
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("seq", "long").add("tag", "string")
    val split = graft.sources.MergeFileSplit(file, 0, 0L, 0L)
    val hconf = spark.sessionState.newHadoopConf()
    def rowsRead(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new graft.sources.MergeColumnarReader(
        hconf, split, schema, hideTombstones = true, pushedFilters = filters)
      try {
        var n = 0L
        while (r.next()) n += r.get().numRows()
        n
      } finally r.close()
    }
    val all = rowsRead(Array.empty)
    assert(all == 200000L, s"baseline read $all rows")
    val pruned = rowsRead(Array(
      org.apache.spark.sql.sources.GreaterThan("seq", 190000L)))
    // the reader returns whole surviving ROW GROUPS (Spark re-filters
    // rows post-scan): more than the matching rows, far less than all
    assert(pruned >= 10000L && pruned < all / 2,
      s"row groups not skipped: read $pruned of $all rows")
  }

  test("streaming write leaves no empty staging parents behind") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.types._
    val table = freshTable()
    val src = java.nio.file.Files.createTempDirectory("dsv2_stage_src").toString
    val ck = java.nio.file.Files.createTempDirectory("dsv2_stage_ck").toString
    Seq((1L, 10L, 1.0)).toDF("k", "seq", "v")
      .repartition(1).write.mode("append").parquet(src)
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("seq", LongType), StructField("v", DoubleType))))
      .parquet(src)
      .writeStream.format("graft-merge")
      .option("path", table).option("key", "k").option("seq", "seq")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val leftovers = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("_staging_"))
    assert(leftovers.isEmpty,
      s"empty staging parents accumulated: ${leftovers.toSeq}")
  }

  test("sorted compaction makes range predicates skip row groups on a real table") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    // small parquet blocks force many row groups per bucket file; the
    // salt makes bytes real (replicated rows dictionary-compress away)
    spark.conf.set("parquet.block.size", "65536")
    try {
      val rows = spark.range(120000)
        .select(col("id").as("k"), lit(1L).as("seq"),
          md5(col("id").cast("string")).as("tag"))
      MergeSink.upsertBatch(rows, table, "k", "seq", 0L, "sc")
      val pred = Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThan("k", 114000L))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("seq", "long").add("tag", "string")
      val hconf = spark.sessionState.newHadoopConf()
      def rowsRead(): Long =
        MergeSink.currentFiles(spark, table).values.flatten.map { f =>
          val r = new graft.sources.MergeColumnarReader(
            hconf, graft.sources.MergeFileSplit(f, 0, 0L, 0L),
            schema, hideTombstones = true, pushedFilters = pred)
          try {
            var n = 0L
            while (r.next()) n += r.get().numRows()
            n
          } finally r.close()
        }.sum
      // pre-compaction buckets are hash-ordered: every row group's key
      // range spans everything, nothing skips
      val before = rowsRead()
      val snap = MergeSink.currentState(spark, table).get
        .agg(count(lit(1)), sum(col("k")), bit_xor(xxhash64(col("k"), col("tag"))))
        .head()
      assert(MergeSink.compact(spark, table, "k", targetBuckets = 4) == 4)
      val after = rowsRead()
      assert(after < before / 2,
        s"sorted compaction did not enable row-group skipping: " +
          s"read $after rows (was $before)")
      // snapshot identical after compaction
      val snap2 = MergeSink.currentState(spark, table).get
        .agg(count(lit(1)), sum(col("k")), bit_xor(xxhash64(col("k"), col("tag"))))
        .head()
      assert(snap == snap2, s"$snap vs $snap2")
      // and the connector pushes the range conjunct end to end
      val df = spark.read.format("graft-merge")
        .option("path", table).option("key", "k").load()
        .filter(col("k") > 114000L)
      assert(df.count() == 5999L)
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("pushed=[GreaterThan(k"),
        s"range conjunct not recorded for row-group skipping:\n$scan")
    } finally spark.conf.unset("parquet.block.size")
  }

  test("bloom-indexed non-key equality skips row groups where stats cannot (unsorted high-cardinality column)") {
    val s2 = spark
    import s2.implicits._
    // tiny blocks -> many row groups; dictionary OFF so the only
    // possible skipping mechanism for a random column is the bloom
    // (min/max spans everything in unsorted data, and at production
    // cardinalities the dictionary fallback kicks in anyway)
    spark.conf.set("parquet.block.size", "65536")
    spark.conf.set("parquet.enable.dictionary", "false")
    try {
      val rows = spark.range(60000)
        .select(col("id").as("k"), lit(1L).as("seq"),
          xxhash64(col("id")).as("sid"),
          md5(col("id").cast("string")).as("tag"))
      def rowsRead(table: String, pred: Array[org.apache.spark.sql.sources.Filter]): Long = {
        val schema = new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("seq", "long")
          .add("sid", "long").add("tag", "string")
        val hconf = spark.sessionState.newHadoopConf()
        MergeSink.currentFiles(spark, table).values.flatten.map { f =>
          val r = new graft.sources.MergeColumnarReader(
            hconf, graft.sources.MergeFileSplit(f, 0, 0L, 0L),
            schema, hideTombstones = true, pushedFilters = pred)
          try {
            var n = 0L
            while (r.next()) n += r.get().numRows()
            n
          } finally r.close()
        }.sum
      }
      val target = rows.filter(col("k") === 31337L).head().getLong(2)
      val pred = Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("sid", target))

      // control: NO bloom index -> a random-column equality reads all
      val plain = freshTable()
      MergeSink.upsertBatch(rows, plain, "k", "seq", 0L, "bf")
      assert(rowsRead(plain, pred) == 60000L,
        "control broken: something other than blooms skipped row groups")

      val indexed = freshTable()
      MergeSink.setBloomIndex(spark, indexed, Seq("sid:8000"))
      MergeSink.upsertBatch(rows, indexed, "k", "seq", 0L, "bf")
      val read = rowsRead(indexed, pred)
      assert(read < 60000L / 8,
        s"bloom index did not skip row groups: read $read of 60000")

      // end to end through the connector: the pushed equality prunes
      // through the file blooms and the answer is exact
      val df = spark.read.format("graft-merge")
        .option("path", indexed).option("key", "k").load()
        .filter(col("sid") === target)
      assert(df.select("k").head().getLong(0) == 31337L)
      assert(df.queryExecution.executedPlan.toString.contains("pushed=[EqualTo(sid"))
    } finally {
      spark.conf.unset("parquet.block.size")
      spark.conf.unset("parquet.enable.dictionary")
    }
  }

  test("composite key: per-column equality conjuncts prune to tuple buckets") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    val rows = (0L until 150L).flatMap(a =>
      Seq((a, "x", 10L, a * 1.0), (a, "y", 10L, a * 2.0)))
      .toDF("acct", "leg", "seq", "v")
    MergeSink.upsertBatch(rows, table, "acct,leg", "seq", 0L, "ckd")
    GraftMergeScan.lastPrune.set(null)
    val df = spark.read.format("graft-merge")
      .option("path", table).option("key", "acct,leg").load()
      .filter(col("acct").isin(3L, 9L) && col("leg") === "y")
    val got = df.select("acct", "leg", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((3L, "y", 6.0), (9L, "y", 18.0)), got.toString)
    val prune = GraftMergeScan.lastPrune.get()
    assert(prune != null, "scan never planned")
    assert(prune._1 < prune._2,
      s"composite conjuncts did not prune: ${prune._1}/${prune._2} files")
    // a predicate on ONE key column alone cannot bound the bucket set
    // (the bucket hashes all of them) — must scan everything, not
    // mis-prune
    GraftMergeScan.lastPrune.set(null)
    val partial = spark.read.format("graft-merge")
      .option("path", table).option("key", "acct,leg").load()
      .filter(col("acct") === 3L)
    assert(partial.count() == 2L)
    val p2 = GraftMergeScan.lastPrune.get()
    assert(p2._1 == p2._2,
      s"partial-key predicate pruned unsoundly: ${p2._1}/${p2._2}")
  }

  test("runtime filtering on a composite key: full-tuple join prunes, partial join scans all") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    MergeSink.upsertBatch(
      spark.range(4000).select(
        (col("id") % 200).as("acct"),
        (col("id") % 7).as("leg"),
        lit(1L).as("seq"),
        col("id").cast("double").as("v")),
      table, "acct,leg", "seq", 0L, "rfc")
    val fact = spark.read.format("graft-merge")
      .option("path", table).option("key", "acct,leg").load()
    val dimPath = java.nio.file.Files
      .createTempDirectory("dsv2_dim_comp").toString
    Seq((3L, 1L, "a"), (9L, 2L, "b"), (500L, 0L, "x"))
      .toDF("acct", "leg", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag").isin("a", "b"))
    GraftMergeScan.lastPrune.set(null)
    val joined = fact.join(dim, Seq("acct", "leg")).select("acct", "leg", "v")
    val rows = joined.collect()
    val prune = GraftMergeScan.lastPrune.get()
    assert(prune != null, "scan never planned")
    val (planned, total, runtime) = prune
    assert(runtime, "runtime filters were never delivered to the scan")
    assert(planned < total,
      s"composite runtime tuples did not prune: $planned of $total files")
    // correctness vs the unpruned join
    val expected = fact.join(
      spark.read.parquet(dimPath).filter(col("tag").isin("a", "b")),
      Seq("acct", "leg")).select("acct", "leg", "v").collect()
    assert(rows.map(_.toString).sorted.sameElements(
      expected.map(_.toString).sorted))
    // a join on ONE of two key columns cannot bound the bucket set:
    // must scan everything, never mis-prune
    GraftMergeScan.lastPrune.set(null)
    val partial = fact.join(
      spark.read.parquet(dimPath).filter(col("tag") === "a")
        .select("acct"), Seq("acct"))
    assert(partial.count() == 7L) // acct 3 spans all 7 legs
    val p2 = GraftMergeScan.lastPrune.get()
    assert(p2._1 == p2._2,
      s"partial-key runtime filter pruned unsoundly: ${p2._1}/${p2._2}")
  }

  test("z-order compaction prunes row groups on BOTH clustering dimensions") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    spark.conf.set("parquet.block.size", "65536")
    try {
      // k-order == y-major: a key-sorted layout gives y narrow per-row-
      // group ranges but x cycles through its full domain in EVERY row
      // group — the 1-D layout's blind spot z-order exists to fix
      val rows = spark.range(160000).select(
        col("id").as("k"), lit(1L).as("seq"),
        (col("id") % 400).as("x"), expr("id DIV 400").as("y"),
        md5(col("id").cast("string")).as("tag"))
      MergeSink.upsertBatch(rows, table, "k", "seq", 0L, "zc")
      assert(MergeSink.compact(spark, table, "k", targetBuckets = 4) == 4)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("seq", "long")
        .add("x", "long").add("y", "long").add("tag", "string")
      val hconf = spark.sessionState.newHadoopConf()
      def rowsRead(pred: org.apache.spark.sql.sources.Filter): Long =
        MergeSink.currentFiles(spark, table).values.flatten.map { f =>
          val r = new graft.sources.MergeColumnarReader(
            hconf, graft.sources.MergeFileSplit(f, 0, 0L, 0L),
            schema, hideTombstones = true, pushedFilters = Array(pred))
          try {
            var n = 0L
            while (r.next()) n += r.get().numRows()
            n
          } finally r.close()
        }.sum
      val predX = org.apache.spark.sql.sources.GreaterThan("x", 379L) // 5%
      val predY = org.apache.spark.sql.sources.GreaterThan("y", 379L) // 5%
      val xKeySorted = rowsRead(predX)
      val yKeySorted = rowsRead(predY)
      assert(yKeySorted < 160000L / 2, s"key sort should prune y: $yKeySorted")
      assert(xKeySorted > 160000L / 2,
        s"x unexpectedly pruned under key sort: $xKeySorted — fixture broken")
      val snap = MergeSink.currentState(spark, table).get
        .agg(count(lit(1)), sum(col("k")),
          bit_xor(xxhash64(col("k"), col("x"), col("y"), col("tag")))).head()
      assert(MergeSink.compactZOrder(
        spark, table, "k", targetBuckets = 4, Seq("x", "y")) == 4)
      val xZ = rowsRead(predX)
      val yZ = rowsRead(predY)
      assert(xZ < xKeySorted / 2,
        s"z-order did not prune x: read $xZ rows (key-sorted read $xKeySorted)")
      assert(yZ < 160000L / 2, s"z-order lost y pruning entirely: $yZ")
      // content bit-identical after the rewrite
      val snap2 = MergeSink.currentState(spark, table).get
        .agg(count(lit(1)), sum(col("k")),
          bit_xor(xxhash64(col("k"), col("x"), col("y"), col("tag")))).head()
      assert(snap == snap2, s"$snap vs $snap2")
      // z-order is an IO layout, not a planner ordering: no O flag
      assert(MergeSink.manifestSortedBy(spark, table,
        MergeSink.lastCommit(spark, table).get.version).isEmpty)
    } finally spark.conf.unset("parquet.block.size")
  }

  test("3-D z-order prunes row groups on ALL THREE clustering dimensions") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    spark.conf.set("parquet.block.size", "65536")
    try {
      // id enumerates a 64x64x64 cube k-major: under key sort, w gets
      // narrow per-row-group ranges but x and y cycle their full
      // domains inside every row group
      val rows = spark.range(262144).select(
        col("id").as("k"), lit(1L).as("seq"),
        (col("id") % 64).as("x"),
        expr("(id DIV 64) % 64").as("y"),
        expr("id DIV 4096").as("w"),
        md5(col("id").cast("string")).as("tag"))
      MergeSink.upsertBatch(rows, table, "k", "seq", 0L, "z3")
      assert(MergeSink.compact(spark, table, "k", targetBuckets = 4) == 4)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("seq", "long")
        .add("x", "long").add("y", "long").add("w", "long")
        .add("tag", "string")
      val hconf = spark.sessionState.newHadoopConf()
      def rowsRead(pred: org.apache.spark.sql.sources.Filter): Long =
        MergeSink.currentFiles(spark, table).values.flatten.map { f =>
          val r = new graft.sources.MergeColumnarReader(
            hconf, graft.sources.MergeFileSplit(f, 0, 0L, 0L),
            schema, hideTombstones = true, pushedFilters = Array(pred))
          try {
            var n = 0L
            while (r.next()) n += r.get().numRows()
            n
          } finally r.close()
        }.sum
      // each predicate selects the top ~6% of one dimension
      val preds = Seq("x", "y", "w").map(c =>
        c -> org.apache.spark.sql.sources.GreaterThan(c, 59L))
      val keySorted = preds.map { case (c, p) => c -> rowsRead(p) }.toMap
      assert(keySorted("x") > 262144L / 2 && keySorted("y") > 262144L / 2,
        s"x/y unexpectedly pruned under key sort: $keySorted — fixture broken")
      val snap = MergeSink.currentState(spark, table).get
        .agg(count(lit(1)), sum(col("k")),
          bit_xor(xxhash64(col("k"), col("x"), col("y"), col("w")))).head()
      assert(MergeSink.compactZOrder(
        spark, table, "k", targetBuckets = 4, Seq("x", "y", "w")) == 4)
      val z = preds.map { case (c, p) => c -> rowsRead(p) }.toMap
      for (c <- Seq("x", "y", "w"))
        assert(z(c) < 262144L / 2,
          s"3-D z-order did not prune $c: read ${z(c)} of 262144 " +
            s"(key-sorted: ${keySorted(c)})")
      assert(z("x") < keySorted("x") / 2 && z("y") < keySorted("y") / 2,
        s"z-order barely helped the non-leading dims: $z vs $keySorted")
      // content bit-identical after the rewrite
      val snap2 = MergeSink.currentState(spark, table).get
        .agg(count(lit(1)), sum(col("k")),
          bit_xor(xxhash64(col("k"), col("x"), col("y"), col("w")))).head()
      assert(snap == snap2, s"$snap vs $snap2")
    } finally spark.conf.unset("parquet.block.size")
  }

  test("ANALYZE: column statistics reach the optimizer; any commit stales them") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    MergeSink.upsertBatch(
      spark.range(1000).select(
        col("id").as("k"), lit(1L).as("seq"),
        (col("id") % 10).as("cat"),
        md5(col("id").cast("string")).as("tag")),
      table, "k", "seq", 0L, "an")
    assert(MergeSink.analyze(spark, table) == 4)
    def scanStats() = {
      val df = spark.read.format("graft-merge")
        .option("path", table).option("key", "k").load()
      df.queryExecution.optimizedPlan
        .collectFirst { case r: DataSourceV2ScanRelation => r.scan }
        .get.asInstanceOf[GraftMergeScan].estimateStatistics()
    }
    val st = scanStats()
    val cols = st.columnStats()
    assert(!cols.isEmpty, "analyze sidecar not served")
    def of(name: String) = {
      val e = cols.entrySet().iterator()
      var found: org.apache.spark.sql.connector.read.colstats.ColumnStatistics = null
      while (e.hasNext) {
        val kv = e.next()
        if (kv.getKey.fieldNames().head == name) found = kv.getValue
      }
      assert(found != null, s"no stats for $name"); found
    }
    // k: 1000 distinct, min 0 max 999 (typed back to LONG)
    val kst = of("k")
    val ndv = kst.distinctCount().getAsLong
    assert(math.abs(ndv - 1000L) < 100L, s"k ndv $ndv") // HLL approx
    assert(kst.min().get() == java.lang.Long.valueOf(0L) &&
      kst.max().get() == java.lang.Long.valueOf(999L),
      s"${kst.min()} .. ${kst.max()}")
    assert(kst.nullCount().getAsLong == 0L)
    // cat: 10 distinct — exactly the join-reorder signal CBO needs
    val cndv = of("cat").distinctCount().getAsLong
    assert(math.abs(cndv - 10L) <= 1L, s"cat ndv $cndv")
    // tag (string): lengths recorded, no numeric min/max
    val tst = of("tag")
    assert(tst.maxLen().getAsLong == 32L && tst.avgLen().getAsLong == 32L)
    assert(!tst.min().isPresent)
    // ANY commit stales the sidecar: better no stats than wrong NDVs
    MergeSink.upsertBatch(
      Seq((5000L, 1L, 3L, "x")).toDF("k", "seq", "cat", "tag"),
      table, "k", "seq", 1L, "an")
    assert(scanStats().columnStats().isEmpty,
      "stale statistics served after a commit")
    // re-analyze restores service at the new head
    MergeSink.analyze(spark, table)
    assert(!scanStats().columnStats().isEmpty)
  }

  test("incremental ANALYZE: re-profiles only changed buckets, figures match full run") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    MergeSink.upsertBatch(
      spark.range(4000).select(
        col("id").as("k"), lit(1L).as("seq"),
        (col("id") % 40).as("cat"),
        md5(col("id").cast("string")).as("tag")),
      table, "k", "seq", 0L, "ia")
    val head0 = MergeSink.lastCommit(spark, table).get.version
    val allBuckets = MergeSink.manifest(spark, table, head0).keySet
    assert(MergeSink.analyze(spark, table) == 4)
    // first run has no partials to reuse: profiles every bucket
    assert(MergeSink.lastAnalyzeProfiled.get() == allBuckets)
    // dirty exactly ONE bucket (single-key upsert)
    MergeSink.upsertBatch(
      Seq((99999L, 1L, 7L, "fresh")).toDF("k", "seq", "cat", "tag"),
      table, "k", "seq", 1L, "ia")
    val head1 = MergeSink.lastCommit(spark, table).get.version
    val m0 = MergeSink.manifest(spark, table, head0)
    val m1 = MergeSink.manifest(spark, table, head1)
    val touched = m1.keySet.filter(b => m0.get(b) != m1.get(b))
    assert(touched.size == 1, s"fixture: one key should touch one bucket, got $touched")
    assert(MergeSink.analyze(spark, table) == 4)
    // THE exact-cost contract: the second run read ONLY the touched bucket
    assert(MergeSink.lastAnalyzeProfiled.get() == touched,
      s"incremental analyze re-profiled ${MergeSink.lastAnalyzeProfiled.get()} " +
        s"instead of only $touched")
    // stats are SERVED at the new head
    val (rowsInc, colsInc) = MergeSink.statsFor(spark, table, head1).get
    assert(rowsInc == 4001L)
    def sidecar(): String = {
      val p = new org.apache.hadoop.fs.Path(table, s"_stats_v$head1")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val incText = sidecar()
    // figures must MATCH a from-scratch run: drop the partials and
    // re-analyze everything
    val pp = new org.apache.hadoop.fs.Path(table)
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(pp).foreach { st =>
      if (st.getPath.getName.startsWith("_statsparts_"))
        fs.delete(st.getPath, false)
    }
    assert(MergeSink.analyze(spark, table) == 4)
    assert(MergeSink.lastAnalyzeProfiled.get() == m1.keySet,
      "full run should have profiled every bucket")
    assert(sidecar() == incText,
      "incremental figures diverged from the from-scratch run")
    // sanity on the merged numbers themselves
    val kNdv = colsInc("k").ndv
    assert(math.abs(kNdv - 4001L) < 80L, s"k ndv $kNdv")
    assert(colsInc("cat").min.contains(0.0) && colsInc("cat").max.contains(39.0))
    assert(colsInc("tag").maxLen.contains(32L))
  }

  test("auto-analyze: commits refresh served stats; names track renames") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    MergeSink.setHistoryKeep(spark, table, 10)
    MergeSink.upsertBatch(
      spark.range(2000).select(
        col("id").as("k"), lit(1L).as("seq"), (col("id") % 20).as("cat")),
      table, "k", "seq", 0L, "aa")
    spark.conf.set("spark.graft.autoAnalyze", "true")
    try {
      MergeSink.analyze(spark, table) // opting a table in = analyzing it once
      // an ordinary commit refreshes the sidecar as part of publish —
      // incrementally (only the touched bucket re-profiles)
      MergeSink.upsertBatch(
        Seq((90001L, 1L, 7L)).toDF("k", "seq", "cat"),
        table, "k", "seq", 1L, "aa")
      val h1 = MergeSink.lastCommit(spark, table).get.version
      val served = MergeSink.statsFor(spark, table, h1)
      assert(served.isDefined, "auto-analyze did not refresh at the new head")
      assert(served.get._1 == 2001L)
      assert(MergeSink.lastAnalyzeProfiled.get().size == 1,
        s"auto-refresh re-profiled ${MergeSink.lastAnalyzeProfiled.get()}")
      // a RENAME commit refreshes too, and the figures speak the NEW
      // name (old-name partials canonicalize through the alias chain)
      MergeSink.renameColumn(spark, table, "cat", "category")
      val h2 = MergeSink.lastCommit(spark, table).get.version
      val (rows2, cols2) = MergeSink.statsFor(spark, table, h2).get
      assert(rows2 == 2001L)
      assert(cols2.contains("category") && !cols2.contains("cat"),
        s"stats speak stale names: ${cols2.keySet}")
      assert(cols2("category").min.contains(0.0) &&
        cols2("category").max.contains(19.0), cols2("category").toString)
      // a table never analyzed does NOT pay the refresh
      val t2 = freshTable()
      MergeSink.upsertBatch(
        Seq((1L, 1L, 1L)).toDF("k", "seq", "cat"), t2, "k", "seq", 0L, "aa")
      assert(MergeSink.statsFor(spark, t2,
        MergeSink.lastCommit(spark, t2).get.version).isEmpty)
    } finally spark.conf.unset("spark.graft.autoAnalyze")
  }

  test("metadata columns: _version/_bucket/_file selectable, hidden from *") {
    val table = freshTable()
    val s2 = spark
    import s2.implicits._
    MergeSink.upsertBatch(
      (1L to 40L).map(i => (i, 1L, i * 1.0)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "meta")
    MergeSink.upsertBatch(
      Seq((7L, 2L, 7.7)).toDF("k", "seq", "v"),
      table, "k", "seq", 1L, "meta")
    val df = spark.read.format("graft-merge")
      .option("path", table).option("key", "k").load()
    // hidden from SELECT *
    assert(df.columns.toSeq == Seq("k", "seq", "v"), df.columns.mkString(","))
    val meta = df.select(
      col("k"), col("_version"), col("_bucket"), col("_file"))
    // _bucket is the writer's hash; _version is the bucket's manifest
    // content version; _file is the physical path of the row's file
    val manifest = MergeSink.manifest(spark, table, 1L)
    meta.collect().foreach { r =>
      val (k, v, b, f) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))
      assert(manifest(b) == v, s"k=$k: _version $v vs manifest ${manifest(b)}")
      assert(f.contains(s"/b$b/v$v/") && f.endsWith(".parquet"), f)
    }
    // the updated key's row reports the commit that rewrote its bucket
    assert(meta.filter(col("k") === 7L).head().getLong(1) == 1L)
    // usable in predicates and grouping (per-file row accounting — the
    // small-files diagnosis a maintenance job runs)
    val perFile = df.groupBy(col("_file")).count()
    assert(perFile.count() >= 1L &&
      perFile.agg(sum(col("count"))).head().getLong(0) == 40L)
    // CDC schema carries _version/_bucket as DATA columns — unchanged
    val cdc = spark.read.format("graft-merge")
      .option("path", table).option("key", "k").option("cdc", "true").load()
    assert(cdc.columns.contains("_version") && cdc.columns.contains("_bucket"))
  }

  test("maxVersionsPerTrigger bounds each micro-batch's replayed versions") {
    val table = freshTable()
    val s2 = spark
    import s2.implicits._
    // keep all 5 versions replayable (default retention is 2-deep)
    MergeSink.setHistoryKeep(spark, table, 10)
    (0 to 4).foreach { i =>
      MergeSink.upsertBatch(
        Seq((i.toLong, i.toLong, i * 1.0)).toDF("k", "seq", "v"),
        table, "k", "seq", i.toLong, "mvt")
    }
    val name = "dsv2_spec_mvt"
    val q = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .option("maxVersionsPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 5 versions at <=2/batch: at least 3 micro-batches, AvailableNow
    // still drains to the prepared horizon
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 rate-limited batches, got $batches")
    val log = spark.table(name)
    val versions = log.select("_version").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(versions.sameElements(Array(0L, 1L, 2L, 3L, 4L)),
      versions.mkString(","))
    val fullReplayRows = log.count()
    spark.catalog.dropTempView(name)
    // byte-based admission: a 1-byte budget still admits one version
    // per batch (never stalls), so 5 versions take 5 batches
    val name2 = "dsv2_spec_mbt"
    val q2 = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .option("maxBytesPerTrigger", "1")
      .load()
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val batches2 = q2.recentProgress.count(_.numInputRows > 0)
    assert(batches2 == 5, s"expected 5 byte-capped batches, got $batches2")
    assert(spark.table(name2).count() == fullReplayRows)
    spark.catalog.dropTempView(name2)
    // a non-positive cap is a loud config error (surfaces when the
    // stream builds its scan — the first micro-batch)
    val badQ = spark.readStream.format("graft-merge")
      .option("path", table).option("cdc", "true")
      .option("maxVersionsPerTrigger", "0").load()
      .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
    val bad = intercept[Exception] { badQ.awaitTermination() }
    assert(bad.getMessage.contains("maxVersionsPerTrigger") ||
      Option(bad.getCause).exists(_.getMessage.contains("maxVersionsPerTrigger")),
      s"unexpected: $bad")
  }

  test("columnar survivor copy preserves array columns under tombstones") {
    val s2 = spark
    import s2.implicits._
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_arr").toString
    def vec(id: Long): Seq[Float] = Seq(id.toFloat, -id.toFloat, 0.5f)
    MergeSink.upsertBatch(
      (1L to 6L).map(i => (i, vec(i), 1L)).toDF("id", "vec", "rv"),
      table, "id", "rv", 0L, "load")
    // tombstone half the keys IN the same buckets -> the read's batches
    // mix live and dead rows, forcing the survivor-copy path
    MergeSink.upsertBatch(
      Seq(2L, 4L, 6L).map(i => (i, vec(i), 2L))
        .toDF("id", "vec", "rv")
        .withColumn("__deleted", lit(true)),
      table, "id", "rv", 1L, "load")
    val got = spark.read.format("graft-merge")
      .option("path", table).option("key", "id").option("seq", "rv")
      .load()
      .select(col("id"), col("vec"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .toMap
    assert(got.keySet == Set(1L, 3L, 5L))
    Seq(1L, 3L, 5L).foreach(i => assert(got(i) == vec(i), s"id $i"))
  }

  test("a row-group predicate never leaks into a partition's shared reader conf") {
    val s2 = spark
    import s2.implicits._
    val table = freshTable()
    // many row groups per bucket file, key-sorted by compaction, so a
    // key range predicate really skips row groups
    spark.conf.set("parquet.block.size", "65536")
    try {
      val n = 80000L
      MergeSink.upsertBatch(
        spark.range(n).select(col("id").as("k"), lit(1L).as("seq"),
          md5(col("id").cast("string")).as("tag")),
        table, "k", "seq", 0L, "leak")
      assert(MergeSink.compact(spark, table, "k", targetBuckets = 8) == 8)
    } finally spark.conf.unset("parquet.block.size")
    // packed (not storage-partitioned) planning: one reader walks
    // several bucket files in turn
    val spj = "spark.sql.sources.v2.bucketing.enabled"
    val savedSpj = spark.conf.getOption(spj)
    spark.conf.set(spj, "false")
    try {
      val df = spark.read.format("graft-merge")
        .option("path", table).option("key", "k").load()
      val parts = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().toSeq
      }.get
      assert(parts.exists(_.asInstanceOf[graft.sources.MergeFilePartition]
        .splits.size > 1), s"no multi-file partition: $parts")
      def keys(d: org.apache.spark.sql.DataFrame): Seq[Long] =
        d.select("k").as[Long].collect().sorted.toSeq
      // filtered and unfiltered scans interleaved in one session: each
      // returns exactly its rows, whatever ran before it
      (1 to 2).foreach { round =>
        assert(keys(df.filter(col("k") > 76000L)) == (76001L until 80000L),
          s"round $round: high range")
        assert(keys(df) == (0L until 80000L), s"round $round: full scan")
        assert(keys(df.filter(col("k") <= 4000L)) == (0L to 4000L),
          s"round $round: low range")
      }
    } finally savedSpj.fold(spark.conf.unset(spj))(spark.conf.set(spj, _))
    // the same through one partition's prepared confs directly: the
    // filtered read skips row groups on a private copy; the shared
    // confs stay clean
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("seq", "long").add("tag", "string")
    val base = spark.sessionState.newHadoopConf()
    val confs = Seq(false, true).map(nd => nd ->
      graft.sources.MergeColumnarReader.preparedConf(base, schema, nd)).toMap
    val file = MergeSink.currentFiles(spark, table).values.flatten.head
    def rowsRead(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new graft.sources.MergeColumnarReader(
        base, graft.sources.MergeFileSplit(file, 0, 0L, 0L), schema,
        hideTombstones = true, pushedFilters = filters, confFor = confs)
      try {
        var rows = 0L
        while (r.next()) rows += r.get().numRows()
        rows
      } finally r.close()
    }
    val all = rowsRead(Array.empty)
    val pruned = rowsRead(Array(
      org.apache.spark.sql.sources.GreaterThan("k", 76000L)))
    assert(pruned < all / 2, s"row groups not skipped: read $pruned of $all")
    assert(rowsRead(Array.empty) == all, "a full read after a filtered one lost rows")
    Seq(false, true).foreach { nd =>
      assert(confs(nd).get(org.apache.parquet.hadoop.ParquetInputFormat
        .FILTER_PREDICATE) == null, s"predicate leaked (needDeleted=$nd)")
    }
  }

  test("every parquet footer open in src/main passes read options, through ParquetFooters") {
    // a one-argument ParquetFileReader.open(InputFile) builds a fresh
    // default Hadoop Configuration per call (about 10 ms of CPU)
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"source tree not found under ${root.toAbsolutePath}")
    val bad = files.filter { f =>
      f.getFileName.toString != "ParquetFooters.scala" &&
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          .contains("ParquetFileReader")
    }
    assert(bad.isEmpty, s"parquet footer reads outside ParquetFooters: $bad")
  }
}
