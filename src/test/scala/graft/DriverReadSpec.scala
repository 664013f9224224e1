package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.DriverReadExec
import graft.streaming.MergeSink

/** The library's point-lookup surface on the driver: `lookupFilesTuples`
  * derives bucket ids without a job, and `pointLookupTuples` is a
  * key-filtered source read that the driver path serves.
  */
class DriverReadSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** The bucket directories the writer's own expressions select
    * (`pmod(xxhash64(lit(v), …), nb)` and [[MergeSink.partIdxExprOn]],
    * evaluated in a 1-row job) — the derivation `lookupFilesTuples`
    * used before it moved to the driver.
    */
  private def writerLookup(
      dir: String, tuples: Seq[Seq[Any]], key: String): Seq[String] = {
    val c = MergeSink.lastCommit(spark, dir).get
    val nb = MergeSink.bucketCount(spark, dir, c.version)
    val m = MergeSink.manifest(spark, dir, c.version)
    val gens = MergeSink.partitionSpecGens(spark, dir)
    val decode =
      if (gens.isEmpty) gens
      else gens.init :+
        MergeSink.SpecGen(gens.last.spec.copy(nb = nb), gens.last.offset)
    val kcols = MergeSink.keyCols(key)
    val hashPos = MergeSink.bucketBy(spark, dir).map(_.map(kcols.indexOf))
    def hashOf(t: Seq[Any], modulus: Int): Column =
      pmod(xxhash64(hashPos.map(_.map(t)).getOrElse(t).map(lit): _*),
        lit(modulus)).cast("int")
    val exprs = decode.lastOption match {
      case None => tuples.map(hashOf(_, nb))
      case Some(cur) =>
        val pi = kcols.indexOf(cur.spec.column)
        for (t <- tuples; g <- decode) yield {
          val idx = MergeSink.partIdxExprOn(g.spec, lit(t(pi)))
          (when(idx.isNull || idx < 0, lit(-1 - g.offset)).otherwise(idx) *
            lit(g.spec.nb) + lit(g.offset) + hashOf(t, g.spec.nb)).cast("int")
        }
    }
    val bs = spark.range(1).select(array(exprs: _*)).head().getSeq[Int](0)
    bs.toSet.toSeq.sorted.flatMap(b =>
      m.get(b).map(v => MergeSink.dataPath(spark, dir, b, v)))
  }

  private def assertSameLookup(
      what: String, dir: String, key: String, tuples: Seq[Seq[Any]]): Unit = {
    val want = writerLookup(dir, tuples, key)
    val (got, jobs, _) =
      jobsAndCompiles(MergeSink.lookupFilesTuples(spark, dir, tuples, key))
    assert(got == want, s"$what: driver lookup $got, writer expression $want")
    assert(want.nonEmpty, s"$what: precondition — some tuple is present")
    assert(jobs == 0, s"$what: lookupFilesTuples ran $jobs Spark jobs")
  }

  test("lookupFilesTuples: driver-side bucket ids equal the writer's expression, no job") {
    val s = spark
    import s.implicits._
    // unpartitioned, single key
    val plain = tmp("drl_plain")
    MergeSink.upsertBatch((0L until 200L).map(k => (k, 1L, k * 2L))
      .toDF("id", "rv", "v"), plain, "id", "rv", 0L, "w")
    assertSameLookup("plain", plain, "id",
      Seq(5L, 17L, 123L, 999L).map(Seq(_)))
    assert(MergeSink.lookupFiles(spark, plain, Seq(5L, 17L)) ==
      writerLookup(plain, Seq(Seq(5L), Seq(17L)), "id"))
    // composite key hashed jointly
    val comp = tmp("drl_comp")
    MergeSink.upsertBatch((0L until 100L).flatMap(a =>
      Seq((a, "a", 1L), (a, "b", 1L))).toDF("acct", "leg", "rv"),
      comp, "acct,leg", "rv", 0L, "w")
    assertSameLookup("composite", comp, "acct,leg",
      Seq(Seq(3L, "a"), Seq(3L, "b"), Seq(99L, "a"), Seq(500L, "z")))
    // bucket_by: the hash covers one column of the key
    val bby = tmp("drl_bby")
    MergeSink.setBucketBy(spark, bby, Seq("id"))
    MergeSink.upsertBatch((0L until 60L).map(k => (k, (k % 3).toInt, 1L))
      .toDF("id", "part", "rv"), bby, "id,part", "rv", 0L, "w")
    assertSameLookup("bucket_by", bby, "id,part",
      Seq(Seq[Any](5L, 2), Seq[Any](7L, 1), Seq[Any](77L, 2)))
    // days-partitioned DATE key; a date string and a pre-epoch date too
    val days = tmp("drl_days")
    MergeSink.setPartitionSpec(spark, days, "day", "day", 4)
    MergeSink.upsertBatch((0L until 30L).map(k =>
      (Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusDays(k % 5)),
        k, 1L)).toDF("day", "id", "rv"), days, "day,id", "rv", 0L, "w")
    assertSameLookup("days", days, "day,id", Seq(
      Seq[Any](Date.valueOf("2024-01-03"), 2L),
      Seq[Any](Date.valueOf("2024-01-04"), 9L),
      Seq[Any]("2024-01-02", 6L),
      Seq[Any](Date.valueOf("1969-12-30"), 1L)))
    // hours-partitioned TIMESTAMP key, evolved from days: one candidate
    // bucket per generation
    val hours = tmp("drl_hours")
    MergeSink.setPartitionSpec(spark, hours, "day", "ts", 2)
    def tsRows(day: Int): DataFrame = (0 until 24).map { i =>
      (Timestamp.valueOf(f"2024-01-0$day%d $i%02d:15:00"), i.toLong, day.toLong)
    }.toDF("ts", "id", "rv")
    MergeSink.upsertBatch(tsRows(1), hours, "ts,id", "rv", 0L, "w")
    MergeSink.evolvePartitionSpec(spark, hours, "hour", 2)
    MergeSink.upsertBatch(tsRows(3), hours, "ts,id", "rv", 1L, "w")
    assertSameLookup("hours-evolved", hours, "ts,id", Seq(
      Seq[Any](Timestamp.valueOf("2024-01-01 05:15:00"), 5L),
      Seq[Any](Timestamp.valueOf("2024-01-03 07:15:00"), 7L),
      Seq[Any](Timestamp.valueOf("2024-01-09 07:15:00"), 7L),
      Seq[Any](Timestamp.valueOf("1969-12-31 23:15:00"), 1L)))
  }

  /** pointLookupTuples vs the distributed snapshot filtered the same
    * way: rows and schema equal, and the lookup served on the driver.
    */
  private def assertLookupIsSnapshot(
      what: String, dir: String, key: String, tuples: Seq[Seq[Any]]): Unit = {
    val kcols = MergeSink.keyCols(key)
    val cond = tuples.map(t => kcols.zip(t).map { case (c, v) =>
      col(c) === lit(v) }.reduce(_ && _)).reduce(_ || _)
    val want = MergeSink.currentState(spark, dir).get.filter(cond)
    val got = MergeSink.pointLookupTuples(spark, dir, key, tuples).get
    assert(got.schema == want.schema,
      s"$what: lookup schema ${got.schema} vs snapshot ${want.schema}")
    assert(got.collect().toSet == want.collect().toSet, what)
    assert(got.queryExecution.executedPlan.collectFirst {
      case d: DriverReadExec => d }.isDefined,
      s"$what: not served on the driver:\n${got.queryExecution.executedPlan}")
    val (_, jobs, _) = jobsAndCompiles(got.collect())
    assert(jobs == 0, s"$what: point lookup ran $jobs Spark jobs")
  }

  test("pointLookupTuples reads through the source: rows and schema of the filtered snapshot") {
    val s = spark
    import s.implicits._
    val t = tmp("drl_pl")
    MergeSink.upsertBatch((0L until 200L).map(k => (k, 1L, k * 0.5))
      .toDF("user_id", "event_id", "value"), t, "user_id", "event_id", 0L, "w")
    assertLookupIsSnapshot("plain", t, "user_id",
      Seq(5L, 17L, 123L).map(Seq(_)))
    // a tombstone in a looked-up bucket
    MergeSink.upsertBatch(Seq((17L, 2L, 0.0, true))
      .toDF("user_id", "event_id", "value", MergeSink.DeletedCol),
      t, "user_id", "event_id", 1L, "w")
    assertLookupIsSnapshot("tombstoned", t, "user_id",
      Seq(5L, 17L, 123L).map(Seq(_)))
    // an added column: old files serve NULL, new rows the value
    MergeSink.addColumns(spark, t, Seq(StructField("note", StringType)))
    MergeSink.upsertBatch(Seq((5L, 3L, 9.5, "new"))
      .toDF("user_id", "event_id", "value", "note"),
      t, "user_id", "event_id", 2L, "w")
    assertLookupIsSnapshot("added column", t, "user_id",
      Seq(5L, 123L).map(Seq(_)))
    // a renamed column (column mapping): old files under the old name
    MergeSink.renameColumn(spark, t, "value", "amount")
    assertLookupIsSnapshot("renamed column", t, "user_id",
      Seq(5L, 123L).map(Seq(_)))
    // a widened column: int files read as BIGINT
    val w = tmp("drl_widen")
    MergeSink.upsertBatch((0 until 50).map(k => (k.toLong, 1L, k))
      .toDF("id", "rv", "n"), w, "id", "rv", 0L, "w")
    MergeSink.widenColumn(spark, w, "id", "n", LongType)
    assertLookupIsSnapshot("widened column", w, "id",
      Seq(3L, 40L).map(Seq(_)))
    // composite key on a days-partitioned layout
    val p = tmp("drl_pl_part")
    MergeSink.setPartitionSpec(spark, p, "day", "day", 4)
    MergeSink.upsertBatch((0L until 30L).map(k =>
      (Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusDays(k % 5)),
        k, 1L)).toDF("day", "id", "rv"), p, "day,id", "rv", 0L, "w")
    assertLookupIsSnapshot("partitioned", p, "day,id", Seq(
      Seq[Any](Date.valueOf("2024-01-03"), 2L),
      Seq[Any](Date.valueOf("2024-01-05"), 9L)))
  }

  /** The graft-merge scans of a frame's optimized plan. */
  private def scansOf(df: DataFrame): Seq[graft.sources.GraftMergeScan] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.GraftMergeScan] =>
        r.scan.asInstanceOf[graft.sources.GraftMergeScan]
    }

  test("pointLookupTuples stays bucket-bounded for composite tuples of distinct values, past the tuple cap too") {
    val s = spark
    import s.implicits._
    val t = tmp("drl_wide")
    MergeSink.upsertBatch((0L until 400L).map(k => (k, s"leg$k", 1L, k * 3L))
      .toDF("acct", "leg", "rv", "v"), t, "acct,leg", "rv", 0L, "w")
    val state = MergeSink.currentState(spark, t).get
    // every chunk's scan plans exactly the buckets its tuples hash into
    def check(what: String, tuples: Seq[Seq[Any]]): Unit = {
      val got = MergeSink.pointLookupTuples(spark, t, "acct,leg", tuples).get
      val chunks = tuples.grouped(graft.sources.GraftMergeScan.KeyTupleCap)
        .toSeq
      assert(scansOf(got).map(_.fileCounts._1) == chunks.map(c =>
        MergeSink.lookupFilesTuples(spark, t, c, "acct,leg").size),
        s"$what: planned ${scansOf(got).map(_.fileCounts)}")
      val want = state.filter(concat_ws("|", col("acct"), col("leg"))
        .isin(tuples.map(_.mkString("|")): _*))
      assert(got.collect().toSet == want.collect().toSet, what)
      assert(got.count() == tuples.size.toLong, what)
    }
    // 20 tuples of all-distinct values: a per-column cross product would
    // be 400 > 256 candidates; the OR is the exact set of 20
    val twenty = (0L until 20L).map(k => Seq[Any](k * 7, s"leg${k * 7}"))
    check("20 tuples", twenty)
    val pruned = scansOf(MergeSink.pointLookupTuples(spark, t, "acct,leg",
      twenty).get).head.reportDriverMetrics()
      .find(_.name() == "prunedDataFiles").get.value()
    assert(pruned > 0L, s"20 tuples pruned $pruned files")
    // past the cap: chunks of at most 256 tuples, each bucket-bounded
    check("300 tuples", (0L until 300L).map(k => Seq[Any](k, s"leg$k")))
  }

  test("driver-read bounds: more planned files than DriverReadMaxFiles run as a job") {
    val s = spark
    import s.implicits._
    val t = tmp("drl_files")
    MergeSink.upsertBatch((0L until 2000L).map(k => (k, 1L, k))
      .toDF("id", "rv", "v"), t, "id", "rv", 0L, "w")
    MergeSink.compact(spark, t, "id", 64)
    val reader = spark.read.format("graft-merge")
      .option("path", t).option("key", "id").load()
    // one key per bucket, for the first n buckets
    def keysIn(n: Int): Seq[Long] = (0L until 2000L)
      .groupBy(k => graft.sources.MergeTableUtil.bucketOf(k, LongType, 64))
      .toSeq.sortBy(_._1).take(n).map(_._2.head)
    val max = graft.sources.GraftMergeScan.DriverReadMaxFiles
    def plan(n: Int) = {
      val df = reader.filter(col("id").isin(keysIn(n): _*))
      assert(df.count() == n.toLong)
      (scansOf(df).head.fileCounts._1, df.queryExecution.executedPlan)
    }
    val (atMax, p1) = plan(max)
    assert(atMax == max && p1.collectFirst { case d: DriverReadExec => d }
      .isDefined, s"$atMax files:\n$p1")
    val (over, p2) = plan(max + 1)
    assert(over == max + 1 && p2.collectFirst { case d: DriverReadExec => d }
      .isEmpty, s"$over files:\n$p2")
  }

  test("driver read: parents, limits and the scan's metrics") {
    val s = spark
    import s.implicits._
    val t = tmp("drl_ops")
    MergeSink.upsertBatch((0L until 100L).map(k => (k, 1L, k * 2L))
      .toDF("id", "rv", "v"), t, "id", "rv", 0L, "w")
    val pinned = spark.read.format("graft-merge")
      .option("path", t).option("key", "id").load()
      .filter(col("id").isin(3L, 5L, 7L, 500L))
    val node = pinned.queryExecution.executedPlan.collectFirst {
      case d: DriverReadExec => d }
    assert(node.isDefined, pinned.queryExecution.executedPlan.toString)
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 7L))
    // the scan's planning outcomes, as BatchScanExec reports them
    val m = node.get.metrics
    val total = MergeSink.currentFiles(spark, t).values.flatten.size
    assert(m("snapshotDataFiles").value == total.toLong &&
      m("prunedDataFiles").value > 0L && m("plannedBytes").value > 0L &&
      m("numOutputRows").value == 3L,
      m.map { case (k, v) => k -> v.value }.toString)
    assert(node.get.toString.contains("GraftMergeScan dir="), node.get.toString)
    // executeTake / executeTail / a parent that executes the rows
    assert(pinned.limit(2).collect().length == 2)
    assert(pinned.orderBy("id").tail(1).map(_.getLong(0)).toSeq == Seq(7L))
    assert(pinned.count() == 3L)
    assert(pinned.agg(sum("v")).head().getLong(0) == 30L)
    assert(!pinned.isEmpty)
    val other = (0L until 10L).map(k => (k, s"n$k")).toDF("id", "name")
    assert(pinned.join(other, "id").select("name").as[String].collect()
      .sorted.toSeq == Seq("n3", "n5", "n7"))
  }
}
