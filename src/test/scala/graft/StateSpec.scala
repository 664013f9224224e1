package graft

import graft.streaming.Streams
import graft.streaming.Streams.EventRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Production state-store and durability paths: RocksDB-backed streaming
  * state (the 100 TB state-size answer — state spills to disk instead of
  * living on the executor heap) and checkpoint WAL recovery (the
  * replay-exactly-once contract the reference's log manager provides,
  * /root/reference/src/opusdb/logging/log_mgr.clj:16-44).
  */
class StateSpec extends SparkSpec {

  private lazy val rows: Seq[EventRow] = {
    val s = spark
    import s.implicits._
    Tables.events(spark, sf).as[EventRow].collect().toSeq
  }

  test("RocksDB state store provider computes identical windowed state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[EventRow]
      ms.addData(rows)
      val q = Streams
        .tumblingCounts(ms.toDF())
        .writeStream
        .format("memory")
        .queryName("t_rocks")
        .outputMode("complete")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val got = spark
        .table("t_rocks")
        .agg(sum(col("n")), count(lit(1)))
        .first()
      assert(got.getLong(0) == rows.length)
      assert(got.getLong(1) > 0)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery: restarted query resumes at the WAL offset, no replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val sink = Files.createTempDirectory("graft_sink").toString
    val ms = MemoryStream[EventRow]
    val (half1, half2) = rows.splitAt(rows.length / 2)

    // parquet file sink: the exactly-once sink (its _spark_metadata
    // commit log is what makes reprocessed batches invisible)
    def start() = ms.toDF()
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream
      .format("parquet")
      .option("path", sink)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    ms.addData(half1)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()
    assert(spark.read.parquet(sink).count() == half1.length)

    // restart from the same checkpoint: the offset WAL says half1 is
    // committed, so only half2 may be processed
    ms.addData(half2)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val ids = spark.read
      .parquet(sink)
      .select(col("event_id"))
      .collect()
      .map(_.getLong(0))
    assert(ids.length == rows.length, s"expected ${rows.length}, got ${ids.length}")
    assert(ids.distinct.length == ids.length, "duplicate events after recovery")
  }

  test("streaming MERGE sink: kill/restart upsert == batch merge, replayed epochs skipped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = Files.createTempDirectory("graft_merge_tbl").toString
    val ckpt = Files.createTempDirectory("graft_merge_ckpt").toString
    val ms = MemoryStream[EventRow]
    val (h1, h2) = rows.splitAt(rows.length / 2)

    def run(data: Seq[EventRow]): Unit = {
      ms.addData(data)
      val q = graft.streaming.MergeSink
        .sink(
          ms.toDF().select(col("user_id"), col("event_id"), col("value")),
          table,
          ckpt,
          key = "user_id",
          seq = "event_id")
        .start()
      try q.processAllAvailable()
      finally q.stop() // the mid-stream kill: next run resumes from ckpt
    }

    def latestWinsOf(es: Seq[EventRow]): Set[(Long, Long, Double)] =
      es.groupBy(_.user_id)
        .map { case (u, g) =>
          val last = g.maxBy(_.event_id)
          (u, last.event_id, last.value)
        }
        .toSet

    run(h1)
    val v1 = graft.streaming.MergeSink.lastCommit(spark, table).get.version
    val afterH1 = graft.streaming.MergeSink
      .currentState(spark, table)
      .get
      .count()
    run(h2) // restart against the SAME checkpoint + table

    // TIME TRAVEL: the pre-restart snapshot must still read exactly as
    // the h1 latest-wins state (immutable versions + retained history)
    val travel = graft.streaming.MergeSink
      .stateAt(spark, table, v1)
      .get
      .collect()
      .map(r =>
        (
          r.getAs[Long]("user_id"),
          r.getAs[Long]("event_id"),
          r.getAs[Double]("value")))
      .toSet
    assert(travel == latestWinsOf(h1), "time-travel read diverged from the h1 state")

    // batch twin: latest-wins merge over the full event stream
    val want = rows
      .groupBy(_.user_id)
      .map { case (u, es) =>
        val last = es.maxBy(_.event_id)
        (u, last.event_id, last.value)
      }
      .toSet
    val got = graft.streaming.MergeSink
      .currentState(spark, table)
      .get
      .collect()
      .map(r =>
        (
          r.getAs[Long]("user_id"),
          r.getAs[Long]("event_id"),
          r.getAs[Double]("value")))
      .toSet
    assert(got == want, s"merge state diverged from batch twin (${got.size} vs ${want.size} keys)")
    assert(afterH1 <= got.size, "keys lost across restart")

    // idempotence: re-applying an already-committed (runId, epoch) is a
    // no-op — the post-marker pre-checkpoint replay Spark can produce
    val before = graft.streaming.MergeSink.lastCommit(spark, table).get
    val replay = rows
      .take(5)
      .map(r => (r.user_id, r.event_id, r.value))
      .toDF("user_id", "event_id", "value")
    graft.streaming.MergeSink
      .upsertBatch(replay, table, "user_id", "event_id", before.epoch, before.runId)
    val after = graft.streaming.MergeSink.lastCommit(spark, table).get
    assert(after == before, s"replayed epoch advanced the table: $before -> $after")

    // an epoch REGRESSION inside the same incarnation with no matching
    // marker is corruption, not a replay — it must fail, not skip.
    // (Replaying epoch-1 above would legitimately skip: its marker is
    // still retained. Commit a later epoch first, then present an
    // uncommitted epoch below it.)
    graft.streaming.MergeSink.upsertBatch(
      replay, table, "user_id", "event_id", before.epoch + 4, before.runId)
    val thrown = intercept[IllegalStateException] {
      graft.streaming.MergeSink.upsertBatch(
        replay, table, "user_id", "event_id", before.epoch + 2, before.runId)
    }
    assert(thrown.getMessage.contains("epoch regression"))
  }

  test("MERGE sink: restart with a FRESH checkpoint (epochs renumbered) merges instead of skipping") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = Files.createTempDirectory("graft_merge_fresh_tbl").toString
    val (h1, h2) = rows.splitAt(rows.length / 2)

    def run(data: Seq[EventRow]): Unit = {
      // NEW checkpoint + NEW MemoryStream per run: the second query's
      // epochIds restart at 0 — the exact shape that silently dropped
      // h2 under an epoch-only idempotence guard.
      val ckpt = Files.createTempDirectory("graft_merge_fresh_ckpt").toString
      val ms = MemoryStream[EventRow]
      ms.addData(data)
      val q = graft.streaming.MergeSink
        .sink(
          ms.toDF().select(col("user_id"), col("event_id"), col("value")),
          table,
          ckpt,
          key = "user_id",
          seq = "event_id")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    run(h1)
    val c1 = graft.streaming.MergeSink.lastCommit(spark, table).get
    run(h2)
    val c2 = graft.streaming.MergeSink.lastCommit(spark, table).get
    assert(c2.version > c1.version, "fresh-checkpoint batch was silently skipped")
    assert(c2.runId != c1.runId, "new query incarnation should carry a new runId")

    val want = rows
      .groupBy(_.user_id)
      .map { case (u, es) =>
        val last = es.maxBy(_.event_id)
        (u, last.event_id, last.value)
      }
      .toSet
    val got = graft.streaming.MergeSink
      .currentState(spark, table)
      .get
      .collect()
      .map(r =>
        (
          r.getAs[Long]("user_id"),
          r.getAs[Long]("event_id"),
          r.getAs[Double]("value")))
      .toSet
    assert(got == want, "state diverged after fresh-checkpoint restart")
  }

  test("MERGE sink copy-on-write: a small batch rewrites strictly fewer files than the table holds") {
    val s = spark
    import s.implicits._
    // Seed a table whose keys spread across many buckets ...
    val table = Files.createTempDirectory("graft_merge_cow_tbl").toString
    val seed = rows
      .map(r => (r.user_id, r.event_id, r.value))
      .toDF("user_id", "event_id", "value")
    graft.streaming.MergeSink
      .upsertBatch(seed, table, "user_id", "event_id", 0L, "cow-run")
    val filesBefore = graft.streaming.MergeSink.currentFiles(spark, table)
    val bucketsBefore = filesBefore.keySet
    assert(bucketsBefore.size > 2, s"seed spread over ${bucketsBefore.size} buckets — fixture too small")

    // ... then upsert ONE key: only its bucket's files may change
    val one = rows.head
    val touch = Seq((one.user_id, one.event_id + 1000000L, one.value + 1.0))
      .toDF("user_id", "event_id", "value")
    graft.streaming.MergeSink
      .upsertBatch(touch, table, "user_id", "event_id", 1L, "cow-run")
    val filesAfter = graft.streaming.MergeSink.currentFiles(spark, table)

    val changed = filesAfter.filter { case (b, fs0) => filesBefore.get(b) != Some(fs0) }
    assert(changed.nonEmpty, "no bucket changed after an upsert")
    assert(
      changed.size < bucketsBefore.size,
      s"single-key batch rewrote ${changed.size} of ${bucketsBefore.size} buckets — not copy-on-write")
    val unchanged = (filesAfter.keySet - changed.keySet.head)
    assert(
      unchanged.exists(b => filesAfter(b) == filesBefore(b)),
      "untouched buckets must carry their files forward verbatim")

    // and the merged value is visible
    val v = graft.streaming.MergeSink
      .currentState(spark, table)
      .get
      .where(col("user_id") === one.user_id)
      .select(col("event_id"))
      .first()
      .getLong(0)
    assert(v == one.event_id + 1000000L, "upserted key did not win")
  }

  test("MERGE sink CDC deletes: tombstones hide keys, survive late lower-seq upserts, allow re-insert") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_cdc_tbl").toString
    def df(rows: (Long, Long, Double, Boolean)*) =
      rows.toDF("user_id", "event_id", "value", MS.DeletedCol)
    def liveKeys: Set[Long] =
      MS.currentState(spark, table)
        .get
        .select("user_id")
        .collect()
        .map(_.getLong(0))
        .toSet

    // v0: two live keys
    MS.upsertBatch(
      df((1L, 10L, 1.0, false), (2L, 10L, 2.0, false)),
      table, "user_id", "event_id", 0L, "cdc-run")
    assert(liveKeys == Set(1L, 2L))
    val visibleCols = MS.currentState(spark, table).get.columns.toSeq
    assert(
      !visibleCols.contains(MS.DeletedCol),
      "reads must not expose the tombstone column")

    // v1: delete key 1 at a higher seq — key disappears from reads
    MS.upsertBatch(
      df((1L, 20L, 0.0, true)),
      table, "user_id", "event_id", 1L, "cdc-run")
    assert(liveKeys == Set(2L), "tombstone winner must hide its key")

    // the tombstone is physically RETAINED (that is what blocks
    // resurrection) even though reads filter it
    val stored = MS.currentFiles(spark, table).values.flatten.toSeq
    val raw = spark.read.parquet(stored: _*)
    assert(
      raw.filter(col(MS.DeletedCol)).count() == 1,
      "tombstone row must be retained in the stored buckets")

    // v2: a LATE upsert for key 1 with a LOWER seq than the tombstone
    // must lose the latest-wins race — no resurrection
    MS.upsertBatch(
      df((1L, 15L, 9.9, false)),
      table, "user_id", "event_id", 2L, "cdc-run")
    assert(liveKeys == Set(2L), "late lower-seq upsert resurrected a deleted key")

    // v3: a genuine re-insert at a HIGHER seq than the tombstone wins
    MS.upsertBatch(
      df((1L, 30L, 7.0, false)),
      table, "user_id", "event_id", 3L, "cdc-run")
    assert(liveKeys == Set(1L, 2L), "higher-seq re-insert must revive the key")
    val reborn = MS.currentState(spark, table).get
      .where(col("user_id") === 1L).select("event_id", "value").first()
    assert(reborn.getLong(0) == 30L && reborn.getDouble(1) == 7.0)

    // time travel: the snapshot before the delete still shows key 1's
    // original row (markers for current + previous survive GC)
    val prevV = MS.commits(spark, table).map(_.version).sorted.takeRight(2).head
    val at = MS.stateAt(spark, table, prevV).get
    assert(
      at.where(col("user_id") === 1L).isEmpty,
      s"version $prevV (post-delete, pre-reinsert) must not show key 1")
  }

  test("MERGE sink point lookup prunes to the keys' buckets and matches a full-table filter") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_pt_tbl").toString
    // enough keys that every one of the 16 buckets holds data
    val batch = (0L until 200L)
      .map(k => (k, k * 10L, k.toDouble))
      .toDF("user_id", "event_id", "value")
    MS.upsertBatch(batch, table, "user_id", "event_id", 0L, "pt-run")

    val keys: Seq[Any] = Seq(5L, 17L, 123L)
    val files = MS.lookupFiles(spark, table, keys)
    val allFiles = MS.currentFiles(spark, table).values.flatten.toSeq
    assert(files.nonEmpty && files.size <= keys.size)
    assert(
      files.size < allFiles.size,
      s"lookup resolved ${files.size} of ${allFiles.size} files — no pruning")

    val looked = MS
      .pointLookup(spark, table, "user_id", keys)
      .get
      .select("user_id", "event_id", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val full = MS
      .currentState(spark, table)
      .get
      .filter(col("user_id").isin(keys: _*))
      .select("user_id", "event_id", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(looked == full && looked.size == keys.size)

    // a tombstoned key must vanish from the lookup too
    MS.upsertBatch(
      Seq((17L, 1000L, 0.0, true))
        .toDF("user_id", "event_id", "value", MS.DeletedCol),
      table, "user_id", "event_id", 1L, "pt-run")
    val after = MS
      .pointLookup(spark, table, "user_id", keys)
      .get
      .select("user_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(after == Set(5L, 123L), "tombstoned key leaked through pointLookup")
  }

  test("MERGE sink tombstone retention: expiry rewrites only affected buckets and re-opens the race it guarded") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_ret_tbl").toString
    def df(rows: (Long, Long, Double, Boolean)*) =
      rows.toDF("user_id", "event_id", "value", MS.DeletedCol)
    def liveKeys: Set[Long] =
      MS.currentState(spark, table)
        .get
        .select("user_id")
        .collect()
        .map(_.getLong(0))
        .toSet

    MS.upsertBatch(
      df((1L, 10L, 1.0, false), (2L, 10L, 2.0, false), (3L, 10L, 3.0, false)),
      table, "user_id", "event_id", 0L, "ret-run")
    MS.upsertBatch(
      df((1L, 20L, 0.0, true)), // tombstone key 1 at seq 20
      table, "user_id", "event_id", 1L, "ret-run")
    assert(liveKeys == Set(2L, 3L))
    val before = MS.currentFiles(spark, table)

    // horizon BELOW the tombstone's seq: nothing to retire
    assert(MS.expireTombstones(spark, table, "user_id", "event_id", 20L) == 0)

    // horizon past it: exactly the tombstone's bucket rewrites; visible
    // state is unchanged and every other bucket carries forward
    val n = MS.expireTombstones(spark, table, "user_id", "event_id", 21L)
    assert(n == 1, s"expected 1 bucket rewritten, got $n")
    assert(liveKeys == Set(2L, 3L), "retention changed the visible table")
    val after = MS.currentFiles(spark, table)
    val changed = after.filter { case (b, fs) => before.get(b) != Some(fs) }
    assert(changed.size <= 1, s"retention rewrote ${changed.size} buckets")
    val raw = spark.read.parquet(after.values.flatten.toSeq: _*)
    assert(
      raw.filter(col(MS.DeletedCol)).count() == 0,
      "expired tombstone still stored")

    // the documented hazard: with the tombstone retired, a late
    // LOWER-seq upsert CAN resurrect the key — which is exactly why the
    // horizon must trail the out-of-order bound
    MS.upsertBatch(
      df((1L, 15L, 9.9, false)),
      table, "user_id", "event_id", 2L, "ret-run")
    assert(
      liveKeys == Set(1L, 2L, 3L),
      "post-retention lower-seq upsert should win (the hazard the horizon bounds)")
  }

  test("MERGE sink compaction rebuckets invisibly: rows + tombstones carry, lookups honor the new modulus, history survives") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_cpt_tbl").toString
    def df(rows: (Long, Long, Double, Boolean)*) =
      rows.toDF("user_id", "event_id", "value", MS.DeletedCol)
    // spread keys across many of the 16 default buckets, with a
    // retained tombstone in the mix
    MS.upsertBatch(
      df((1L to 40L).map(k => (k, 10L, k * 0.5, false)): _*),
      table, "user_id", "event_id", 0L, "cpt-run")
    MS.upsertBatch(
      df((7L, 20L, 0.0, true)), // tombstone key 7
      table, "user_id", "event_id", 1L, "cpt-run")
    val preCommit = MS.lastCommit(spark, table).get.version
    val preFiles = MS.currentFiles(spark, table).values.map(_.size).sum
    val preState = MS.currentState(spark, table).get
      .orderBy("user_id").collect().toSeq

    val written = MS.compact(spark, table, "user_id", targetBuckets = 4)
    assert(written == 4, s"expected 4 buckets written, got $written")
    val postFiles = MS.currentFiles(spark, table).values.map(_.size).sum
    assert(postFiles == 4 && postFiles < preFiles,
      s"file count: $preFiles -> $postFiles")
    // snapshot bit-identical (tombstoned key 7 still hidden)
    val postState = MS.currentState(spark, table).get
      .orderBy("user_id").collect().toSeq
    assert(postState == preState, "compaction changed the visible table")
    // the tombstone physically carried over (late lower-seq races still lose)
    val raw = spark.read.option("mergeSchema", true)
      .parquet(MS.currentFiles(spark, table).values.flatten.toSeq: _*)
    assert(raw.filter(col(MS.DeletedCol)).count() == 1,
      "compaction dropped the retained tombstone")
    MS.upsertBatch(
      df((7L, 15L, 9.9, false)), table, "user_id", "event_id", 2L, "cpt-run")
    assert(!MS.currentState(spark, table).get
      .select("user_id").collect().map(_.getLong(0)).contains(7L),
      "lower-seq upsert beat the carried tombstone after compaction")
    // point lookups hash with the NEW modulus (manifest B-header)
    val hit = MS.pointLookup(spark, table, "user_id", Seq(13L)).get
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(13L), s"post-compaction lookup broken: $hit")
    // time travel to the PRE-compaction version still reads (old bucket
    // files survive one more commit — the normal retention window);
    // note the tombstone upsert above already advanced the head once
    val old = MS.stateAt(spark, table, preCommit + 1)
    assert(old.isDefined && old.get.count() == preState.size.toLong,
      "previous (compacted) version unreadable after one more commit")
  }

  test("MERGE sink incremental compaction rewrites ONLY dirtied buckets; clean buckets carry by version; no-op mints nothing") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_cinc_tbl").toString
    def df(rows: (Long, Long, Double)*) =
      rows.toDF("user_id", "event_id", "value")
    MS.upsertBatch(
      df((1L to 64L).map(k => (k, 10L, k * 0.5)): _*),
      table, "user_id", "event_id", 0L, "cinc-run")
    // full sorted re-base at 8 buckets, the day-1 maintenance
    MS.compact(spark, table, "user_id", targetBuckets = 8)
    val baseV = MS.lastCommit(spark, table).get.version
    val baseManifest = MS.manifest(spark, table, baseV)
    assert(baseManifest.values.forall(_ == baseV))
    // day-2: one small upsert dirties only the buckets keys 3/5 hash to
    MS.upsertBatch(
      df((3L, 99L, 1.0), (5L, 99L, 2.0)),
      table, "user_id", "event_id", 1L, "cinc-run")
    val dirtyV = MS.lastCommit(spark, table).get.version
    val dirty = MS.manifest(spark, table, dirtyV)
      .collect { case (b, v) if v > baseV => b }.toSet
    assert(dirty.nonEmpty && dirty.size < 8, s"bad fixture: dirty=$dirty")
    val preState = MS.currentState(spark, table).get
      .orderBy("user_id").collect().toSeq

    val rewritten = MS.compactIncremental(spark, table, "user_id", baseV)
    assert(rewritten == dirty,
      s"rewrote $rewritten, expected exactly the dirtied $dirty")
    val v2 = MS.lastCommit(spark, table).get.version
    val m2 = MS.manifest(spark, table, v2)
    // clean buckets: content version UNCHANGED (files carried, not
    // rewritten); dirty buckets: re-based at the maintenance version
    m2.foreach { case (b, v) =>
      if (dirty.contains(b)) assert(v == v2, s"bucket $b not rewritten")
      else assert(v == baseV, s"clean bucket $b was rewritten to v$v")
    }
    val postState = MS.currentState(spark, table).get
      .orderBy("user_id").collect().toSeq
    assert(postState == preState,
      "incremental compaction changed the visible table")
    // already-clean table: nothing rewritten, no version minted
    assert(MS.compactIncremental(spark, table, "user_id", v2).isEmpty)
    assert(MS.lastCommit(spark, table).get.version == v2,
      "no-op incremental compaction minted a version")
  }

  test("MERGE sink manifest records bucket bytes (stats without file RPCs)") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_mb_tbl").toString
    MS.upsertBatch(
      (1L to 40L).map(k => (k, 10L, k * 0.5)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "mb-run")
    // second commit touches ONE key's bucket; the others carry forward
    MS.upsertBatch(
      Seq((1L, 20L, 9.9)).toDF("k", "seq", "v"),
      table, "k", "seq", 1L, "mb-run")
    val head = MS.lastCommit(spark, table).get.version
    val m = MS.manifest(spark, table, head)
    val bytes = MS.manifestBytes(spark, table, head)
    assert(bytes.keySet == m.keySet,
      s"every manifest bucket needs a byte figure: ${bytes.keySet} vs ${m.keySet}")
    // recorded figures equal the actual file sizes (write-time listing)
    val actual = MS.currentFiles(spark, table).map { case (b, fs2) =>
      b -> fs2.map(f => new java.io.File(new java.net.URI(
        if (f.startsWith("file:")) f else s"file://$f").getPath).length).sum
    }
    assert(bytes == actual, s"recorded $bytes vs actual $actual")
    // row counts recorded too, and their total equals the table's rows
    val rows = MS.manifestRows(spark, table, head)
    assert(rows.keySet == m.keySet, s"row figures incomplete: ${rows.keySet}")
    assert(rows.values.sum == 40L, s"recorded rows: $rows")
  }

  test("manifest records file lists + union schema: planning needs zero listings") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_mf_tbl").toString
    MS.upsertBatch(
      (1L to 40L).map(k => (k, 10L, k * 0.5)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "mf-run")
    // CDC batch evolves the schema past the first commit (tag + tombstone
    // column) and touches only its own bucket — the rest carry forward
    MS.upsertBatch(
      Seq((2L, 20L, 2.0, "x", false))
        .toDF("k", "seq", "v", "tag", MS.DeletedCol),
      table, "k", "seq", 1L, "mf-run")
    val head = MS.lastCommit(spark, table).get.version
    val m = MS.manifest(spark, table, head)
    val names = MS.manifestFiles(spark, table, head)
    assert(names.keySet == m.keySet,
      s"every manifest bucket needs a file list: ${names.keySet} vs ${m.keySet}")
    // the recorded union schema covers carried-forward AND new columns
    val sch = MS.manifestSchema(spark, table, head).get
    assert(sch.fieldNames.toSet ==
      Set("k", "seq", "v", "tag", MS.DeletedCol), sch.treeString)

    // batch planning + schema resolution + replay planning: ZERO
    // listings/footer sweeps (everything answered by the manifest)
    MS.metadataFallbacks.set(0)
    val got = spark.read.format("graft-merge")
      .option("path", table).option("key", "k").load()
      .select("k", "seq", "v", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 40, s"read ${got.length} rows")
    val name = "state_spec_mf_replay"
    val q = spark.readStream
      .format("graft-merge").option("path", table).option("cdc", "true")
      .load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // v0 contributes all 40 rows; v1 contributes the full post-merge
    // content of the buckets it physically wrote (replay is per-bucket)
    val v1Buckets = m.filter(_._2 == head).keySet
    val v1Rows = MS.manifestRows(spark, table, head)
      .filter { case (b, _) => v1Buckets(b) }.values.sum
    assert(spark.table(name).count() == 40L + v1Rows)
    spark.catalog.dropTempView(name)
    assert(MS.metadataFallbacks.get() == 0L,
      s"planning fell back to listings/footers ${MS.metadataFallbacks.get()} times")
  }

  test("MERGE sink change feed classifies insert/update/delete and skips untouched keys") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_cf_tbl").toString
    def df(rows: (Long, Long, Double, Boolean)*) =
      rows.toDF("user_id", "event_id", "value", MS.DeletedCol)

    // v0: keys 1-4 live
    MS.upsertBatch(
      df(
        (1L, 10L, 1.0, false),
        (2L, 10L, 2.0, false),
        (3L, 10L, 3.0, false),
        (4L, 10L, 4.0, false)),
      table, "user_id", "event_id", 0L, "cf-run")
    // v1: update 1, delete 2, insert 5, touch 3's bucket with an OLDER
    // row (loses the race — must NOT appear in the feed), leave 4 alone
    MS.upsertBatch(
      df(
        (1L, 20L, 1.5, false),
        (2L, 20L, 0.0, true),
        (5L, 20L, 5.0, false),
        (3L, 5L, 99.0, false)),
      table, "user_id", "event_id", 1L, "cf-run")

    val feed = MS
      .changes(spark, table, "user_id")
      .get
      .select("change", "user_id", "event_id", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(
      feed == Set(
        ("update", 1L, 20L, 1.5),
        ("delete", 2L, 10L, 2.0), // the vanished OLD row
        ("insert", 5L, 20L, 5.0)),
      s"unexpected change feed: $feed")

    // single-commit table: no previous snapshot to diff
    val one = Files.createTempDirectory("graft_merge_cf_one").toString
    MS.upsertBatch(
      df((1L, 10L, 1.0, false)), one, "user_id", "event_id", 0L, "cf-run")
    assert(MS.changes(spark, one, "user_id").isEmpty)
  }

  test("MERGE sink writer fencing: a newer incarnation fences the older, replays still skip") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_fence_tbl").toString
    def df(rows: (Long, Long, Double)*) =
      rows.toDF("user_id", "event_id", "value")

    // writer A owns the table
    MS.upsertBatch(df((1L, 10L, 1.0)), table, "user_id", "event_id", 0L, "writer-a")
    MS.upsertBatch(df((2L, 11L, 2.0)), table, "user_id", "event_id", 1L, "writer-a")
    // writer B (a new incarnation) takes over — registers a higher epoch
    MS.upsertBatch(df((3L, 12L, 3.0)), table, "user_id", "event_id", 0L, "writer-b")
    assert(MS.writers(spark, table).map(_._2) == Seq("writer-a", "writer-b"))

    // A is now fenced: a NEW batch from it must fail loudly…
    val ex = intercept[IllegalStateException] {
      MS.upsertBatch(df((4L, 13L, 4.0)), table, "user_id", "event_id", 2L, "writer-a")
    }
    assert(ex.getMessage.contains("FENCED"))
    // …but a REPLAY of one of A's already-committed batches still skips
    // silently (failure-after-commit recovery must not crash-loop)
    MS.upsertBatch(df((2L, 11L, 2.0)), table, "user_id", "event_id", 1L, "writer-a")

    // the fenced batch left no trace; B continues normally
    val keys = MS.currentState(spark, table).get
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(keys == Set(1L, 2L, 3L), s"unexpected keys after fencing: $keys")
    MS.upsertBatch(df((5L, 14L, 5.0)), table, "user_id", "event_id", 1L, "writer-b")
    assert(MS.lastCommit(spark, table).map(_.runId).contains("writer-b"))
  }

  test("additive epoch-partials through the MERGE sink: replayed epoch cannot double-add") {
    // The q_stream_incr_agg design (Streams.scala): a materialized
    // aggregate maintained as per-(group, epoch) PARTIAL rows. A
    // replayed epoch is skipped whole by its commit marker — and even
    // without the marker it would only overwrite its OWN (group,
    // epoch) keys, never re-adding into another epoch's partials. The
    // rollup read (sum of partials per group) must equal the direct
    // aggregate over everything ingested, after epochs, a replay, and
    // a late incremental epoch.
    val MS = graft.streaming.MergeSink
    val s = spark
    import s.implicits._
    val table = Files.createTempDirectory("graft_addagg_tbl").toString
    val ev = Tables
      .events(spark, sf)
      .select(
        col("event_id"),
        expr(s"unix_micros(ts) div ${3600L * 1000000L}").as("hour_idx"),
        round(col("value") * 100).cast("long").as("cents"))
      .cache()
    val mid = ev.agg(max(col("event_id")) / 2).first().getDouble(0).toLong

    def partials(df: org.apache.spark.sql.DataFrame, epoch: Long) = df
      .groupBy(col("hour_idx"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_sum"))
      .withColumn("agg_key", concat_ws(":", col("hour_idx"), lit(epoch)))
      .withColumn("epoch", lit(epoch))

    val h1 = ev.filter(col("event_id") <= mid)
    val h2 = ev.filter(col("event_id") > mid)
    MS.upsertBatch(partials(h1, 0L), table, "agg_key", "epoch", 0L, "agg-run")
    MS.upsertBatch(partials(h2, 1L), table, "agg_key", "epoch", 1L, "agg-run")
    // replay of epoch 0 (e.g. recovery re-delivery): marker skip
    MS.upsertBatch(partials(h1, 0L), table, "agg_key", "epoch", 0L, "agg-run")

    def rollup(): Map[Long, (Long, Long)] = MS
      .currentState(spark, table)
      .get
      .groupBy(col("hour_idx"))
      .agg(sum(col("n_events")).as("n"), sum(col("cents_sum")).as("c"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    def direct(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = df
      .groupBy(col("hour_idx"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

    assert(rollup() == direct(ev), "rollup diverged after replayed epoch")

    // a late incremental epoch keeps adding (delta = first 100 events again,
    // as NEW data in epoch 2 — distinct key space, so it must ADD)
    val delta = ev.filter(col("event_id") <= 100)
    MS.upsertBatch(partials(delta, 2L), table, "agg_key", "epoch", 2L, "agg-run")
    assert(rollup() == direct(ev.union(delta)), "late epoch did not add")
    ev.unpersist()
  }

  test("MERGE sink composite key: latest-wins per tuple, pruned lookup, tombstones, compaction") {
    val s = spark
    import s.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_merge_ck_tbl").toString
    val key = "acct,leg"
    // 120 accounts × 2 legs; second batch overwrites the 'b' legs at
    // higher seq and re-sends stale 'a' rows that must LOSE
    val b0 = (0L until 120L).flatMap(a =>
      Seq((a, "a", 10L, a * 1.0), (a, "b", 10L, a * 2.0)))
      .toDF("acct", "leg", "seq", "v")
    MS.upsertBatch(b0, table, key, "seq", 0L, "ck-run")
    val b1 = (0L until 120L).flatMap(a =>
      Seq((a, "b", 20L, a * 3.0), (a, "a", 5L, -1.0)))
      .toDF("acct", "leg", "seq", "v")
    MS.upsertBatch(b1, table, key, "seq", 1L, "ck-run")
    def state() = MS.currentState(spark, table).get
      .select("acct", "leg", "seq", "v").collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val st = state()
    assert(st.size == 240, s"expected 240 composite keys, got ${st.size}")
    assert(st((7L, "a")) == (10L, 7.0), "stale 'a' row won its tuple race")
    assert(st((7L, "b")) == (20L, 21.0), "'b' leg did not take the update")

    // tuple-pruned lookup: files strictly fewer than the table's, rows
    // equal to the full-table composite filter
    val tuples: Seq[Seq[Any]] = Seq(Seq(3L, "a"), Seq(3L, "b"), Seq(99L, "a"))
    val files = MS.lookupFilesTuples(spark, table, tuples)
    val allFiles = MS.currentFiles(spark, table).values.flatten.toSeq
    assert(files.nonEmpty && files.size < allFiles.size,
      s"tuple lookup resolved ${files.size}/${allFiles.size} files — no pruning")
    val looked = MS.pointLookupTuples(spark, table, key, tuples).get
      .select("acct", "leg", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(looked == Set((3L, "a", 3.0), (3L, "b", 9.0), (99L, "a", 99.0)),
      looked.toString)

    // a composite-key tombstone kills exactly its tuple, not the
    // sibling leg of the same account
    MS.upsertBatch(
      Seq((3L, "b", 30L, 0.0, true)).toDF("acct", "leg", "seq", "v", MS.DeletedCol),
      table, key, "seq", 2L, "ck-run")
    val afterDel = state()
    assert(!afterDel.contains((3L, "b")) && afterDel.contains((3L, "a")),
      "composite tombstone scope wrong")

    // the change feed keys on the tuple: exactly one delete row
    val ch = MS.changes(spark, table, key).get
      .select("change", "acct", "leg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(ch.sameElements(Array(("delete", 3L, "b"))), ch.toSeq.toString)

    // compaction re-hashes tuples to the new modulus invisibly
    val snap = afterDel
    assert(MS.compact(spark, table, key, targetBuckets = 4) == 4)
    assert(state() == snap, "compaction changed visible state")
    val postFiles = MS.lookupFilesTuples(spark, table, Seq(Seq(3L, "a")))
    assert(postFiles.size == 1 && postFiles.head.contains("/b"),
      s"post-compaction tuple lookup: $postFiles")
  }

  test("sorted-manifest flag lifecycle: compaction sets, dirty write drops, incremental restores") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_sorted_flag").toString
    MS.upsertBatch(
      (1L to 50L).map(i => (i, 10L, i * 1.0)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "sf")
    def flagAt(v: Long) = MS.manifestSortedBy(spark, table, v)
    assert(flagAt(0L).isEmpty, "ordinary upsert must not claim sortedness")
    MS.compact(spark, table, "k", targetBuckets = 4)
    val compactV = MS.lastCommit(spark, table).get.version
    assert(flagAt(compactV).contains(Seq("k")), "compaction should set O flag")
    MS.upsertBatch(
      Seq((7L, 20L, 7.7)).toDF("k", "seq", "v"), table, "k", "seq", 1L, "sf")
    val dirtyV = MS.lastCommit(spark, table).get.version
    assert(flagAt(dirtyV).isEmpty, "dirty write must drop the O flag")
    // incremental compaction since the FULL compact restores it (the
    // carried buckets were part of that all-sorted state)
    MS.compactIncremental(spark, table, "k", sinceVersion = compactV)
    val incrV = MS.lastCommit(spark, table).get.version
    assert(flagAt(incrV).contains(Seq("k")),
      "incremental since the full compact should restore the O flag")
    // ... but NOT when sinceVersion predates the full compact's
    // all-sorted state being re-established after new dirt
    MS.upsertBatch(
      Seq((8L, 30L, 8.8)).toDF("k", "seq", "v"), table, "k", "seq", 2L, "sf")
    MS.compactIncremental(spark, table, "k",
      sinceVersion = dirtyV) // dirtyV's manifest had no flag
    val incr2V = MS.lastCommit(spark, table).get.version
    assert(flagAt(incr2V).isEmpty,
      "incremental since an unsorted baseline must not claim sortedness")
  }

  test("restore: rollback to a retained version is a metadata-only commit") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_restore").toString
    MS.setHistoryKeep(spark, table, 5)
    MS.upsertBatch(
      (1L to 20L).map(i => (i, 10L, i * 1.0)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "rs")
    val good = MS.currentState(spark, table).get.collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    MS.upsertBatch( // the bad deploy: clobbers half the keys
      (1L to 10L).map(i => (i, 20L, -1.0)).toDF("k", "seq", "v"),
      table, "k", "seq", 1L, "rs")
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(d).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath.toString))
      walk(new org.apache.hadoop.fs.Path(p, "data")).toSet
    }
    val before = dataFiles()
    val restored = MS.restore(spark, table, 0L)
    assert(restored == 2L)
    // metadata-only: the data tree is BYTE-FOR-BYTE the same file set
    assert(dataFiles() == before, "restore copied or rewrote data files")
    // the head now reads as version 0 did
    val now = MS.currentState(spark, table).get.collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(now == good, "restored state diverged from the target version")
    // the rolled-back-over bad version stays time-travelable
    assert(MS.stateAt(spark, table, 1L).get
      .filter(col("v") === -1.0).count() == 10L)
    // restoring to a GC'd version fails loudly
    val bad = intercept[IllegalStateException] {
      MS.restore(spark, table, 99L)
    }
    assert(bad.getMessage.contains("not retained") ||
      bad.getMessage.contains("retained"), bad.getMessage)
    // a later write on top of the restore merges against the restored
    // state, not the bad one
    MS.upsertBatch(
      Seq((1L, 30L, 100.0)).toDF("k", "seq", "v"), table, "k", "seq", 2L, "rs")
    val after = MS.currentState(spark, table).get
      .filter(col("k") === 1L).head().getDouble(2)
    assert(after == 100.0)
    assert(MS.currentState(spark, table).get.count() == 20L)
  }

  test("vacuum: quiesced tables shed history and torn leftovers without a commit") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_vacuum").toString
    MS.setHistoryKeep(spark, table, 5)
    (0 to 4).foreach { i =>
      MS.upsertBatch(
        Seq((i.toLong, i.toLong, i * 1.0)).toDF("k", "seq", "v"),
        table, "k", "seq", i.toLong, "vc")
    }
    assert(MS.commits(spark, table).size == 5)
    // tighten retention AFTER the last commit: nothing sheds until the
    // next commit — unless vacuum runs
    MS.setHistoryKeep(spark, table, 2)
    assert(MS.commits(spark, table).size == 5)
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant torn leftovers: an aged unmarked claim + tmp + staging dir
    val old = System.currentTimeMillis() - 16L * 60L * 1000L
    for (n <- Seq("_claim_v9", "_tmp_v9", "_staging_dead")) {
      if (n.startsWith("_tmp") || n.startsWith("_staging")) fs.mkdirs(
        new org.apache.hadoop.fs.Path(p, n))
      else fs.create(new org.apache.hadoop.fs.Path(p, n), false).close()
      fs.setTimes(new org.apache.hadoop.fs.Path(p, n), old, -1L)
    }
    // a FRESH claim (in-flight writer) must survive the vacuum
    fs.create(new org.apache.hadoop.fs.Path(p, "_claim_v5"), false).close()
    val removed = MS.vacuum(spark, table)
    assert(removed >= 1, s"vacuum removed only $removed paths")
    assert(MS.commits(spark, table).map(_.version) == Seq(3L, 4L),
      "vacuum must apply the tightened retention")
    val names = fs.listStatus(p).map(_.getPath.getName).toSet
    // the expired claim sweeps at the 15-min steal TTL; data staging
    // holds the LONG write-attempt lease (24 h default) — a 16-min-old
    // tmp dir may belong to a live long batch write and must survive
    assert(!names.contains("_claim_v9"), names.toString)
    assert(names.contains("_tmp_v9") && names.contains("_staging_dead"),
      s"vacuum swept staging inside the write-attempt lease: $names")
    assert(names.contains("_claim_v5"), "vacuum killed a live claim")
    // past the (tightened) staging lease the leftovers are fair game
    spark.conf.set("spark.graft.vacuumStagingTtlMs", "600000") // 10 min
    try {
      assert(MS.vacuum(spark, table) >= 2)
      val after = fs.listStatus(p).map(_.getPath.getName).toSet
      assert(!after.contains("_tmp_v9") && !after.contains("_staging_dead"),
        after.toString)
    } finally spark.conf.unset("spark.graft.vacuumStagingTtlMs")
    // current state intact
    assert(MS.currentState(spark, table).get.count() == 5L)
    fs.delete(new org.apache.hadoop.fs.Path(p, "_claim_v5"), false)
  }

  test("concurrent-commit claim: a racing writer fails loudly before touching data") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_claim").toString
    MS.upsertBatch(
      Seq((1L, 10L, 1.0)).toDF("k", "seq", "v"), table, "k", "seq", 0L, "cc")
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a concurrent publish mid-flight: it holds the v1 claim
    val claim = new org.apache.hadoop.fs.Path(p, "_claim_v1")
    fs.create(claim, false).close()
    val e = intercept[MS.ConcurrentCommitException] {
      MS.upsertBatch(
        Seq((2L, 10L, 2.0)).toDF("k", "seq", "v"), table, "k", "seq", 1L, "cc")
    }
    assert(e.getMessage.contains("claimed by another writer"), e.getMessage)
    // the loser touched NOTHING: head unchanged, no v1 data dirs
    assert(MS.commits(spark, table).map(_.version) == Seq(0L))
    val dataRoot = new org.apache.hadoop.fs.Path(p, "data")
    val v1Dirs = fs.listStatus(dataRoot).flatMap(b =>
      fs.listStatus(b.getPath)).map(_.getPath.getName).filter(_ == "v1")
    assert(v1Dirs.isEmpty, s"loser staged data: ${v1Dirs.toSeq}")
    // the SAME writer retrying after its own mid-publish failure
    // re-takes its claim immediately (no TTL wait): simulate by
    // marking the claim as owned by this runId
    val out = fs.create(claim, true)
    out.write("cc".getBytes("UTF-8")); out.close()
    MS.upsertBatch(
      Seq((3L, 11L, 3.0)).toDF("k", "seq", "v"), table, "k", "seq", 1L, "cc")
    assert(MS.commits(spark, table).map(_.version) == Seq(0L, 1L))
    // roll back to test the foreign-claim TTL steal on v2
    val claim2 = new org.apache.hadoop.fs.Path(p, "_claim_v2")
    fs.create(claim2, false).close()
    intercept[MS.ConcurrentCommitException] {
      MS.upsertBatch(
        Seq((2L, 12L, 2.0)).toDF("k", "seq", "v"), table, "k", "seq", 2L, "cc")
    }
    // a TORN claim (dead claimant, no marker) is stealable after TTL
    fs.setTimes(claim2, System.currentTimeMillis() - 16L * 60L * 1000L, -1L)
    MS.upsertBatch(
      Seq((2L, 12L, 2.0)).toDF("k", "seq", "v"), table, "k", "seq", 2L, "cc")
    assert(MS.commits(spark, table).map(_.version) == Seq(1L, 2L)) // v0 GC'"'"'d
    // committed versions release their claims — nothing lingers
    assert(!fs.listStatus(p).exists(_.getPath.getName.startsWith("_claim_")),
      "claims must be released on commit")
  }

  test("cross-table transaction: all-or-nothing visibility at every crash point") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val A = Files.createTempDirectory("graft_txn_a").toString
    val B = Files.createTempDirectory("graft_txn_b").toString
    val txnDir = Files.createTempDirectory("graft_txn_log").toString
    MS.upsertBatch(
      Seq((1L, 1L, 10.0)).toDF("k", "seq", "v"), A, "k", "seq", 0L, "seed")
    MS.upsertBatch(
      Seq((1L, 1L, -10.0)).toDF("k", "seq", "v"), B, "k", "seq", 0L, "seed")
    // fatal by NonFatal's definition: the abort handler must NOT run,
    // modeling a hard kill between protocol steps
    class Kill extends scala.util.control.ControlThrowable("simulated crash")
    def txn(runId: String, killAt: Option[String] = None,
        boomAt: Option[String] = None): Seq[(String, Long)] =
      MS.commitTransaction(
        spark, txnDir,
        Seq(
          MS.TxnWrite(A, "k", "seq", Seq((2L, 2L, 5.0)).toDF("k", "seq", "v")),
          MS.TxnWrite(B, "k", "seq", Seq((2L, 2L, -5.0)).toDF("k", "seq", "v"))),
        runId = runId,
        hook = k => {
          if (killAt.contains(k)) throw new Kill
          if (boomAt.contains(k)) throw new RuntimeException("boom")
        })
    def versionsOf(d: String) = MS.commits(spark, d).map(_.version)
    def names(d: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).toSet
    }

    // (a) EXCEPTION after both staged, before the commit point: the
    // dosync-atomicity-on-exception dual — full rollback, zero residue
    intercept[RuntimeException] { txn("ta", boomAt = Some("precommit")) }
    assert(versionsOf(A) == Seq(0L) && versionsOf(B) == Seq(0L))
    for (d <- Seq(A, B))
      assert(!names(d).exists(n => n.startsWith("_pending_") ||
        n.startsWith("_claim_") || n == "_manifest_v1"),
        s"abort left residue in $d: ${names(d)}")

    // (b) CRASH (kill, no cleanup) before the commit point: staged
    // pendings exist on disk but NEITHER table shows the new version
    intercept[Kill] { txn("tb", killAt = Some("precommit")) }
    for (d <- Seq(A, B)) {
      assert(names(d).exists(_.startsWith("_pending_v1")),
        s"expected staged pending in $d: ${names(d)}")
      assert(versionsOf(d) == Seq(0L),
        s"HALF-STATE VISIBLE in $d: ${versionsOf(d)}")
      assert(MS.currentState(spark, d).get.count() == 1L)
    }
    // torn participants roll back through vacuum once past the TTL
    for (d <- Seq(A, B)) {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val old = System.currentTimeMillis() - 16L * 60L * 1000L
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_pending_") || n.startsWith("_claim_"))
          fs.setTimes(st.getPath, old, -1L)
      }
      assert(MS.vacuum(spark, d) >= 1)
      assert(!names(d).exists(n => n.startsWith("_pending_") ||
        n.startsWith("_claim_")), s"vacuum left txn residue in $d")
    }

    // (c) CRASH just past the commit point (txn file durable, no
    // promotion ran): BOTH tables serve the new version immediately —
    // the txn file IS the visibility, promotion is bookkeeping
    intercept[Kill] { txn("tc", killAt = Some("committed")) }
    for (d <- Seq(A, B)) {
      assert(versionsOf(d) == Seq(0L, 1L),
        s"committed txn not visible in $d: ${versionsOf(d)}")
      assert(MS.currentState(spark, d).get.count() == 2L)
      // the commit CLOCK is the txn instant: time travel agrees
      assert(MS.versionAt(spark, d, System.currentTimeMillis() + 1000L)
        .contains(1L))
    }
    // conservation holds the moment the txn file exists
    val total = MS.currentState(spark, A).get.agg(sum("v")).head().getDouble(0) +
      MS.currentState(spark, B).get.agg(sum("v")).head().getDouble(0)
    assert(total == 0.0, s"conservation broken: $total")
    // re-running the SAME transaction completes promotion idempotently
    val done = txn("tc")
    assert(done.toSet == Set(A -> 1L, B -> 1L), done.toString)
    for (d <- Seq(A, B)) {
      assert(versionsOf(d) == Seq(0L, 1L), s"double-commit in $d")
      assert(MS.currentState(spark, d).get.count() == 2L)
      assert(!names(d).exists(_.startsWith("_pending_")),
        s"promotion left pending in $d")
      assert(!names(d).exists(_.startsWith("_claim_")),
        s"promotion left claim in $d")
    }
    assert(names(txnDir).isEmpty, s"txn log not drained: ${names(txnDir)}")

    // (d) a foreign claim on ONE table aborts the WHOLE transaction
    // retryably, leaving the other untouched
    val pA = new org.apache.hadoop.fs.Path(A)
    val fsA = pA.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foreign = new org.apache.hadoop.fs.Path(pA, "_claim_v2")
    val o = fsA.create(foreign, false)
    o.write("other".getBytes("UTF-8")); o.close()
    intercept[MS.ConcurrentCommitException] { txn("td") }
    assert(versionsOf(A) == Seq(0L, 1L) && versionsOf(B) == Seq(0L, 1L))
    assert(!names(B).exists(_.startsWith("_pending_")),
      "aborted txn left residue in the second table")
    fsA.delete(foreign, false)

    // (e) happy path under retry: lands on both, conservation exact
    MS.withCommitRetry() { txn("te") }
    assert(versionsOf(A).max == 2L && versionsOf(B).max == 2L)
    val t2 = MS.currentState(spark, A).get.agg(sum("v")).head().getDouble(0) +
      MS.currentState(spark, B).get.agg(sum("v")).head().getDouble(0)
    assert(t2 == 0.0, s"conservation broken after retry path: $t2")
  }

  test("epoch transactions: replay idempotence + crash completion across tables") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val A = Files.createTempDirectory("graft_etxn_a").toString
    val B = Files.createTempDirectory("graft_etxn_b").toString
    val txnDir = Files.createTempDirectory("graft_etxn_log").toString
    MS.setHistoryKeep(spark, A, 10)
    MS.setHistoryKeep(spark, B, 10)
    class Kill extends scala.util.control.ControlThrowable("kill")
    def commitEpoch(e: Long, killAt: Option[String] = None) =
      MS.commitTransaction(
        spark, txnDir,
        Seq(
          MS.TxnWrite(A, "k", "seq",
            Seq((e, e, e * 1.0)).toDF("k", "seq", "v")),
          MS.TxnWrite(B, "k", "seq",
            Seq((e, e, -e * 1.0)).toDF("k", "seq", "v"))),
        runId = "q1", epochId = e,
        hook = k => if (killAt.contains(k)) throw new Kill)
    def hist(d: String) = MS.commits(spark, d).map(c => (c.version, c.epoch))

    commitEpoch(0L)
    commitEpoch(1L)
    assert(hist(A) == Seq((0L, 0L), (1L, 1L)) && hist(A) == hist(B))
    // a REPLAYED epoch (restart after the commit, before the
    // checkpoint advanced) is a complete no-op on both tables
    assert(commitEpoch(1L).isEmpty)
    assert(hist(A) == Seq((0L, 0L), (1L, 1L)) && hist(A) == hist(B),
      "replayed epoch minted a version")
    // crash AFTER the commit point: both tables already visible; the
    // replay completes promotion and drains the txn log
    intercept[Kill] { commitEpoch(2L, killAt = Some("committed")) }
    assert(hist(A).last == ((2L, 2L)) && hist(B).last == ((2L, 2L)),
      "committed epoch not visible after crash")
    commitEpoch(2L) // replay: promotion-completion path
    val (tfs, tp) = {
      val p = new org.apache.hadoop.fs.Path(txnDir)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    assert(tfs.listStatus(tp).isEmpty, "txn log not drained after replay")
    assert(hist(A).last == ((2L, 2L)), "replay after crash double-committed")
    // crash BEFORE the commit point: nothing visible; the replay
    // re-stages under the same runId (re-taking its own claims) and
    // commits cleanly
    intercept[Kill] { commitEpoch(3L, killAt = Some("precommit")) }
    assert(hist(A).last == ((2L, 2L)) && hist(B).last == ((2L, 2L)),
      "uncommitted epoch leaked")
    commitEpoch(3L)
    assert(hist(A).last == ((3L, 3L)) && hist(A) == hist(B))
    // converged content: one row per epoch in each table, conserved
    assert(MS.currentState(spark, A).get.count() == 4L)
    val total =
      MS.currentState(spark, A).get.agg(sum("v")).head().getDouble(0) +
        MS.currentState(spark, B).get.agg(sum("v")).head().getDouble(0)
    assert(total == 0.0)
    // the commit CLOCK agrees across participants even after all
    // pendings promoted away: each version's marker carries the shared
    // txn instant, so TIMESTAMP AS OF can never split a transaction
    val ta = MS.commitTimes(spark, A)
    val tb = MS.commitTimes(spark, B)
    assert(ta.keySet == tb.keySet, s"$ta vs $tb")
    ta.keys.foreach(v =>
      assert(ta(v) == tb(v), s"txn clock diverged at v$v: $ta vs $tb"))
    // a consistent cut at any transaction's instant includes BOTH
    // tables' versions in lockstep
    val cut = MS.consistentSnapshot(spark, Seq(A, B), ta(2L))
    assert(cut(A).contains(2L) && cut(B).contains(2L), cut.toString)
    val cut0 = MS.consistentSnapshot(spark, Seq(A, B), ta(0L))
    assert(cut0(A).contains(0L) && cut0(B).contains(0L), cut0.toString)
  }

  test("disjoint-bucket writers: loser rebases retry-less; overlap loses loudly") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_rebase").toString
    // find keys with known bucket relationships under the default modulus
    val bucketOf: Long => Int = {
      val m = spark.range(200)
        .select(col("id"),
          pmod(xxhash64(col("id")), lit(MS.DefaultBuckets)).cast("int"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      k => m(k)
    }
    val kA = 1L
    val kDisjoint = (2L to 199L).find(bucketOf(_) != bucketOf(kA)).get
    val kSame = (2L to 199L).find(bucketOf(_) == bucketOf(kA)).get
    MS.setHistoryKeep(spark, table, 10)
    // seed: base snapshot with both buckets occupied
    MS.upsertBatch(
      Seq((kA, 1L, 1.0), (kDisjoint, 1L, 2.0)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "seed")
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def holdClaim(v: Long): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p, s"_claim_v$v"), false)
      out.write("other".getBytes("UTF-8")); out.close()
    }
    // -- disjoint: 'other' holds the v1 claim and commits kA's bucket
    // 300 ms later; the loser (touching ONLY kDisjoint's bucket) must
    // land at v2 WITHOUT ConcurrentCommitException or recompute --
    holdClaim(1L)
    @volatile var helperErr: Throwable = null
    val helper = new Thread(() => {
      try {
        Thread.sleep(300)
        MS.upsertBatch(
          Seq((kA, 10L, 11.0)).toDF("k", "seq", "v"),
          table, "k", "seq", 0L, "other", reRegister = true)
      } catch { case t: Throwable => helperErr = t }
    })
    val rebasesBefore = MS.rebaseCount.get()
    helper.start()
    // NO withCommitRetry wrapper: the rebase path alone must carry this
    MS.upsertBatch(
      Seq((kDisjoint, 10L, 22.0)).toDF("k", "seq", "v"),
      table, "k", "seq", 0L, "loser", reRegister = true)
    helper.join()
    assert(helperErr == null, s"claim-holding writer failed: $helperErr")
    assert(MS.rebaseCount.get() == rebasesBefore + 1,
      "the disjoint loser should have landed via exactly one rebase")
    val cs = MS.commits(spark, table).map(c => (c.version, c.runId))
    assert(cs == Seq((0L, "seed"), (1L, "other"), (2L, "loser")), cs.toString)
    // content equals sequential execution
    val got = MS.currentState(spark, table).get
      .select("k", "seq", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((kA, 10L, 11.0), (kDisjoint, 10L, 22.0))
      .sortBy(_._1), got.toString)

    // -- overlap: same dance, but the loser touches kA's bucket too
    // (kSame hashes with kA) — must fail LOUDLY, not silently drop the
    // winner's rows --
    holdClaim(3L)
    val helper2 = new Thread(() => {
      try {
        Thread.sleep(300)
        MS.upsertBatch(
          Seq((kA, 20L, 111.0)).toDF("k", "seq", "v"),
          table, "k", "seq", 1L, "other", reRegister = true)
      } catch { case t: Throwable => helperErr = t }
    })
    helper2.start()
    intercept[MS.ConcurrentCommitException] {
      MS.upsertBatch(
        Seq((kSame, 20L, 222.0)).toDF("k", "seq", "v"),
        table, "k", "seq", 1L, "loser", reRegister = true)
    }
    helper2.join()
    assert(helperErr == null, s"claim-holding writer failed: $helperErr")
    // the retry wrapper then recomputes and lands it
    MS.withCommitRetry() {
      MS.upsertBatch(
        Seq((kSame, 20L, 222.0)).toDF("k", "seq", "v"),
        table, "k", "seq", 1L, "loser", reRegister = true)
    }
    val fin = MS.currentState(spark, table).get
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(fin(kA) == 111.0 && fin(kSame) == 222.0 && fin(kDisjoint) == 22.0,
      fin.toString)
  }

  test("withCommitRetry: a loser recomputes against the winner's head and lands") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    // -- deterministic forced race: the v1 claim is held by 'other',
    // which commits 300 ms later; the retrying writer must back off,
    // see other's commit, and land at v2 (recomputed, not replayed) --
    val table = Files.createTempDirectory("graft_retry").toString
    MS.upsertBatch(
      Seq((1L, 10L, 1.0)).toDF("k", "seq", "v"), table, "k", "seq", 0L, "w0")
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, "_claim_v1"), false)
    out.write("other".getBytes("UTF-8")); out.close()
    @volatile var helperErr: Throwable = null
    val helper = new Thread(() => {
      try {
        Thread.sleep(300)
        MS.upsertBatch(
          Seq((2L, 20L, 2.0)).toDF("k", "seq", "v"),
          table, "k", "seq", 0L, "other", reRegister = true)
      } catch { case t: Throwable => helperErr = t }
    })
    helper.start()
    MS.withCommitRetry(maxAttempts = 20, backoffMs = 100L) {
      MS.upsertBatch(
        Seq((3L, 30L, 3.0)).toDF("k", "seq", "v"),
        table, "k", "seq", 0L, "loser", reRegister = true)
    }
    helper.join()
    assert(helperErr == null, s"helper writer failed: $helperErr")
    val cs = MS.commits(spark, table)
    assert(cs.map(_.version).max == 2L, cs.toString)
    assert(cs.exists(_.runId == "other") && cs.exists(_.runId == "loser"),
      s"both writers must have committed: $cs")
    val keys = MS.currentState(spark, table).get
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys == Seq(1L, 2L, 3L), s"converged state wrong: $keys")

    // -- genuine race: two writers, one barrier, zero pre-arrangement;
    // both must succeed with the loser recomputing --
    val t2 = Files.createTempDirectory("graft_race2").toString
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(runId: String, lo: Long, hi: Long): Thread = new Thread(() => {
      try {
        val df = spark.range(lo, hi)
          .select(col("id").as("k"), lit(1L).as("seq"),
            (col("id") * 1.0).as("v"))
        barrier.await()
        MS.withCommitRetry(maxAttempts = 30, backoffMs = 100L) {
          MS.upsertBatch(df, t2, "k", "seq", 0L, runId, reRegister = true)
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val a = racer("ra", 0L, 5L)
    val b = racer("rb", 5L, 10L)
    a.start(); b.start(); a.join(); b.join()
    assert(errs.isEmpty, s"racing writer failed: ${errs.peek()}")
    val cs2 = MS.commits(spark, t2)
    assert(cs2.map(_.runId).toSet == Set("ra", "rb"),
      s"both racers must commit exactly once: $cs2")
    assert(cs2.map(_.version) == Seq(0L, 1L), cs2.toString)
    assert(MS.currentState(spark, t2).get.count() == 10L,
      "converged state must equal sequential execution")

    // -- exhaustion: a permanently-held foreign claim propagates the
    // ConcurrentCommitException after maxAttempts --
    val c3 = fs // reuse fs (same local filesystem)
    val p2 = new org.apache.hadoop.fs.Path(t2)
    val held = new org.apache.hadoop.fs.Path(p2, "_claim_v2")
    val o2 = c3.create(held, false)
    o2.write("immortal".getBytes("UTF-8")); o2.close()
    intercept[MS.ConcurrentCommitException] {
      MS.withCommitRetry(maxAttempts = 2, backoffMs = 1L) {
        MS.upsertBatch(
          Seq((99L, 99L, 9.9)).toDF("k", "seq", "v"),
          t2, "k", "seq", 1L, "ra", reRegister = true)
      }
    }
    c3.delete(held, false)
  }

  test("a writer that planned before a rival's commit cannot mint that version again") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_remint").toString
    MS.setHistoryKeep(spark, table, 10)
    MS.upsertBatch(
      Seq((0L, 1L, 0.0)).toDF("k", "seq", "v"), table, "k", "seq", 0L, "w0")
    // writer A's batch blocks on its first evaluation — the
    // touched-bucket probe, AFTER A planned v1 and BEFORE its claim —
    // until writer B has committed v1 and released B's claim
    PlanGate.arm()
    val gate = udf((_: Long) => PlanGate.pass())
    val aBatch = spark.range(1L, 6L)
      .select(col("id").as("k"), lit(1L).as("seq"), (col("id") * 1.0).as("v"))
      .filter(gate(col("k")))
    @volatile var aErr: Throwable = null
    val a = new Thread(() => {
      try MS.withCommitRetry(maxAttempts = 10, backoffMs = 50L) {
        MS.upsertBatch(aBatch, table, "k", "seq", 0L, "wa", reRegister = true)
      } catch { case t: Throwable => aErr = t }
    })
    a.start()
    try {
      assert(PlanGate.planned.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never reached its plan")
      MS.upsertBatch(
        (6L to 10L).map(k => (k, 1L, k * 1.0)).toDF("k", "seq", "v"),
        table, "k", "seq", 0L, "wb", reRegister = true)
    } finally PlanGate.released.countDown()
    a.join(300000L)
    assert(!a.isAlive, "writer A did not finish")
    assert(aErr == null, s"writer A failed: $aErr")
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Marker = "_commit_v(\\d+)_.*".r
    val markers = fs.listStatus(p).map(_.getPath.getName)
      .collect { case n @ Marker(v) => v.toLong -> n }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSeq }
    assert(markers.keySet == Set(0L, 1L, 2L), markers.toString)
    assert(markers.values.forall(_.size == 1),
      s"a version was minted twice: $markers")
    val keys = MS.currentState(spark, table).get
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys == (0L to 10L), s"rows lost: $keys")
  }

  test("time-based retention: history_keep_ms keeps young versions beyond the depth window") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_time_keep").toString
    // depth stays at the default 2, but ANY version younger than an
    // hour survives — the "replay yesterday" contract independent of
    // commit rate
    MS.setHistoryKeepMs(spark, table, 60L * 60L * 1000L)
    (0 to 4).foreach { i =>
      MS.upsertBatch(
        Seq((i.toLong, i.toLong, i * 1.0)).toDF("k", "seq", "v"),
        table, "k", "seq", i.toLong, "tk")
    }
    assert(MS.commits(spark, table).map(_.version) == Seq(0L, 1L, 2L, 3L, 4L),
      "young versions beyond depth 2 must survive under the time window")
    // age every marker past the window: the NEXT commit's GC collects
    // everything older than the depth floor
    val (fs, p) = {
      val pp = new org.apache.hadoop.fs.Path(table)
      (pp.getFileSystem(spark.sparkContext.hadoopConfiguration), pp)
    }
    val old = System.currentTimeMillis() - 2L * 60L * 60L * 1000L
    fs.listStatus(p).foreach { st =>
      if (st.getPath.getName.startsWith("_commit_v"))
        fs.setTimes(st.getPath, old, -1L)
    }
    MS.upsertBatch(
      Seq((9L, 9L, 9.9)).toDF("k", "seq", "v"), table, "k", "seq", 5L, "tk")
    val retained = MS.commits(spark, table).map(_.version)
    assert(retained == Seq(4L, 5L),
      s"aged-out versions must fall back to the depth window: $retained")
    // clearing the window restores pure depth-based GC
    MS.setHistoryKeepMs(spark, table, 0L)
    assert(MS.historyKeepMs(spark, table).isEmpty)
  }

  test("snapshot retention: setHistoryKeep widens the time-travel window at the next GC") {
    val s2 = spark
    import s2.implicits._
    val MS = graft.streaming.MergeSink
    val table = Files.createTempDirectory("graft_histkeep").toString
    MS.setHistoryKeep(spark, table, 3)
    assert(MS.historyKeep(spark, table) == 3)
    (0 to 3).foreach { i =>
      MS.upsertBatch(
        Seq((i.toLong, 10L + i, i * 1.0)).toDF("k", "seq", "v"),
        table, "k", "seq", i.toLong, "hk")
    }
    // keep=3 after 4 commits: versions 1,2,3 retained, v0 collected
    val retained = MS.commits(spark, table).map(_.version).sorted
    assert(retained.sameElements(Array(1L, 2L, 3L)), retained.toSeq.toString)
    // time travel reaches TWO versions back (impossible at default 2)
    val v1 = MS.stateAt(spark, table, 1L).get
    assert(v1.count() == 2L, "v1 snapshot should hold keys 0 and 1")
    // a collected version fails loudly through the connector
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft-merge")
        .option("path", table).option("versionAsOf", "0").load().count()
    }
    assert(err.getMessage.contains("snapshot retention"), err.getMessage)
    // tightening back to the default shrinks the window at the next commit
    MS.setHistoryKeep(spark, table, 2)
    MS.upsertBatch(
      Seq((9L, 99L, 9.0)).toDF("k", "seq", "v"), table, "k", "seq", 9L, "hk")
    val after = MS.commits(spark, table).map(_.version).sorted
    assert(after.sameElements(Array(3L, 4L)), after.toSeq.toString)
  }
}

/** Holds one writer inside its plan (see the version re-mint test in
  * [[StateSpec]]). An object, so the UDF's task-side closure reaches
  * the same latches as the test thread.
  */
object PlanGate {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var planned = new java.util.concurrent.CountDownLatch(1)
  @volatile var released = new java.util.concurrent.CountDownLatch(1)

  def arm(): Unit = {
    planned = new java.util.concurrent.CountDownLatch(1)
    released = new java.util.concurrent.CountDownLatch(1)
    armed.set(true)
  }

  /** Always true; the first call after [[arm]] waits for the release. */
  def pass(): Boolean = {
    if (armed.compareAndSet(true, false)) {
      planned.countDown()
      released.await(300, java.util.concurrent.TimeUnit.SECONDS)
    }
    true
  }
}
