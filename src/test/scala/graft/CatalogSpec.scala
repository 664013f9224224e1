package graft

import org.apache.spark.sql.functions._

import graft.sources.GraftCatalog
import graft.streaming.MergeSink

/** The graft SQL catalog: merge tables reachable through pure SQL —
  * DDL round-trip, INSERT-as-merge, bucket-pruned SELECT, time travel,
  * managed-vs-external DROP semantics.
  */
class CatalogSpec extends SparkSpec {

  private val n = new java.util.concurrent.atomic.AtomicInteger()

  /** Fresh catalog per test: the CatalogManager caches instances by
    * name, so a reused name would pin the first test's warehouse.
    */
  private def freshCatalog(): String = {
    val cat = s"gcat${n.incrementAndGet()}"
    val wh = java.nio.file.Files.createTempDirectory(s"graft_wh_$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  test("DDL round-trip: CREATE / SHOW / INSERT / SELECT / RENAME / DROP") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.accounts (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).contains("accounts"))
    // the declared schema serves before the first commit
    assert(spark.table(s"$cat.db.accounts").schema.fieldNames
      .sameElements(Array("k", "seq", "v")))
    // INSERT INTO is MERGE-upsert by key: the k=2 row at seq 20 must
    // supersede its seq-11 version, not duplicate it
    spark.sql(s"INSERT INTO $cat.db.accounts VALUES (1, 10, 1.5), (2, 11, 2.5)")
    spark.sql(s"INSERT INTO $cat.db.accounts VALUES (2, 20, 9.5), (3, 21, 3.5)")
    val rows = spark.sql(s"SELECT k, seq, v FROM $cat.db.accounts ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.sameElements(Array((1L, 10L, 1.5), (2L, 20L, 9.5), (3L, 21L, 3.5))),
      rows.toSeq.toString)
    // SHOW CREATE TABLE round-trips: the emitted DDL names the
    // provider and carries key/seq as properties, which CREATE accepts
    // as bare options — a dumped definition re-creates a working table
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.db.accounts")
      .head().getString(0)
    assert(ddl.contains("graft-merge") && ddl.contains("'key' = 'k'") &&
      ddl.contains("'seq' = 'seq'"), ddl)
    spark.sql(ddl.replace(s"$cat.db.accounts", s"$cat.db.accounts2")
      .replace("USING graft-merge", "USING `graft-merge`") // the documented backtick rule
      .replaceAll("'path' = '[^']*',?\\s*", "")) // fresh managed location
    spark.sql(s"INSERT INTO $cat.db.accounts2 VALUES (1, 1, 1.0)")
    assert(spark.table(s"$cat.db.accounts2").count() == 1L)
    // RENAME TO resolves inside the same catalog: target omits it
    spark.sql(s"ALTER TABLE $cat.db.accounts RENAME TO db.ledger")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ledger").head().getLong(0) == 3)
    spark.sql(s"DROP TABLE $cat.db.ledger")
    assert(!spark.catalog.tableExists(s"$cat.db.ledger"))
  }

  test("SQL point read drives the connector's bucket pruning") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.t (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, 1L, id * 0.5 FROM range(200)")
    val df = spark.sql(s"SELECT k, v FROM $cat.db.t WHERE k IN (7, 23)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMergeScan"), plan)
    assert(plan.contains("pushed=[In(k"),
      s"key predicate did not reach the catalog-loaded scan:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(got.sameElements(Array((7L, 3.5), (23L, 11.5))), got.toSeq.toString)
  }

  test("SQL point read of a small table: no Spark job, no compiled class; a large one still scans") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.pt (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.pt SELECT id, 1L, id * 0.5 FROM range(200)")
    def point(k: Long) =
      spark.sql(s"SELECT k, v FROM $cat.db.pt WHERE k = $k").collect()
    // a first read compiles the row deserializer of this result schema
    // once; every new key after it must compile nothing
    assert(point(3L).map(_.getDouble(1)).toSeq == Seq(1.5))
    val (rows, jobs, compiled) = jobsAndCompiles(point(41L))
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((41L, 20.5)), rows.toSeq.toString)
    assert(jobs == 0, s"SQL point read ran $jobs Spark jobs")
    assert(compiled == 0, s"SQL point read compiled $compiled classes")
    val plan = spark.sql(s"SELECT k, v FROM $cat.db.pt WHERE k = 7")
      .queryExecution.executedPlan
    assert(plan.collectFirst { case d: graft.plans.DriverReadExec => d }
      .isDefined, plan.toString)
    // above the size bound the same shape of read runs as a job: 64 keys
    // across a table of incompressible payload
    spark.sql(
      s"""CREATE TABLE $cat.db.big (k BIGINT, seq BIGINT, a STRING, b STRING)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.db.big SELECT id, 1L,
                 |md5(CAST(id AS STRING)), sha1(CAST(id AS STRING))
                 |FROM range(150000)""".stripMargin)
    val big = spark.sql(
      s"SELECT k, a FROM $cat.db.big WHERE k IN (${(0 until 64).mkString(", ")})")
    val bigPlan = big.queryExecution.executedPlan
    val scan = bigPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.isDefined, s"a key-pinned read above the bound:\n$bigPlan")
    val planned = scan.get.scan.reportDriverMetrics()
      .find(_.name() == "plannedBytes").get.value()
    assert(planned > graft.sources.GraftMergeScan.DriverReadMaxBytes,
      s"precondition: planned $planned bytes exceed the driver bound")
    assert(big.collect().map(_.getLong(0)).sorted.toSeq == (0L until 64L))
  }

  test("time travel via SQL VERSION AS OF") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.tt (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (1, 10, 1.0)")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (1, 20, 2.0)")
    val now = spark.sql(s"SELECT v FROM $cat.db.tt").head().getDouble(0)
    val then = spark.sql(s"SELECT v FROM $cat.db.tt VERSION AS OF 0")
      .head().getDouble(0)
    assert(now == 2.0 && then == 1.0, s"now=$now then=$then")
  }

  test("CALL evolve_partition: days -> hours on a live SQL table, both generations serve") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.ev (uid BIGINT, ts TIMESTAMP, seq BIGINT, v DOUBLE)
         |USING `graft-merge`
         |OPTIONS (key 'uid,ts', seq 'seq', buckets '2')
         |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(s"CALL $cat.sys.set_history_keep('db.ev', 8)")
    spark.sql(
      s"""INSERT INTO $cat.db.ev
         |SELECT id, TIMESTAMP '2024-02-01 00:30:00' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0), 1L, id * 1.0
         |FROM range(48)""".stripMargin)
    val off = spark
      .sql(s"CALL $cat.sys.evolve_partition('db.ev', 'hours', 2)")
      .head().getInt(0)
    assert(off > 0)
    spark.sql(
      s"""INSERT INTO $cat.db.ev
         |SELECT id + 100, TIMESTAMP '2024-02-03 00:30:00' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0), 1L, id * 2.0
         |FROM range(48)""".stripMargin)
    // both generations answer one query; predicates prune each at its
    // own granularity
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ev").head().getLong(0) == 96)
    assert(spark.sql(
      s"""SELECT count(*) FROM $cat.db.ev
         |WHERE ts < TIMESTAMP '2024-02-02 00:00:00'""".stripMargin)
      .head().getLong(0) == 24)
    assert(spark.sql(
      s"""SELECT count(*) FROM $cat.db.ev
         |WHERE ts >= TIMESTAMP '2024-02-04 12:00:00'""".stripMargin)
      .head().getLong(0) == 12)
    // a second CALL with the same layout is an idempotent no-op
    assert(spark.sql(s"CALL $cat.sys.evolve_partition('db.ev', 'hours', 2)")
      .head().getInt(0) == off)
    // DML across generations: UPDATE an old-generation row migrates
    // its bucket, row count and values stay exact
    spark.sql(
      s"""UPDATE $cat.db.ev SET v = 999.0, seq = 9
         |WHERE uid = 5""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ev").head().getLong(0) == 96)
    assert(spark.sql(s"SELECT v FROM $cat.db.ev WHERE uid = 5")
      .head().getDouble(0) == 999.0)
  }

  test("external tables keep their data on DROP; managed tables do not") {
    val cat = freshCatalog()
    val ext = java.nio.file.Files.createTempDirectory("graft_ext_tbl").toString
    val s2 = spark
    import s2.implicits._
    MergeSink.upsertBatch(
      Seq((1L, 10L, 1.0)).toDF("k", "seq", "v"), ext, "k", "seq", 0L, "ex")
    // register EXISTING data as an external SQL table
    spark.sql(
      s"""CREATE TABLE $cat.db.ext (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq', path '$ext')""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ext").head().getLong(0) == 1)
    spark.sql(s"DROP TABLE $cat.db.ext")
    assert(MergeSink.currentState(spark, ext).isDefined,
      "DROP of an external table removed its data")
    // managed: data lives under the warehouse and dies with the table
    spark.sql(
      s"""CREATE TABLE $cat.db.mng (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.mng VALUES (1, 10, 1.0)")
    val dataPath = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/mng")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(dataPath), "managed data not under the warehouse")
    spark.sql(s"DROP TABLE $cat.db.mng")
    assert(!fs.exists(dataPath), "DROP of a managed table kept its data")
  }

  test("CREATE TABLE validates merge options against the declared schema") {
    val cat = freshCatalog()
    val noKey = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.db.bad (k BIGINT, seq BIGINT)
           |USING `graft-merge` OPTIONS (seq 'seq')""".stripMargin)
    }
    assert(noKey.getMessage.contains("key"), noKey.getMessage)
    val badCol = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.db.bad2 (k BIGINT, seq BIGINT)
           |USING `graft-merge` OPTIONS (key 'nope', seq 'seq')""".stripMargin)
    }
    assert(badCol.getMessage.contains("nope"), badCol.getMessage)
    // duplicate CREATE fails; IF NOT EXISTS is quiet
    spark.sql(
      s"""CREATE TABLE $cat.db.once (k BIGINT, seq BIGINT)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.db.once (k BIGINT, seq BIGINT)
           |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    }
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $cat.db.once (k BIGINT, seq BIGINT)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
  }

  test("SQL DELETE tombstones matching keys; newer upserts resurrect") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.d (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.db.d VALUES (1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)")
    spark.sql(s"DELETE FROM $cat.db.d WHERE k >= 2")
    val after = spark.sql(s"SELECT k FROM $cat.db.d")
      .collect().map(_.getLong(0)).sorted
    assert(after.sameElements(Array(1L)), after.toSeq.toString)
    // the tombstone is an EVENT, not an erasure: it is physically
    // retained (CDC read sees it) and a strictly newer upsert wins
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/d").toString
    val cdcRows = spark.read.format("graft-merge")
      .option("path", path).option("cdc", "true").load()
      .filter(org.apache.spark.sql.functions.col(MergeSink.DeletedCol))
      .count()
    assert(cdcRows == 2L, s"expected 2 retained tombstones, saw $cdcRows")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (2, 99, 9.9)")
    val resurrected = spark.sql(s"SELECT k FROM $cat.db.d")
      .collect().map(_.getLong(0)).sorted
    assert(resurrected.sameElements(Array(1L, 2L)), resurrected.toSeq.toString)
    // a DELETE matching nothing commits nothing
    val commits = MergeSink.commits(spark, path)
    spark.sql(s"DELETE FROM $cat.db.d WHERE k = 777")
    assert(MergeSink.commits(spark, path) == commits,
      "no-op DELETE advanced the commit log")
    // TRUNCATE drains the table through the same tombstone path
    spark.sql(s"TRUNCATE TABLE $cat.db.d")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d").head().getLong(0) == 0L)
  }

  test("MERGE INTO runs as a delta write: update/insert/delete arms all land") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    spark.sql(
      s"""CREATE TABLE $cat.db.m (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.db.m VALUES (1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)")
    Seq((2L, 11L, 9.9), (4L, 11L, 4.4))
      .toDF("k", "seq", "v").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $cat.db.m t USING merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v, seq = s.seq
         |WHEN NOT MATCHED THEN INSERT (k, seq, v) VALUES (s.k, s.seq, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN DELETE""".stripMargin)
    val rows = spark.sql(s"SELECT k, v FROM $cat.db.m ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // k=1 untouched, k=2 updated, k=3 deleted, k=4 inserted
    assert(rows.sameElements(Array((1L, 1.0), (2L, 9.9), (4L, 4.4))),
      rows.toSeq.toString)
    // the update WON deterministically: its seq out-sequenced the
    // stored copy even though s.seq (11) only just exceeded it
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/m").toString
    val seq2 = MergeSink.currentState(spark, path).get
      .filter(col("k") === 2L).head().getLong(1)
    assert(seq2 >= 11L, s"update row's seq: $seq2")
    // the MERGE delete is a retained tombstone, like every delete here
    val tombs = spark.read.format("graft-merge")
      .option("path", path).option("cdc", "true").load()
      .filter(col(MergeSink.DeletedCol)).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(tombs == Set(3L), s"tombstones: $tombs")
  }

  test("MERGE with a no-op source commits nothing; UPDATE bumps seq to win") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    spark.sql(
      s"""CREATE TABLE $cat.db.u (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.u VALUES (1, 10, 1.0), (2, 10, 2.0)")
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/u").toString
    val before = MergeSink.commits(spark, path)
    Seq.empty[(Long, Long, Double)].toDF("k", "seq", "v")
      .createOrReplaceTempView("merge_empty")
    spark.sql(
      s"""MERGE INTO $cat.db.u t USING merge_empty s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(MergeSink.commits(spark, path) == before,
      "empty MERGE minted a table version")
    // SQL UPDATE without touching seq: the delta writer bumps it so
    // the new value wins the latest-by-seq race against the stored row
    spark.sql(s"UPDATE $cat.db.u SET v = v * 10 WHERE k = 1")
    val r = spark.sql(s"SELECT seq, v FROM $cat.db.u WHERE k = 1").head()
    assert(r.getDouble(1) == 10.0, r.toString)
    assert(r.getLong(0) == 11L, s"seq not bumped: ${r.getLong(0)}")
    // and a DELETE whose predicate the V1 grammar can't express still
    // works (row-level path), leaving the translatable fast path intact
    spark.sql(
      s"DELETE FROM $cat.db.u WHERE k IN (SELECT k FROM $cat.db.u WHERE v > 5)")
    val left = spark.sql(s"SELECT k FROM $cat.db.u").collect().map(_.getLong(0))
    assert(left.sameElements(Array(2L)), left.toSeq.toString)
  }

  test("UPDATE reassigning the merge key tombstones the old identity") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.rk (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.rk VALUES (1, 10, 1.0), (2, 10, 2.0)")
    // k=1 moves to k=100: without the old-key tombstone BOTH rows stay
    // visible (silent duplication of table state)
    spark.sql(s"UPDATE $cat.db.rk SET k = k + 99 WHERE k = 1")
    val rows = spark.sql(s"SELECT k, v FROM $cat.db.rk ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.sameElements(Array((2L, 2.0), (100L, 1.0))),
      rows.toSeq.toString)
    // the move is a real delete event under the old key, CDC-visible
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/rk").toString
    val tombs = spark.read.format("graft-merge")
      .option("path", path).option("cdc", "true").load()
      .filter(col(MergeSink.DeletedCol)).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(tombs == Set(1L), s"tombstones: $tombs")
  }

  test("DROP NAMESPACE CASCADE removes managed tables' data directories") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.gone (k BIGINT, seq BIGINT)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.gone VALUES (1, 10)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val dataPath = new org.apache.hadoop.fs.Path(wh, "_data/db/gone")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(dataPath))
    spark.sql(s"DROP NAMESPACE $cat.db CASCADE")
    assert(!fs.exists(dataPath),
      "cascade-drop of the namespace orphaned managed table data")
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES round-trips; identity stays immutable") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.p (k BIGINT, seq BIGINT)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"ALTER TABLE $cat.db.p SET TBLPROPERTIES ('team' = 'graft', 'tier' = 'gold')")
    def props(): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $cat.db.p").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val p1 = props()
    assert(p1.get("team").contains("graft") && p1.get("tier").contains("gold"), p1)
    spark.sql(s"ALTER TABLE $cat.db.p UNSET TBLPROPERTIES ('tier')")
    assert(!props().contains("tier"))
    // the table still reads after property edits
    spark.sql(s"INSERT INTO $cat.db.p VALUES (1, 10)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p").head().getLong(0) == 1L)
    // identity properties reject loudly
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.p SET TBLPROPERTIES ('key' = 'seq')")
    }
    assert(e1.getMessage.contains("immutable"), e1.getMessage)
    // destructive schema changes stay rejected with the documented
    // reason: key/seq are the table's physical identity even now that
    // RENAME/DROP COLUMN exist for data columns; LOSSY type changes
    // stay rejected (safe widening is a separate, supported path)
    for (bad <- Seq(
        s"ALTER TABLE $cat.db.p DROP COLUMN seq",
        s"ALTER TABLE $cat.db.p RENAME COLUMN seq TO s2",
        s"ALTER TABLE $cat.db.p ALTER COLUMN seq TYPE DOUBLE")) {
      val e2 = intercept[Exception] { spark.sql(bad) }
      assert(e2.getMessage.contains("physical identity") ||
        e2.getMessage.contains("key/seq") ||
        e2.getMessage.contains("not a safe widening") ||
        e2.getMessage.contains("unsupported ALTER TABLE"),
        s"$bad: ${e2.getMessage}")
    }
  }

  test("snapshot retention from SQL: TBLPROPERTIES and CALL set_history_keep reach the GC") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.hk (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"ALTER TABLE $cat.db.hk SET TBLPROPERTIES ('history_keep' = '4')")
    (0 to 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.hk VALUES ($i, ${10 + i}, $i.5)")
    }
    // keep=4 after 5 commits: v0 collected, v1..v4 travelable
    val hist = spark.sql(s"SELECT version FROM $cat.db.hk.history")
      .collect().map(_.getLong(0)).sorted
    assert(hist.sameElements(Array(1L, 2L, 3L, 4L)), hist.toSeq.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.hk VERSION AS OF 1")
      .head().getLong(0) == 2L)
    // the procedure form tightens it back; next commit shrinks the window
    spark.sql(s"CALL $cat.sys.set_history_keep('db.hk', 2)")
    spark.sql(s"INSERT INTO $cat.db.hk VALUES (9, 99, 9.5)")
    val after = spark.sql(s"SELECT version FROM $cat.db.hk.history")
      .collect().map(_.getLong(0)).sorted
    assert(after.sameElements(Array(4L, 5L)), after.toSeq.toString)
    // UNSET restores the default depth (2)
    spark.sql(s"ALTER TABLE $cat.db.hk UNSET TBLPROPERTIES ('history_keep')")
    assert(graft.streaming.MergeSink.historyKeep(
      spark,
      spark.sql(s"SHOW TBLPROPERTIES $cat.db.hk").collect()
        .find(_.getString(0) == "path").get.getString(1)) == 2)
  }

  test("a cdc-property table is the commit-log view: batch sees the retained log") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    val ext = java.nio.file.Files.createTempDirectory("graft_cdcview_tbl").toString
    MergeSink.upsertBatch(
      Seq((1L, 10L, false), (2L, 10L, false)).toDF("k", "seq", MergeSink.DeletedCol),
      ext, "k", "seq", 0L, "cv")
    MergeSink.upsertBatch(
      Seq((2L, 20L, true)).toDF("k", "seq", MergeSink.DeletedCol),
      ext, "k", "seq", 1L, "cv")
    spark.sql(
      s"""CREATE TABLE $cat.db.live (k BIGINT, seq BIGINT)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq', path '$ext')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.db.log (k BIGINT, seq BIGINT)
         |USING `graft-merge`
         |OPTIONS (key 'k', seq 'seq', path '$ext', cdc 'true')""".stripMargin)
    // live view hides the tombstoned key; log view retains it, tagged
    assert(spark.sql(s"SELECT k FROM $cat.db.live").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    val log = spark.table(s"$cat.db.log")
    assert(log.columns.contains("_version") && log.columns.contains(MergeSink.DeletedCol),
      log.columns.mkString(","))
    val dead = log.filter(col(MergeSink.DeletedCol)).select("k", "_version")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dead.sameElements(Array((2L, 1L))), dead.toSeq.toString)
  }

  test("catalog schema follows committed CDC evolution past the declaration") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    spark.sql(
      s"""CREATE TABLE $cat.db.ev (k BIGINT, seq BIGINT)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (1, 10)")
    // a library-side CDC batch adds a column the declaration lacks
    val meta = spark.sql(s"SELECT k FROM $cat.db.ev") // force load once
    meta.collect()
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/ev").toString
    MergeSink.upsertBatch(
      Seq((2L, 20L, "x")).toDF("k", "seq", "tag"), path, "k", "seq", 1L, "evo")
    assert(spark.table(s"$cat.db.ev").schema.fieldNames.contains("tag"),
      "catalog served the stale declared schema after CDC evolution")
  }

  test("INSERT OVERWRITE replaces the table state as a new time-travelable version") {
    val cat = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ow (k BIGINT, seq BIGINT, v DOUBLE) " +
      "USING `graft-merge` OPTIONS (key 'k', seq 'seq')")
    spark.sql(s"INSERT INTO $cat.db.ow SELECT id, 10, id * 1.0 FROM range(30)")
    spark.sql(s"INSERT INTO $cat.db.ow VALUES (5, 20, 99.0)")
    // overwrite with a smaller, duplicate-keyed load (dedup latest-wins)
    spark.sql(
      s"""INSERT OVERWRITE $cat.db.ow
         |SELECT id % 3, id, id * 1.0 FROM range(9)""".stripMargin)
    val st = spark.table(s"$cat.db.ow").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(st == Seq((0L, 6L), (1L, 7L), (2L, 8L)), st.toString)
    // the pre-overwrite snapshot still answers (one-version retention)
    val prev = spark.sql(s"SELECT count(*) FROM $cat.db.ow VERSION AS OF 1")
      .head().getLong(0)
    assert(prev == 30L, s"pre-overwrite snapshot lost: $prev")
    // upserts continue on top of the overwritten state
    spark.sql(s"INSERT INTO $cat.db.ow VALUES (1, 100, 1.0)")
    assert(spark.table(s"$cat.db.ow").count() == 3L)
    assert(spark.sql(s"SELECT seq FROM $cat.db.ow WHERE k = 1")
      .head().getLong(0) == 100L)
  }

  test("CREATE TABLE AS SELECT creates and merge-loads in one statement") {
    val cat = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.src (k BIGINT, seq BIGINT, v DOUBLE) " +
      "USING `graft-merge` OPTIONS (key 'k', seq 'seq')")
    spark.sql(s"INSERT INTO $cat.db.src SELECT id, 10, id * 1.0 FROM range(20)")
    // CTAS: the duplicate-keyed source collapses latest-wins on load
    spark.sql(
      s"""CREATE TABLE $cat.db.dst USING `graft-merge`
         |OPTIONS (key 'k', seq 'seq') AS
         |SELECT k, seq + CAST(k % 2 AS BIGINT) * 10 AS seq, v * 2 AS v
         |FROM $cat.db.src""".stripMargin)
    val dst = spark.table(s"$cat.db.dst").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dst.size == 20 && dst.forall { case (k, s) =>
      s == (if (k % 2 == 1) 20L else 10L) }, dst.toString)
    assert(spark.sql(s"SELECT version FROM $cat.db.dst.history").count() == 1L)
  }

  test("atomic CTAS: a failed SELECT leaves NO table; RTAS replaces atomically") {
    val cat = freshCatalog()
    // failed CTAS: raise_error fires mid-write -> no catalog entry, no
    // orphaned managed data dir (the staged-create abort cleans it)
    intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.db.boom USING `graft-merge`
           |OPTIONS (key 'k', seq 'seq') AS
           |SELECT id AS k, 1L AS seq,
           |  CASE WHEN id > 5 THEN raise_error('ctas boom') ELSE 'x' END AS v
           |FROM range(20)""".stripMargin)
    }
    assert(!spark.catalog.tableExists(s"$cat.db.boom"),
      "failed CTAS left a table behind")
    // REPLACE TABLE AS SELECT: new rows, REDEFINED schema (v dropped,
    // w added), same key/seq; the pre-replace snapshot stays
    // time-travelable (replace = overwrite commit, not erasure)
    spark.sql(s"CREATE TABLE $cat.db.r (k BIGINT, seq BIGINT, v DOUBLE) " +
      "USING `graft-merge` OPTIONS (key 'k', seq 'seq')")
    spark.sql(s"INSERT INTO $cat.db.r SELECT id, 10, id * 1.0 FROM range(10)")
    spark.sql(
      s"""REPLACE TABLE $cat.db.r USING `graft-merge`
         |OPTIONS (key 'k', seq 'seq') AS
         |SELECT id AS k, 20L AS seq, concat('w', id) AS w
         |FROM range(3)""".stripMargin)
    val replaced = spark.table(s"$cat.db.r")
    assert(replaced.schema.fieldNames.sorted.sameElements(
      Array("k", "seq", "w")),
      s"replace did not redefine schema: ${replaced.schema.fieldNames.toSeq}")
    assert(replaced.count() == 3L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.r VERSION AS OF 0")
      .head().getLong(0) == 10L, "pre-replace snapshot lost")
    // ... and the snapshot serves its OWN recorded schema, not the
    // redefined head's: v (dropped by the replace) stays readable,
    // w (added by it) doesn't exist there
    val v0 = spark.sql(s"SELECT * FROM $cat.db.r VERSION AS OF 0")
    assert(v0.schema.fieldNames.sorted.sameElements(Array("k", "seq", "v")),
      s"time travel served the head schema: ${v0.schema.fieldNames.toSeq}")
    assert(v0.agg(sum("v")).head().getDouble(0) == 45.0)
    // identity stays immutable through REPLACE
    val e = intercept[Exception] {
      spark.sql(
        s"""REPLACE TABLE $cat.db.r USING `graft-merge`
           |OPTIONS (key 'seq', seq 'k') AS
           |SELECT 1L AS k, 1L AS seq FROM range(1)""".stripMargin)
    }
    assert(e.getMessage.contains("physical identity"), e.getMessage)
    // CREATE OR REPLACE on a missing table creates it
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.db.cor USING `graft-merge`
         |OPTIONS (key 'k', seq 'seq') AS
         |SELECT id AS k, 1L AS seq FROM range(5)""".stripMargin)
    assert(spark.table(s"$cat.db.cor").count() == 5L)
    // failed RTAS keeps the old definition AND rows visible
    intercept[Exception] {
      spark.sql(
        s"""REPLACE TABLE $cat.db.cor USING `graft-merge`
           |OPTIONS (key 'k', seq 'seq') AS
           |SELECT id AS k, 2L AS seq,
           |  CASE WHEN id > 2 THEN raise_error('rtas boom') ELSE 'y' END AS z
           |FROM range(9)""".stripMargin)
    }
    assert(spark.table(s"$cat.db.cor").count() == 5L,
      "failed RTAS disturbed the table")
  }

  test("metadata tables: t.history and t.files answer from markers + manifests") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.mt (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.mt SELECT id, 10, id * 1.0 FROM range(40)")
    spark.sql(s"INSERT INTO $cat.db.mt VALUES (1, 20, 9.0), (100, 20, 5.0)")
    val hist = spark.sql(
      s"SELECT version, run_id, buckets, rows FROM $cat.db.mt.history ORDER BY version")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(hist.forall(_.getString(1).nonEmpty))
    // v1 carries all of v0's buckets plus any new ones; rows total grows
    // by the one genuinely new key (k=100; k=1 is superseded in place)
    assert(hist(1).getLong(3) == hist(0).getLong(3) + 1,
      hist.mkString(";"))
    val files = spark.sql(
      s"""SELECT count(*) AS n, CAST(SUM(rows) AS BIGINT) AS r,
         |  CAST(SUM(n_files) AS BIGINT) AS f, max(content_version) AS cv
         |FROM $cat.db.mt.files""".stripMargin).head()
    assert(files.getLong(1) == 41L, files.toString) // 40 keys + k=100
    assert(files.getLong(0) >= 1L && files.getLong(2) >= files.getLong(0))
    assert(files.getLong(3) == 1L)
    // committed_at is the marker clock (nonzero, ordered)
    val times = spark.sql(
      s"SELECT committed_at FROM $cat.db.mt.history ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime)
    assert(times.forall(_ > 0L) && times(0) <= times(1))
    // a metadata suffix on a missing table still fails loudly
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.db.nope.history").collect())
  }

  test("TIMESTAMP AS OF resolves by commit-marker wall time (catalog SQL + connector option)") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.tt (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (1, 10, 1.0), (2, 10, 2.0)")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (2, 20, 22.0), (3, 20, 3.0)")
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/tt")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // pin commit wall times deterministically: v0 at t0, v1 a minute on
    val t0 = 1700000000000L
    fs.listStatus(path).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_commit_v0")) fs.setTimes(st.getPath, t0, t0)
      if (n.startsWith("_commit_v1")) fs.setTimes(st.getPath, t0 + 60000L, t0 + 60000L)
    }
    def keysAt(expr: String): Seq[(Long, Long)] =
      spark.sql(s"SELECT k, seq FROM $cat.db.tt TIMESTAMP AS OF $expr ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // between the commits: only v0's state
    assert(keysAt(s"timestamp_millis(${t0 + 30000L})") == Seq((1L, 10L), (2L, 10L)))
    // after both: the merged head
    assert(keysAt(s"timestamp_millis(${t0 + 90000L})") ==
      Seq((1L, 10L), (2L, 20L), (3L, 20L)))
    // before any commit: loud failure
    intercept[Exception](keysAt(s"timestamp_millis(${t0 - 1L})"))
    // connector option form, epoch-millis string
    val viaOpt = spark.read.format("graft-merge")
      .option("path", path.toString).option("key", "k")
      .option("timestampAsOf", (t0 + 30000L).toString).load()
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(viaOpt == Seq(1L, 2L))
  }

  test("CALL procedures: compact / compact_incremental / expire_tombstones / set_bloom_index from SQL") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    spark.sql(
      s"""CREATE TABLE $cat.db.m (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.m SELECT id, 10, id * 0.5 FROM range(64)")
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "_data/db/m").toString
    val preState = spark.table(s"$cat.db.m").orderBy("k").collect().toSeq

    // full compaction to 4 buckets, reported
    val c = spark.sql(s"CALL $cat.sys.compact('db.m', 4)").head()
    assert(c.getInt(0) == 4, c.toString)
    assert(MergeSink.currentFiles(spark, path).size == 4)
    val baseV = MergeSink.lastCommit(spark, path).get.version

    // dirty two keys, then incremental compaction rewrites only their buckets
    spark.sql(s"INSERT INTO $cat.db.m VALUES (3, 20, 9.0), (5, 20, 9.0)")
    val ci = spark.sql(
      s"CALL $cat.sys.compact_incremental('db.m', $baseV)").head()
    assert(ci.getInt(0) >= 1 && ci.getInt(0) < 4, ci.toString)

    // bloom index declaration lands in the sidecar
    val bi = spark.sql(s"CALL $cat.sys.set_bloom_index('db.m', 'v:1000')").head()
    assert(bi.getInt(0) == 1)
    assert(MergeSink.bloomIndexCols(spark, path) == Seq(("v", Some(1000L))))

    // tombstone a key, then expire it via CALL
    spark.sql(s"DELETE FROM $cat.db.m WHERE k = 7")
    val rawDead = () => spark.read.option("mergeSchema", true)
      .parquet(MergeSink.currentFiles(spark, path).values.flatten.toSeq: _*)
      .filter(col(MergeSink.DeletedCol)).count()
    assert(rawDead() == 1L)
    val ex = spark.sql(s"CALL $cat.sys.expire_tombstones('db.m', 1000000)").head()
    assert(ex.getInt(0) >= 1, ex.toString)
    assert(rawDead() == 0L, "tombstone survived expiry")

    // state through it all: latest-wins minus the deleted key
    val post = spark.table(s"$cat.db.m").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = preState
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filterNot(_._1 == 7L)
      .map { case (k, s, v) =>
        if (k == 3L || k == 5L) (k, 20L, 9.0) else (k, s, v) }
    assert(post == expected)

    // unknown procedure fails loudly
    intercept[Exception](
      spark.sql(s"CALL $cat.sys.defragment('db.m')").collect())
  }

  test("writeStream.toTable upserts into a catalog table by pure SQL identifier") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    spark.sql(
      s"""CREATE TABLE $cat.db.st (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.st VALUES (1, 10, 1.0), (2, 10, 2.0)")
    val src = java.nio.file.Files.createTempDirectory("cat_st_src").toString
    val ck = java.nio.file.Files.createTempDirectory("cat_st_ck").toString
    // the arriving batch supersedes k=2 and inserts k=3
    Seq((2L, 20L, 22.0), (3L, 20L, 3.0)).toDF("k", "seq", "v")
      .repartition(1).write.mode("append").parquet(src)
    import org.apache.spark.sql.types._
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("seq", LongType), StructField("v", DoubleType))))
      .parquet(src)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat.db.st")
    q.awaitTermination()
    val st = spark.table(s"$cat.db.st").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(st == Seq((1L, 10L, 1.0), (2L, 20L, 22.0), (3L, 20L, 3.0)),
      st.toString)
  }

  test("FunctionCatalog: damerau/xxbucket resolve through SQL, nulls flow, unknown names fail loudly") {
    val cat = freshCatalog()
    // known distances: one transposition = 1 edit; and the unrestricted
    // variant's signature case ("ca" -> "abc" = 2, not 3)
    val r = spark.sql(
      s"""SELECT $cat.db.damerau('abcdef', 'abdcef') AS t,
         |       $cat.db.damerau('ca', 'abc') AS u,
         |       $cat.db.damerau(NULL, 'x') AS n""".stripMargin).head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 2 && r.isNullAt(2), r.toString)
    // column-wise equality with the native Catalyst expression
    val s2 = spark
    import s2.implicits._
    val names = (1 to 200).map(i => s"Customer#$i").toDF("a")
    names.createOrReplaceTempView("fn_tv")
    val viaSql = spark.sql(
      s"SELECT $cat.db.damerau(a, 'Customer#150') AS d FROM fn_tv ORDER BY a")
      .collect().map(_.getInt(0)).toSeq
    val viaExpr = names
      .select(graft.plans.DamerauLevenshtein.damerau(col("a"), lit("Customer#150")).as("d"))
      .orderBy("a").collect().map(_.getInt(0)).toSeq
    assert(viaSql == viaExpr)
    // xxbucket == the writer layout's bucket expression
    val viaFn = spark.sql(s"SELECT $cat.db.xxbucket(id, 16) AS b FROM range(500)")
      .collect().map(_.getInt(0)).toSeq
    val viaLayout = spark.range(500)
      .select(pmod(xxhash64(col("id")), lit(16)).cast("int").as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(viaFn == viaLayout)
    // discovery + loud failure
    assert(spark.sql(s"SHOW FUNCTIONS IN $cat.db").collect()
      .map(_.getString(0)).count(f => f.endsWith("damerau") || f.endsWith("xxbucket")) == 2)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(s"SELECT $cat.db.no_such_fn(1)").collect())
    // wrong arity/type rejected at bind
    intercept[Exception](
      spark.sql(s"SELECT $cat.db.damerau('a')").collect())
  }

  test("compacted tables sort-merge-join with zero shuffle AND zero sort") {
    val cat = freshCatalog()
    for (t <- Seq("sa", "sb")) {
      spark.sql(
        s"""CREATE TABLE $cat.db.$t (k BIGINT, seq BIGINT, v DOUBLE)
           |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.db.$t SELECT id, 1L, id * 1.0 FROM range(400)")
      // compaction = the sort: bucket files become key-sorted and the
      // manifest records the table-wide O flag
      spark.sql(s"CALL $cat.sys.compact('db.$t', 8)")
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      def sortsAndShuffles(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
        val plan = df.queryExecution.executedPlan
        (plan.collect { case s: org.apache.spark.sql.execution.SortExec => s }.size,
          plan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size)
      }
      val j = spark.sql(
        s"""SELECT a.k, a.v, b.v AS w FROM $cat.db.sa a
           |JOIN $cat.db.sb b ON a.k = b.k""".stripMargin)
      val (sorts, shuffles) = sortsAndShuffles(j)
      assert(shuffles == 0 && sorts == 0,
        s"expected sortless shuffle-free SMJ, got sorts=$sorts " +
          s"shuffles=$shuffles:\n${j.queryExecution.executedPlan}")
      assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        j.queryExecution.executedPlan.toString)
      assert(j.count() == 400)
      // a dirty write drops the sorted flag: the join needs sorts again
      // (still shuffle-free — bucketing survives, ordering does not)
      spark.sql(s"INSERT INTO $cat.db.sb VALUES (7, 9L, 9.9)")
      val j2 = spark.sql(
        s"""SELECT a.k, a.v, b.v AS w FROM $cat.db.sa a
           |JOIN $cat.db.sb b ON a.k = b.k""".stripMargin)
      val (sorts2, shuffles2) = sortsAndShuffles(j2)
      assert(shuffles2 == 0 && sorts2 > 0,
        s"dirty write should drop ordering only: sorts=$sorts2 " +
          s"shuffles=$shuffles2:\n${j2.queryExecution.executedPlan}")
      assert(j2.count() == 400)
    } finally {
      saved.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.fa (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.db.fb (k BIGINT, seq BIGINT, w DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.fa SELECT id, 1L, id * 0.5 FROM range(500)")
    spark.sql(s"INSERT INTO $cat.db.fb SELECT id, 1L, id * 2.0 FROM range(300)")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      def shufflesOf(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
      val j = spark.sql(
        s"""SELECT a.k, a.v, b.w FROM $cat.db.fa a
           |JOIN $cat.db.fb b ON a.k = b.k""".stripMargin)
      assert(shufflesOf(j) == 0,
        s"SPJ did not engage:\n${j.queryExecution.executedPlan}")
      val got = j.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(got.length == 300, s"join lost rows: ${got.length}")
      assert(got.forall { case (k, v, w) => v == k * 0.5 && w == k * 2.0 })
      // grouped-aggregate on the key over the join: STILL zero exchanges
      // (the clustering satisfies the aggregate's distribution too)
      val agg = spark.sql(
        s"""SELECT a.k, sum(a.v + b.w) s FROM $cat.db.fa a
           |JOIN $cat.db.fb b ON a.k = b.k GROUP BY a.k""".stripMargin)
      assert(shufflesOf(agg) == 0,
        s"join+agg re-shuffled:\n${agg.queryExecution.executedPlan}")
      // a sparse side (3 keys -> a strict subset of the buckets) still
      // joins shuffle-free: pushPartValues aligns the mismatched
      // partition-value sets instead of falling back
      spark.sql(
        s"""CREATE TABLE $cat.db.fc (k BIGINT, seq BIGINT, u DOUBLE)
           |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.db.fc SELECT id, 1L, id * 3.0 FROM range(3)")
      val sparse = spark.sql(
        s"""SELECT a.k, a.v, c.u FROM $cat.db.fa a
           |JOIN $cat.db.fc c ON a.k = c.k""".stripMargin)
      assert(shufflesOf(sparse) == 0,
        s"sparse-side SPJ fell back:\n${sparse.queryExecution.executedPlan}")
      assert(sparse.count() == 3)
      // control: conf off -> the same join shuffles both sides
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = spark.sql(
        s"""SELECT a.k, a.v, b.w FROM $cat.db.fa a
           |JOIN $cat.db.fb b ON a.k = b.k""".stripMargin)
      assert(shufflesOf(off) == 2, "control join should shuffle both sides")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // control: MISMATCHED bucket counts (fb compacted to 4) -> the
      // transforms' literals differ, Spark falls back to a correct
      // shuffled join, never a wrong co-partitioned one
      spark.sql(s"CALL $cat.sys.compact('db.fb', 4)")
      val mm = spark.sql(
        s"""SELECT a.k, a.v, b.w FROM $cat.db.fa a
           |JOIN $cat.db.fb b ON a.k = b.k""".stripMargin)
      assert(shufflesOf(mm) == 2,
        s"mismatched bucket counts must shuffle:\n${mm.queryExecution.executedPlan}")
      assert(mm.count() == 300)
    } finally {
      saved.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
  }

  test("declared admission control: maxVersionsPerTrigger rides table metadata into readStream.table") {
    val cat = freshCatalog()
    val s2 = spark
    import s2.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_cat_mvt").toString
    MergeSink.setHistoryKeep(spark, path, 10)
    (0 to 4).foreach { i =>
      MergeSink.upsertBatch(
        Seq((i.toLong, i.toLong, i * 1.0)).toDF("k", "seq", "v"),
        path, "k", "seq", i.toLong, "cmvt")
    }
    // the rate limit is DECLARED ON THE TABLE — every pure-SQL stream
    // consumer inherits it without per-query options
    spark.sql(
      s"""CREATE TABLE $cat.db.ch (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge`
         |OPTIONS (key 'k', seq 'seq', path '$path', cdc 'true',
         |  maxVersionsPerTrigger '2')""".stripMargin)
    val name = "cat_mvt_sink"
    val q = spark.readStream.table(s"$cat.db.ch")
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cat_mvt_ck").toString)
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"table-declared rate limit ignored: $batches batches")
    val versions = spark.table(name).select("_version").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(versions.sameElements(Array(0L, 1L, 2L, 3L, 4L)),
      versions.mkString(","))
    spark.catalog.dropTempView(name)
  }

  test("ALTER COLUMN TYPE widening: metadata-only, old narrow files read wide") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.w (id BIGINT, v INT, f FLOAT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'id', seq 'rv')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.w VALUES (1, 10, CAST(1.5 AS FLOAT), 1)")
    val dir = spark.sql(s"SELECT location FROM $cat.db.w.detail")
      .head().getString(0)
    val v0files = MergeSink.currentFiles(spark, dir)
    // widen: int -> bigint, float -> double — each ONE metadata commit
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN f TYPE DOUBLE")
    assert(MergeSink.currentFiles(spark, dir) == v0files,
      "widening must not rewrite any data file")
    // the catalog schema follows the committed evolution
    val sch = spark.table(s"$cat.db.w").schema
    assert(sch("v").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("f").dataType == org.apache.spark.sql.types.DoubleType)
    // a post-widening write lands values beyond int range; BOTH
    // generations read back through one scan, old files up-cast
    spark.sql(s"INSERT INTO $cat.db.w VALUES (2, 5000000000, 2.5, 2)")
    val rows = spark.sql(
      s"SELECT id, v, f FROM $cat.db.w ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 10L, 1.5), (2L, 5000000000L, 2.5)),
      rows.toSeq.toString)
    // the MERGE path reads mixed generations too: upsert key 1 (its
    // bucket still holds an int32 file) and aggregate
    spark.sql(s"INSERT INTO $cat.db.w VALUES (1, 7, 1.0, 3)")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.db.w")
      .head().getLong(0) == 5000000007L)
    // key columns stay unwidenable (hash identity)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN id TYPE DECIMAL(38,0)")
    }
    assert(e.getMessage.contains("not a safe widening") ||
      e.getMessage.contains("key"), e.getMessage)
  }

  test("maintenance procedures retry a lost claim race to success") {
    val cat = freshCatalog()
    val dir = java.nio.file.Files.createTempDirectory("graft_procrace").toString
    spark.sql(
      s"""CREATE TABLE $cat.db.t (id BIGINT, v BIGINT, rv BIGINT)
         |USING `graft-merge`
         |OPTIONS (key 'id', seq 'rv', path '$dir')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10, 1), (2, 20, 1)")
    // forced race: v1's claim is held by 'other', who commits 300 ms
    // later — the procedure must back off, recompute from the new
    // head, and land, instead of surfacing ConcurrentCommitException
    // to the scheduler
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, "_claim_v1"), false)
    out.write("other".getBytes("UTF-8")); out.close()
    val s2 = spark
    import s2.implicits._
    @volatile var helperErr: Throwable = null
    val helper = new Thread(() => {
      try {
        Thread.sleep(300)
        MergeSink.upsertBatch(
          Seq((3L, 30L, 1L)).toDF("id", "v", "rv"),
          dir, "id", "rv", 0L, "other", reRegister = true)
      } catch { case t: Throwable => helperErr = t }
    })
    helper.start()
    val written = spark.sql(s"CALL $cat.sys.compact('db.t', 2)")
      .head().getInt(0)
    helper.join()
    assert(helperErr == null, s"racing writer failed: $helperErr")
    assert(written > 0)
    // both landed: the other's insert AND the compaction rewrite —
    // and the compaction saw the other's row (recompute, not replay)
    val cs = MergeSink.commits(spark, dir)
    assert(cs.exists(_.runId == "other"), cs.toString)
    assert(spark.table(s"$cat.db.t").count() == 3L)
  }

  test("CALL restore rolls a table back through pure SQL") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.r (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"ALTER TABLE $cat.db.r SET TBLPROPERTIES ('history_keep' = '10')")
    spark.sql(s"INSERT INTO $cat.db.r VALUES (1, 10, 1.0), (2, 10, 2.0)")
    spark.sql(s"INSERT INTO $cat.db.r VALUES (1, 20, -9.9)") // bad deploy
    val v = spark.sql(s"CALL $cat.sys.restore('db.r', 0)").head().getInt(0)
    assert(v == 2, s"restored_as_version $v")
    val got = spark.sql(s"SELECT k, v FROM $cat.db.r ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(Array((1L, 1.0), (2L, 2.0))), got.toSeq.toString)
    // ANALYZE through SQL: one pass, all three columns
    assert(spark.sql(s"CALL $cat.sys.analyze('db.r')").head().getInt(0) == 3)
    // restore_ts resolves through the commit-marker clock: age v0's
    // marker to a known instant, restore to just after it — back to v0
    // (a second metadata-only rollback on top of the first)
    val path = spark.sql(s"SHOW TBLPROPERTIES $cat.db.r")
      .filter(col("key") === "path").head().getString(1)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_commit_v")) {
        val v = "_commit_v(\\d+)".r.findFirstMatchIn(n).get.group(1).toLong
        fs.setTimes(st.getPath, t0 + v * 60000L, -1L)
      }
    }
    spark.sql(s"INSERT INTO $cat.db.r VALUES (9, 99, 9.0)") // dirty again
    assert(spark.sql(
      s"CALL $cat.sys.restore_ts('db.r', '${t0 + 30000L}')")
      .head().getInt(0) > 0)
    val back = spark.sql(s"SELECT k, v FROM $cat.db.r ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.sameElements(Array((1L, 1.0), (2L, 2.0))), back.toSeq.toString)
  }

  test(".changes suffix: the CDC view of any catalog table, batch and streaming") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.ch (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    // keep the whole history replayable (default depth is 2)
    spark.sql(
      s"ALTER TABLE $cat.db.ch SET TBLPROPERTIES ('history_keep' = '5')")
    spark.sql(s"INSERT INTO $cat.db.ch VALUES (1, 10, 1.0), (2, 10, 2.0)")
    spark.sql(s"INSERT INTO $cat.db.ch VALUES (1, 20, 1.5)")
    spark.sql(s"DELETE FROM $cat.db.ch WHERE k = 2")
    // batch: the retained commit log with replay columns
    val log = spark.table(s"$cat.db.ch.changes")
    assert(log.columns.contains("_version") &&
      log.columns.contains(MergeSink.DeletedCol), log.columns.mkString(","))
    assert(log.filter(col(MergeSink.DeletedCol)).count() == 1L,
      "the DELETE's tombstone must appear in the change view")
    val versions = log.select("_version").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(versions.nonEmpty && versions.last == 2L, versions.mkString(","))
    // the base table stays a plain snapshot (no replay columns)
    assert(!spark.table(s"$cat.db.ch").columns.contains("_version"))
    // streaming: readStream.table over the suffix replays the log
    val name = "cat_changes_sink"
    val q = spark.readStream.table(s"$cat.db.ch.changes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_chg_ck").toString)
      .start()
    q.awaitTermination()
    // batch .changes serves the head manifest's buckets (latest content
    // per bucket, tombstones retained); STREAMING replays every
    // committed version's written buckets — supersets it
    val replayVersions = spark.table(name).select("_version").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(replayVersions.sameElements(Array(0L, 1L, 2L)),
      replayVersions.mkString(","))
    assert(spark.table(name).count() >= log.count(),
      "streaming replay lost rows vs the batch view")
    spark.catalog.dropTempView(name)
  }

  test(".detail metadata table and history_keep_ms TBLPROPERTY") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.dt (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.dt SELECT id, 1L, id * 1.0 FROM range(100)")
    spark.sql(s"CALL $cat.sys.compact('db.dt', 4)")
    spark.sql(s"CALL $cat.sys.set_bloom_index('db.dt', 'v')")
    spark.sql(
      s"ALTER TABLE $cat.db.dt SET TBLPROPERTIES ('history_keep_ms' = '3600000')")
    val det = spark.table(s"$cat.db.dt.detail").head()
    val m = det.schema.fieldNames.zipWithIndex.toMap
    assert(det.getLong(m("version")) == 1L, det.toString)
    assert(det.getInt(m("buckets")) == 4, det.toString)
    assert(det.getLong(m("total_rows")) == 100L, det.toString)
    assert(det.getLong(m("total_bytes")) > 0L, det.toString)
    assert(det.getInt(m("n_files")) == 4, det.toString)
    assert(det.getString(m("sorted_by")) == "k", det.toString)
    assert(det.getString(m("bloom_cols")) == "v", det.toString)
    assert(det.getInt(m("history_keep")) == 2, det.toString)
    assert(det.getLong(m("history_keep_ms")) == 3600000L, det.toString)
    assert(det.getInt(m("retained_versions")) == 2, det.toString)
    // UNSET clears the time window; detail reads NULL
    spark.sql(s"ALTER TABLE $cat.db.dt UNSET TBLPROPERTIES ('history_keep_ms')")
    val det2 = spark.table(s"$cat.db.dt.detail").head()
    assert(det2.isNullAt(m("history_keep_ms")), det2.toString)
    // the time window actually retains: depth 2 with a 1h window keeps
    // all versions of a burst of commits (set via the CALL surface)
    spark.sql(s"CALL $cat.sys.set_history_keep_ms('db.dt', 3600000)")
    for (i <- 2 to 4)
      spark.sql(s"INSERT INTO $cat.db.dt VALUES ($i, 10, 0.5)")
    assert(spark.table(s"$cat.db.dt.detail").head()
      .getInt(m("retained_versions")) == 5,
      "time window must retain the whole young burst")
    // CALL vacuum (the only parameter is the table): clearing the time
    // window and vacuuming sheds the burst back to the depth window
    // WITHOUT a commit
    spark.sql(s"CALL $cat.sys.set_history_keep_ms('db.dt', 0)")
    spark.sql(s"CALL $cat.sys.vacuum('db.dt')")
    assert(spark.table(s"$cat.db.dt.detail").head()
      .getInt(m("retained_versions")) == 2,
      "vacuum must apply retention on a quiesced table")
  }

  test("ALTER TABLE ADD COLUMN: schema-only commit, zero data rewritten") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.ev (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (1, 10, 1.5), (2, 10, 2.5)")
    val path = spark.sql(s"SHOW TBLPROPERTIES $cat.db.ev")
      .filter(col("key") === "path").head().getString(1)
    val preFiles = MergeSink.manifestFiles(
      spark, path, MergeSink.lastCommit(spark, path).get.version)
    spark.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN note STRING")
    // the evolution is a COMMIT (time travel reaches the pre-alter
    // shape's data) that rewrote NOTHING: every bucket file carried
    val post = MergeSink.lastCommit(spark, path).get.version
    assert(MergeSink.manifestFiles(spark, path, post) == preFiles,
      "schema-only commit must carry every file untouched")
    // old rows read the new column as NULL; new rows carry values
    assert(spark.table(s"$cat.db.ev").schema.fieldNames
      .sameElements(Array("k", "seq", "v", "note")))
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (3, 11, 3.5, 'fresh')")
    val got = spark.sql(
      s"SELECT k, note FROM $cat.db.ev ORDER BY k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1L, None), (2L, None), (3L, Some("fresh"))), got)
    // filters and aggregates over the evolved column work across the
    // mixed files
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.ev WHERE note IS NULL")
      .head().getLong(0) == 2L)
    // rejections: duplicates, non-nullable, nested, positioned
    for (bad <- Seq(
        s"ALTER TABLE $cat.db.ev ADD COLUMN v DOUBLE",
        s"ALTER TABLE $cat.db.ev ADD COLUMN must STRING NOT NULL",
        s"ALTER TABLE $cat.db.ev ADD COLUMN early STRING FIRST"))
      intercept[Exception] { spark.sql(bad) }
    // a never-committed table evolves its DECLARED schema (no commit)
    spark.sql(
      s"""CREATE TABLE $cat.db.empty (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.db.empty ADD COLUMN tag STRING")
    assert(spark.table(s"$cat.db.empty").schema.fieldNames
      .sameElements(Array("k", "seq", "v", "tag")))
    spark.sql(s"INSERT INTO $cat.db.empty VALUES (1, 1, 1.0, 't')")
    assert(spark.sql(s"SELECT tag FROM $cat.db.empty").head()
      .getString(0) == "t")
  }

  test("RENAME/DROP COLUMN via column mapping: metadata-only, old files readable") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.cm
         |(k BIGINT, seq BIGINT, v DOUBLE, note STRING)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(
      s"ALTER TABLE $cat.db.cm SET TBLPROPERTIES ('history_keep' = '10')")
    spark.sql(
      s"INSERT INTO $cat.db.cm VALUES (1, 1, 1.5, 'a'), (2, 1, 2.5, 'b')")
    val path = spark.sql(s"SHOW TBLPROPERTIES $cat.db.cm")
      .filter(col("key") === "path").head().getString(1)
    val filesBefore = MergeSink.currentFiles(spark, path)
    // ---- RENAME: metadata-only commit, pre-rename files serve the data
    spark.sql(s"ALTER TABLE $cat.db.cm RENAME COLUMN v TO amount")
    assert(spark.table(s"$cat.db.cm").schema.fieldNames
      .sameElements(Array("k", "seq", "amount", "note")))
    assert(MergeSink.currentFiles(spark, path) == filesBefore,
      "rename rewrote data files")
    val r0 = spark.sql(
      s"SELECT k, amount FROM $cat.db.cm ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(r0 == Seq((1L, 1.5), (2L, 2.5)),
      s"pre-rename file data not served under new name: $r0")
    // new writes use the new physical name; reads mix generations
    spark.sql(s"INSERT INTO $cat.db.cm VALUES (3, 1, 3.5, 'c')")
    val mixed = spark.sql(
      s"""SELECT count(*) AS n, sum(amount) AS total FROM $cat.db.cm
         |WHERE amount > 1.0""".stripMargin).head()
    assert(mixed.getLong(0) == 3L && mixed.getDouble(1) == 7.5, mixed.toString)
    // library read paths resolve the mapping too
    val lib = MergeSink.currentState(spark, path).get
      .select("k", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(lib == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)), lib.toString)
    // time travel serves the PRE-RENAME schema and data
    val v0 = spark.sql(s"SELECT * FROM $cat.db.cm VERSION AS OF 0")
    assert(v0.schema.fieldNames.sameElements(
      Array("k", "seq", "v", "note")),
      s"time travel must show the old name: ${v0.schema.fieldNames.toSeq}")
    assert(v0.count() == 2L)
    // collisions and identity stay rejected
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.cm RENAME COLUMN note TO v")
    } // 'v' is an alias old files still answer to
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.cm RENAME COLUMN k TO key2")
    } // key identity
    // ---- DROP: metadata-only; the name is blocked from resurrection
    spark.sql(s"ALTER TABLE $cat.db.cm DROP COLUMN note")
    assert(spark.table(s"$cat.db.cm").schema.fieldNames
      .sameElements(Array("k", "seq", "amount")))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.cm ADD COLUMN note STRING")
    }
    assert(e.getMessage.contains("compaction"),
      s"blocked re-add should point at compaction: ${e.getMessage}")
    // ---- full compaction purges stale bytes and clears the block
    spark.sql(s"CALL $cat.sys.compact('db.cm', 4)")
    // schema (and its mapping metadata) survives the rewrite
    val after = spark.sql(
      s"SELECT k, amount FROM $cat.db.cm ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)), after.toString)
    // physical files now carry ONLY current names — no v, no note
    val physCols = spark.read.parquet(
      MergeSink.currentFiles(spark, path).values.flatten.toSeq: _*)
      .columns.toSet
    assert(physCols == Set("k", "seq", "amount"),
      s"compaction left stale physical columns: $physCols")
    // the name is reusable now, and comes back EMPTY (nothing resurrects)
    spark.sql(s"ALTER TABLE $cat.db.cm ADD COLUMN note STRING")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.cm WHERE note IS NOT NULL")
      .head().getLong(0) == 0L,
      "dropped column data resurrected through a same-name re-add")
  }

  test("catalog-resolved cross-table transaction: identifiers in, atomic commit out") {
    val s2 = spark
    import s2.implicits._
    val cat = freshCatalog()
    for (t <- Seq("debits", "credits"))
      spark.sql(
        s"""CREATE TABLE $cat.db.$t (account BIGINT, seq BIGINT, cents BIGINT)
           |USING `graft-merge` OPTIONS (key 'account', seq 'seq')""".stripMargin)
    val gcat = spark.sessionState.catalogManager
      .catalog(cat).asInstanceOf[GraftCatalog]
    val minted = gcat.commitTransaction(Seq(
      "db.debits" -> Seq((1L, 1L, -500L), (2L, 1L, -250L))
        .toDF("account", "seq", "cents"),
      "db.credits" -> Seq((101L, 1L, 500L), (102L, 1L, 250L))
        .toDF("account", "seq", "cents")))
    assert(minted.toSet == Set("db.debits" -> 0L, "db.credits" -> 0L),
      minted.toString)
    // both visible through plain SQL, atomically committed
    val total = spark.sql(
      s"""SELECT CAST(SUM(cents) AS BIGINT) FROM (
         |  SELECT cents FROM $cat.db.debits
         |  UNION ALL SELECT cents FROM $cat.db.credits)""".stripMargin)
      .head().getLong(0)
    assert(total == 0L, s"conservation broken: $total")
    // unknown identifier aborts the whole transaction: nothing commits
    intercept[Exception] {
      gcat.commitTransaction(Seq(
        "db.debits" -> Seq((3L, 2L, -1L)).toDF("account", "seq", "cents"),
        "db.nope" -> Seq((3L, 2L, 1L)).toDF("account", "seq", "cents")))
    }
    assert(spark.table(s"$cat.db.debits").count() == 2L,
      "failed transaction leaked rows")
  }

  test("DROP + re-CREATE at the same managed path serves the NEW table") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.twice (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.twice VALUES (1, 1, 1.0), (2, 1, 2.0)")
    // populate the manifest cache for the managed path's version 0
    assert(spark.table(s"$cat.db.twice").count() == 2L)
    spark.sql(s"DROP TABLE $cat.db.twice")
    // same identifier -> same deterministic managed path; the old
    // table's cached manifests must not leak into the new incarnation
    spark.sql(
      s"""CREATE TABLE $cat.db.twice (k BIGINT, seq BIGINT, tag STRING)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.twice VALUES (7, 1, 'fresh')")
    val df = spark.table(s"$cat.db.twice")
    assert(df.schema.fieldNames.sameElements(Array("k", "seq", "tag")),
      s"stale schema served: ${df.schema.fieldNames.toSeq}")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((7L, 1L, "fresh")), rows.toString)
  }

  test("zone-less TIMESTAMP AS OF agrees across SQL, option, and restore_ts") {
    val cat = freshCatalog()
    spark.sql(
      s"""CREATE TABLE $cat.db.tz (k BIGINT, seq BIGINT, v DOUBLE)
         |USING `graft-merge` OPTIONS (key 'k', seq 'seq')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.tz VALUES (1, 1, 1.0)")
    Thread.sleep(1100) // marker mtimes are the commit clock (sec granularity on some FS)
    spark.sql(s"INSERT INTO $cat.db.tz VALUES (2, 2, 2.0)")
    val dRow = spark.table(s"$cat.db.tz.detail").head()
    val path = dRow.getString(
      dRow.schema.fieldNames.indexOf("location"))
    val times = MergeSink.commitTimes(spark, path)
    // a wall instant strictly between the two commits, rendered as a
    // ZONE-LESS local timestamp in a deliberately non-UTC session zone
    val midMs = (times(0L) + times(1L)) / 2
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla") // UTC+8:45
    try {
      val local = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(midMs),
        java.time.ZoneId.of("Australia/Eucla"))
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      // all three entry points must resolve the SAME version (0)
      val viaSql = spark.sql(
        s"SELECT count(*) FROM $cat.db.tz TIMESTAMP AS OF '$local'")
        .head().getLong(0)
      val viaOpt = spark.read.format("graft-merge")
        .option("path", path).option("key", "k").option("seq", "seq")
        .option("timestampAsOf", local).load().count()
      assert(viaSql == 1L, s"SQL TIMESTAMP AS OF saw $viaSql rows")
      assert(viaOpt == 1L,
        s"timestampAsOf option disagreed with SQL: $viaOpt rows " +
          "(zone-less parse must use the session timezone)")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }
}
