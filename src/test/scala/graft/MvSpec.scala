package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.MaterializedViews
import graft.sources.MaterializedViews.Agg
import graft.streaming.MergeSink

/** Materialized views: incremental refresh correctness (algebraic fold
  * and touched-group rescan), the retraction delta they ride, the
  * exactly-once replay contract, and the retention-fallback path.
  * Convergence oracle everywhere: after any refresh the view equals
  * the from-scratch aggregate of the source's head.
  */
class MvSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def df(rows: Seq[(Long, Long, Long)], rv: Long): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "grp", "v").withColumn("rv", lit(rv))
  }

  private def fullAgg(src: String, aggs: Seq[Agg]): Map[Long, Seq[Any]] =
    MergeSink.currentState(spark, src).get
      .groupBy(col("grp"))
      .agg(
        aggs.map {
          case Agg(a, "sum", c) => sum(col(c)).as(a)
          case Agg(a, "count", "*") => count(lit(1)).as(a)
          case Agg(a, "count", c) => count(col(c)).as(a)
          case Agg(a, "min", c) => min(col(c)).as(a)
          case Agg(a, "max", c) => max(col(c)).as(a)
        }.head,
        aggs.map {
          case Agg(a, "sum", c) => sum(col(c)).as(a)
          case Agg(a, "count", "*") => count(lit(1)).as(a)
          case Agg(a, "count", c) => count(col(c)).as(a)
          case Agg(a, "min", c) => min(col(c)).as(a)
          case Agg(a, "max", c) => max(col(c)).as(a)
        }.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.get))
      .toMap

  private def viewState(mv: String, aggs: Seq[Agg]): Map[Long, Seq[Any]] =
    MergeSink.currentState(spark, mv).get
      .select((col("grp") +: aggs.map(a => col(a.alias))): _*)
      .collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.get))
      .toMap

  test("changeDelta: retraction encoding nets inserts/updates/deletes") {
    val src = tmp("mv_delta_src")
    // v0: keys 1..4
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L), (4L, 1L, 40L)), 1L),
      src, "id", "rv", 0L, "load")
    // v1: update 2 (20 -> 25), delete 3, insert 5
    MergeSink.upsertBatch(
      df(Seq((2L, 0L, 25L), (5L, 2L, 50L)), 2L)
        .withColumn("__deleted", lit(false))
        .unionByName(
          df(Seq((3L, 1L, 30L)), 2L).withColumn("__deleted", lit(true))),
      src, "id", "rv", 1L, "load")
    val d = MergeSink.changeDelta(spark, src, "id", 0L, 1L).get
      .select("id", "grp", "v", "__mult")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
      .toSet
    assert(d == Set(
      (2L, 20L, -1), (2L, 25L, 1), // update = retract + assert
      (3L, 30L, -1), // delete
      (5L, 50L, 1))) // insert
    // per-group SUM(v * mult) is exactly the change to SUM(v)
    val sums = MergeSink.changeDelta(spark, src, "id", 0L, 1L).get
      .groupBy("grp").agg(sum(expr("v * __mult")).as("dv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums == Map(0L -> 5L, 1L -> -30L, 2L -> 50L))
  }

  test("changeDelta: a key inserted then deleted inside the range nets out") {
    val src = tmp("mv_net_src")
    MergeSink.setHistoryKeep(spark, src, 8)
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L)), 1L), src, "id", "rv", 0L, "load")
    MergeSink.upsertBatch( // v1: insert 9
      df(Seq((9L, 3L, 90L)), 2L), src, "id", "rv", 1L, "load")
    MergeSink.upsertBatch( // v2: delete 9 again
      df(Seq((9L, 3L, 90L)), 3L).withColumn("__deleted", lit(true)),
      src, "id", "rv", 2L, "load")
    val d = MergeSink.changeDelta(spark, src, "id", 0L, 2L)
    assert(d.forall(_.filter(col("id") === 9L).count() == 0L),
      "net-collapsed key must not appear in the range delta")
  }

  /** Spark jobs one algebraic refresh of a small 0-dim view may run. */
  private val MaxRefreshJobs = 6

  private val sumAggs =
    Seq(Agg("total", "sum", "v"), Agg("n", "count", "*"))

  test("algebraic refresh equals full recompute; vanished group tombstoned") {
    val src = tmp("mv_alg_src")
    val mv = tmp("mv_alg_v")
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L), (4L, 2L, 40L)), 1L),
      src, "id", "rv", 0L, "load")
    val g0 = MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    assert(g0 == 3L)
    assert(viewState(mv, sumAggs) == fullAgg(src, sumAggs))
    // day 2: update 1, delete BOTH rows of grp 1 (vanish), insert grp 3
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 15L), (6L, 3L, 60L)), 2L)
        .withColumn("__deleted", lit(false))
        .unionByName(
          df(Seq((3L, 1L, 30L)), 2L).withColumn("__deleted", lit(true))),
      src, "id", "rv", 1L, "load")
    val g1 = MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    assert(g1 == 3L, s"changed groups 0,1,3 — wrote $g1")
    val got = viewState(mv, sumAggs)
    assert(got == fullAgg(src, sumAggs))
    assert(!got.contains(1L), "emptied group must leave the view")
    // at head: no-op, no new commit
    val nC = MergeSink.commits(spark, mv).size
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic") == 0L)
    assert(MergeSink.commits(spark, mv).size == nC)
  }

  private val mmAggs =
    Seq(Agg("mn", "min", "v"), Agg("mx", "max", "v"), Agg("n", "count", "*"))

  test("rescan refresh recomputes min/max correctly under deletes") {
    val src = tmp("mv_rs_src")
    val mv = tmp("mv_rs_v")
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 0L, 90L), (3L, 1L, 30L)), 1L),
      src, "id", "rv", 0L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), mmAggs, "rescan") == 2L)
    // delete the current MINIMUM of grp 0 — not algebraically foldable
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L)), 2L).withColumn("__deleted", lit(true)),
      src, "id", "rv", 1L, "load")
    val g1 = MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), mmAggs, "rescan")
    assert(g1 == 1L, s"only grp 0 touched — wrote $g1")
    val got = viewState(mv, mmAggs)
    assert(got == fullAgg(src, mmAggs))
    assert(got(0L) == Seq(90L, 90L, 1L))
  }

  test("algebraic min/max: insert-only range folds, delete-bearing range rescans") {
    val src = tmp("mv_mm_src")
    val mv = tmp("mv_mm_v")
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 0L, 90L), (3L, 1L, 30L)), 1L),
      src, "id", "rv", 0L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), mmAggs, "algebraic") == 2L)
    // day 2a: pure inserts (one a new grp-0 minimum) — must FOLD
    val folds0 = MaterializedViews.minmaxFoldCount.get()
    MergeSink.upsertBatch(
      df(Seq((4L, 0L, 5L), (5L, 1L, 70L)), 2L), src, "id", "rv", 1L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), mmAggs, "algebraic") == 2L)
    assert(MaterializedViews.minmaxFoldCount.get() == folds0 + 1,
      "insert-only range must take the algebraic fold fast path")
    assert(viewState(mv, mmAggs) == fullAgg(src, mmAggs))
    assert(viewState(mv, mmAggs)(0L) == Seq(5L, 90L, 3L))
    // day 2b: delete the grp-0 minimum — must RESCAN (fold cannot undo)
    val rescans0 = MaterializedViews.minmaxRescanCount.get()
    MergeSink.upsertBatch(
      df(Seq((4L, 0L, 5L)), 3L).withColumn("__deleted", lit(true)),
      src, "id", "rv", 2L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), mmAggs, "algebraic") == 1L)
    assert(MaterializedViews.minmaxRescanCount.get() == rescans0 + 1,
      "delete-bearing range must fall back to the touched-group rescan")
    assert(viewState(mv, mmAggs) == fullAgg(src, mmAggs))
    assert(viewState(mv, mmAggs)(0L) == Seq(10L, 90L, 2L))
  }

  test("algebraic fold is NULL-safe: all-NULL deltas pass the stored sum through") {
    val s = spark
    import s.implicits._
    val src = tmp("mv_null_src")
    val mv = tmp("mv_null_v")
    def rows(t: Seq[(Long, Long, java.lang.Long)], rv: Long): DataFrame =
      t.toDF("id", "grp", "v").withColumn("rv", lit(rv))
    // v0: grp 0 holds sum 30 (plus one NULL row); grp 1 is ALL NULL
    MergeSink.upsertBatch(
      rows(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 0L, null),
        (4L, 1L, null)), 1L),
      src, "id", "rv", 0L, "load")
    val aggs = Seq(Agg("total", "sum", "v"), Agg("nv", "count", "v"))
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), aggs, "algebraic") == 2L)
    assert(viewState(mv, aggs)(1L) == Seq(null, 0L),
      "an all-NULL group stores a NULL sum (SQL SUM ignores NULLs)")
    // v1: insert a NULL row into grp 0 AND retract its NULL row —
    // the delta's sum for grp 0 is NULL; the stored 30 must survive.
    // grp 1 gains its first non-NULL value: NULL stored + 7 = 7.
    MergeSink.upsertBatch(
      rows(Seq((5L, 0L, null), (6L, 1L, 7L)), 2L)
        .withColumn("__deleted", lit(false))
        .unionByName(rows(Seq((3L, 0L, null)), 2L)
          .withColumn("__deleted", lit(true))),
      src, "id", "rv", 1L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), aggs, "algebraic") == 2L)
    val got = viewState(mv, aggs)
    assert(got == fullAgg(src, aggs),
      s"NULL-bearing delta diverged from the from-scratch aggregate: $got")
    assert(got(0L) == Seq(30L, 2L), "stored sum must survive an all-NULL delta")
    assert(got(1L) == Seq(7L, 1L), "NULL stored sum must take the delta's value")
  }

  test("algebraic sum returns to NULL when a retraction removes the last non-NULL value") {
    val s = spark
    import s.implicits._
    val src = tmp("mv_nullret_src")
    val mv = tmp("mv_nullret_v")
    MergeSink.setHistoryKeep(spark, src, 8)
    def rows(t: Seq[(Long, Long, java.lang.Long)], rv: Long): DataFrame =
      t.toDF("id", "grp", "v").withColumn("rv", lit(rv))
    // grp 0: one non-NULL (5) and one NULL row; SUM-ONLY view (no user
    // count over v — the hidden companion must carry the knowledge)
    MergeSink.upsertBatch(
      rows(Seq((1L, 0L, 5L), (2L, 0L, null)), 1L),
      src, "id", "rv", 0L, "load")
    val aggs = Seq(Agg("total", "sum", "v"))
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), aggs, "algebraic") == 1L)
    assert(viewState(mv, aggs)(0L) == Seq(5L))
    // retract the ONLY non-NULL contributor: stored 5 + delta -5 would
    // fold to 0; the true SUM over the remaining all-NULL group is NULL
    MergeSink.upsertBatch(
      rows(Seq((1L, 0L, 5L)), 2L).withColumn("__deleted", lit(true)),
      src, "id", "rv", 1L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), aggs, "algebraic") == 1L)
    val got = viewState(mv, aggs)
    assert(got == fullAgg(src, aggs),
      s"retraction-to-all-NULL diverged from the from-scratch aggregate: $got")
    assert(got(0L) == Seq(null),
      "the stored sum must return to NULL, not the additive residue 0")
  }

  test("join view: delta-join IVM converges under fact AND dim changes; avg derived") {
    val s = spark
    import s.implicits._
    val fact = tmp("mvj_fact")
    val dim = tmp("mvj_dim")
    val mv = tmp("mvj_v")
    MergeSink.setHistoryKeep(spark, fact, 8)
    MergeSink.setHistoryKeep(spark, dim, 8)
    def factRows(t: Seq[(Long, Long, Long)], rv: Long): DataFrame =
      t.toDF("id", "gid", "v").withColumn("rv", lit(rv))
    def dimRows(t: Seq[(Long, String)], drv: Long): DataFrame =
      t.toDF("gid", "cat").withColumn("drv", lit(drv))
    // v0: facts over gids 1..3; dim maps 1,2 -> "a", 3 -> "b"
    MergeSink.upsertBatch(
      factRows(Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L),
        (4L, 3L, 40L)), 1L),
      fact, "id", "rv", 0L, "load")
    MergeSink.upsertBatch(
      dimRows(Seq((1L, "a"), (2L, "a"), (3L, "b")), 1L),
      dim, "gid", "drv", 0L, "load")
    val aggs = Seq(Agg("total", "sum", "v"), Agg("n", "count", "*"),
      Agg("m", "avg", "v"))
    def oracle(): Map[String, (Long, Long, Double)] =
      MergeSink.currentState(spark, fact).get.as("f")
        .join(MergeSink.currentState(spark, dim).get.as("dm"),
          col("f.gid") === col("dm.gid"))
        .groupBy(col("cat"))
        .agg(sum(col("v")).as("t"), count(lit(1)).as("n"),
          (sum(col("v")).cast("double") / count(col("v"))).as("m"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
    def view(): Map[String, (Long, Long, Double)] =
      MergeSink.currentState(spark, mv).get
        .select(col("cat"), col("total"), col("n"), col("m"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
    def refresh(): Long = MaterializedViews.refreshDir(
      spark, fact, "id", mv, Seq("cat"), aggs, "algebraic",
      dims = Seq(MaterializedViews.StarDim(dim, "gid", "gid", "gid")))
    // wait: fk and pk share the name 'gid' -> ambiguous on the view
    // columns? no — 'gid' is not a view column (group is 'cat')
    assert(refresh() == 2L) // cats a, b
    assert(view() == oracle())
    // day 2a: FACT changes — update id 1 (10->15), delete id 3,
    // insert id 5 into gid 3 ("b")
    MergeSink.upsertBatch(
      factRows(Seq((1L, 1L, 15L), (5L, 3L, 50L)), 2L)
        .withColumn("__deleted", lit(false))
        .unionByName(factRows(Seq((3L, 2L, 30L)), 2L)
          .withColumn("__deleted", lit(true))),
      fact, "id", "rv", 1L, "load")
    assert(refresh() == 2L) // both cats touched
    assert(view() == oracle(), "fact delta diverged")
    // day 2b: DIM changes — gid 2 recategorizes a->b; gid 3 deleted
    // (its facts drop out of the inner join)
    MergeSink.upsertBatch(
      dimRows(Seq((2L, "b")), 2L).withColumn("__deleted", lit(false))
        .unionByName(dimRows(Seq((3L, "b")), 2L)
          .withColumn("__deleted", lit(true))),
      dim, "gid", "drv", 1L, "load")
    // gid 2 has NO live facts (id 3 deleted in day 2a), so its
    // recategorization moves nothing; gid 3's deletion retracts id 5
    // from cat b, whose live count hits 0 -> tombstoned. ONE group.
    assert(refresh() == 1L)
    assert(view() == oracle(), "dim delta (F-old ⋈ ΔD) diverged")
    assert(!view().contains("b"), "emptied category must leave the view")
    // at both heads: no-op; replay of the last commit is idempotent
    assert(refresh() == 0L)
    val nC = MergeSink.commits(spark, mv).size
    assert(refresh() == 0L)
    assert(MergeSink.commits(spark, mv).size == nC)
  }

  test("autoRefreshMv: a source commit advances dependent views in-commit; .detail reports lag") {
    val src = tmp("mv_auto_src")
    val mv = tmp("mv_auto_v")
    MergeSink.setHistoryKeep(spark, src, 8)
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 1L, 20L), (3L, 2L, 30L)), 1L),
      src, "id", "rv", 0L, "load")
    // first refresh registers the dependency (sidecar) and materializes
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic") == 3L)
    // lag surfaces through the catalog's .detail on the VIEW table
    val cat = "mvlag"
    val wh = tmp("mvlag_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.m")
    spark.sql(
      s"""CREATE TABLE $cat.m.v (grp BIGINT, total BIGINT, n BIGINT,
         |__n BIGINT, __rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'grp', seq '__rv', path '$mv')
         |""".stripMargin)
    def lag(): java.lang.Long = spark.table(s"$cat.m.v.detail")
      .head().getAs[java.lang.Long]("mv_lag_versions")
    assert(lag() == 0L, "fresh view must report zero lag")
    // WITHOUT auto-refresh: a source commit leaves the view stale,
    // and the staleness is OBSERVABLE, not silent
    MergeSink.upsertBatch(df(Seq((4L, 0L, 5L)), 2L),
      src, "id", "rv", 1L, "load")
    assert(lag() == 1L, ".detail must report one unapplied source version")
    // WITH auto-refresh: the next source commit advances the view
    // inside the publish, folding ONLY the touched group
    spark.conf.set("spark.graft.autoRefreshMv", "true")
    try {
      MergeSink.upsertBatch(df(Seq((5L, 2L, 7L)), 3L),
        src, "id", "rv", 2L, "load")
      val swept = MaterializedViews.lastAutoRefresh.get()
      assert(swept.map(_._1) == Seq(mv), s"auto-refresh swept: $swept")
      // versions 1 (grp 0) and 2 (grp 2) both folded: 2 changed groups
      assert(swept.head._2 == 2L,
        s"in-commit refresh must fold only the changed groups: $swept")
      assert(lag() == 0L, "auto-refreshed view must be at head")
      assert(viewState(mv, sumAggs) == fullAgg(src, sumAggs))
    } finally spark.conf.unset("spark.graft.autoRefreshMv")
  }

  test("refresh is exactly-once: a replayed refresh commit is a no-op") {
    val src = tmp("mv_once_src")
    val mv = tmp("mv_once_v")
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 1L, 20L)), 1L), src, "id", "rv", 0L, "load")
    MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 11L)), 2L), src, "id", "rv", 1L, "load")
    MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    val before = viewState(mv, sumAggs)
    val commits = MergeSink.commits(spark, mv).map(c => (c.version, c.epoch))
    // a crashed-then-replayed refresh re-runs against the same head:
    // the (runId, epoch) idempotence makes it free and harmless
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic") == 0L)
    assert(viewState(mv, sumAggs) == before)
    assert(MergeSink.commits(spark, mv)
      .map(c => (c.version, c.epoch)) == commits)
  }

  test("retention-expired delta falls back to a full rebuild") {
    val src = tmp("mv_fb_src")
    val mv = tmp("mv_fb_v")
    // keep only 2 versions on the source
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 1L, 20L)), 1L), src, "id", "rv", 0L, "load")
    MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    // three more source commits: v0 falls out of the keep-2 window
    MergeSink.upsertBatch(df(Seq((3L, 2L, 30L)), 2L), src, "id", "rv", 1L, "load")
    MergeSink.upsertBatch(df(Seq((4L, 3L, 40L)), 3L), src, "id", "rv", 2L, "load")
    MergeSink.upsertBatch(df(Seq((5L, 4L, 50L)), 4L), src, "id", "rv", 3L, "load")
    assert(!MergeSink.commits(spark, src).exists(_.version == 0L),
      "precondition: v0 must have been GC'd")
    val g = MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    assert(g == 5L, s"full rebuild must rewrite every group, wrote $g")
    assert(viewState(mv, sumAggs) == fullAgg(src, sumAggs))
  }

  test("full rebuild returns the committed view's row count, with and without a vanished group") {
    val src = tmp("mv_fr_src")
    val mv = tmp("mv_fr_v")
    MergeSink.upsertBatch(df(Seq((1L, 0L, 10L), (2L, 1L, 20L), (3L, 2L, 30L)), 1L),
      src, "id", "rv", 0L, "load")
    // the first refresh is a full rebuild
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic") == 3L)
    assert(MergeSink.currentState(spark, mv).get.count() == 3L)
    // group 1 vanishes, then the applied version leaves the source's
    // retention window: the next refresh rebuilds without it
    MergeSink.upsertBatch(df(Seq((2L, 1L, 20L)), 2L)
      .withColumn(MergeSink.DeletedCol, lit(true)), src, "id", "rv", 1L, "load")
    MergeSink.upsertBatch(df(Seq((4L, 3L, 40L)), 3L), src, "id", "rv", 2L, "load")
    MergeSink.upsertBatch(df(Seq((5L, 3L, 50L)), 4L), src, "id", "rv", 3L, "load")
    assert(!MergeSink.commits(spark, src).exists(_.version == 0L),
      "precondition: v0 must have been GC'd")
    val g = MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    assert(g == 3L, s"groups 0, 2 and 3 remain: returned $g")
    assert(g == MergeSink.currentState(spark, mv).get.count())
    assert(viewState(mv, sumAggs) == fullAgg(src, sumAggs))
  }

  test("catalog surface: create_mv/refresh_mv procedures end to end") {
    val cat = "mvspec"
    val wh = tmp("mv_cat_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.m")
    spark.sql(
      s"""CREATE TABLE $cat.m.src (id BIGINT, grp BIGINT, v BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'id', seq 'rv')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.m.src VALUES (1, 0, 10, 1), (2, 0, 20, 1), (3, 1, 30, 1)")
    val created = spark.sql(
      s"""CALL $cat.sys.create_mv('m.mv', 'm.src', 'grp',
         |'total=sum:v,n=count:*', 'algebraic')""".stripMargin)
      .head().getInt(0)
    assert(created == 2)
    // the definition persists as table properties
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.m.mv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.mv.source") == "m.src")
    assert(props("graft.mv.mode") == "algebraic")
    spark.sql(s"INSERT INTO $cat.m.src VALUES (4, 1, 40, 2)")
    assert(spark.sql(s"CALL $cat.sys.refresh_mv('m.mv')")
      .head().getInt(0) == 1)
    val got = spark.sql(s"SELECT grp, total, n FROM $cat.m.mv ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 30L, 2L), (1L, 70L, 2L)))
    // refresh of a non-view table fails loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.refresh_mv('m.src')").collect()
    }
    assert(e.getMessage.contains("not a materialized view"))
  }

  test("two racing star refreshers converge exactly-once (loser skips or recomputes)") {
    val MV = graft.sources.MaterializedViews
    val MS = graft.streaming.MergeSink
    val s = spark
    import s.implicits._
    val fact = tmp("mv_race_fact")
    val d1 = tmp("mv_race_d1")
    val d2 = tmp("mv_race_d2")
    val mv = tmp("mv_race_v")
    Seq(fact, d1, d2, mv).foreach(MS.setHistoryKeep(spark, _, 8))
    def factRows(ids: Range, bump: Long, rv: Long): DataFrame =
      ids.map(i => (i.toLong, i.toLong % 5, i.toLong % 3, i.toLong + bump))
        .toDF("id", "k1", "k2", "v").withColumn("rv", lit(rv))
    MS.upsertBatch(factRows(0 until 60, 0, 1), fact, "id", "rv", 0L, "w")
    MS.upsertBatch(
      (0L until 5L).map(k => (k, s"g${k % 2}")).toDF("k1", "w1")
        .withColumn("rv", lit(1L)), d1, "k1", "rv", 0L, "w")
    MS.upsertBatch(
      (0L until 3L).map(k => (k, k * 7)).toDF("k2", "w2")
        .withColumn("rv", lit(1L)), d2, "k2", "rv", 0L, "w")
    val dims = Seq(
      MV.StarDim(d1, "k1", "k1", "k1"), MV.StarDim(d2, "k2", "k2", "k2"))
    val aggs = Seq(MV.Agg("total", "sum", "v"), MV.Agg("n", "count", "*"))
    def refresh(): Long = MV.refreshDir(
      spark, fact, "id", mv, Seq("w1"), aggs, "algebraic", dims = dims)
    assert(refresh() > 0, "initial star materialization")
    // day 2: the fact AND one dim move — two passes pending
    MS.upsertBatch(factRows(0 until 10, 1000, 2), fact, "id", "rv", 1L, "w")
    MS.upsertBatch(
      Seq((2L, "g9")).toDF("k1", "w1").withColumn("rv", lit(2L)),
      d1, "k1", "rv", 1L, "w")
    // two refreshers race from the same applied vector: the commit
    // claim + the (runId, epoch) idempotency must make them converge —
    // a loser either skips a pass another already committed (identical
    // content by construction) or recomputes after the claim loss
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def racer(): Long = {
      barrier.await()
      var attempts = 0
      while (true) {
        try return refresh()
        catch {
          case _: MergeSink.ConcurrentCommitException if attempts < 30 =>
            attempts += 1
        }
      }
      -1L
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (ra, rb) = (Future(racer()), Future(racer()))
    Await.result(ra, 120.seconds)
    Await.result(rb, 120.seconds)
    // at head afterwards, and EXACTLY at head: one more refresh is free
    assert(refresh() == 0L, "view must be at every source's head")
    // convergence: the view equals a from-scratch join + aggregate
    val expected = MS.currentState(spark, fact).get.as("f")
      .join(MS.currentState(spark, d1).get.as("d1"), "k1")
      .join(MS.currentState(spark, d2).get.as("d2"), "k2")
      .groupBy(col("w1"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val got = MS.currentState(spark, mv).get
      .select(col("w1"), col("total"), col("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == expected, s"racing refreshers diverged: $got vs $expected")
    // exactly-once: no duplicate (runId, epoch) commits ever landed
    val epochs = MS.commits(spark, mv).map(c => (c.runId, c.epoch))
    assert(epochs.distinct == epochs, s"duplicate refresh commits: $epochs")
  }

  test("transparent rewrite: a fresh MV serves the source aggregate; stale never does") {
    val cat = "mvrw"
    val wh = tmp("mv_rw_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.m")
    spark.sql(
      s"""CREATE TABLE $cat.m.src (id BIGINT, grp BIGINT, v BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'id', seq 'rv')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.m.src VALUES (1, 0, 10, 1), (2, 0, 20, 1), (3, 1, 30, 1)")
    spark.sql(
      s"""CALL $cat.sys.create_mv('m.mv', 'm.src', 'grp',
         |'total=sum:v,n=count:*,hi=max:v', 'algebraic')""".stripMargin)
    val q =
      s"""SELECT grp, sum(v) AS total, count(*) AS n, max(v) AS hi
         |FROM $cat.m.src GROUP BY grp""".stripMargin
    val direct = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def mvScanned(plan: String): Boolean = plan.contains("_data/m/mv")
    // conf off (default): no rewrite
    assert(!mvScanned(spark.sql(q).queryExecution.executedPlan.toString))
    spark.conf.set("spark.graft.mvRewrite", "true")
    try {
      val rq = spark.sql(q)
      val plan = rq.queryExecution.executedPlan.toString
      assert(mvScanned(plan), s"fresh view must serve the aggregate:\n$plan")
      assert(!plan.toLowerCase.contains("aggregate"),
        s"rewritten plan must READ the answer, not re-aggregate:\n$plan")
      val got = rq.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == direct, s"rewritten answer diverged: $got vs $direct")
      // a source commit WITHOUT refresh makes the view stale: the
      // rewrite must step aside (never serve silently-stale data)
      spark.sql(s"INSERT INTO $cat.m.src VALUES (4, 1, 40, 2)")
      val sq = spark.sql(q)
      assert(!mvScanned(sq.queryExecution.executedPlan.toString),
        "a stale view must not serve")
      assert(sq.collect().length == 2)
      // refresh -> fresh again -> serves again, with the new data
      spark.sql(s"CALL $cat.sys.refresh_mv('m.mv')")
      val rq2 = spark.sql(q)
      assert(mvScanned(rq2.queryExecution.executedPlan.toString))
      val got2 = rq2.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got2.contains((1L, 70L, 2L, 40L)))
      // an aggregate the view cannot answer (different grouping) is
      // untouched
      val other = spark.sql(
        s"SELECT id, sum(v) AS s FROM $cat.m.src GROUP BY id")
      assert(!mvScanned(other.queryExecution.executedPlan.toString))
      assert(other.collect().length == 4)
    } finally spark.conf.unset("spark.graft.mvRewrite")
  }

  test("maintained view: a crash between source commit and refresh replays clean") {
    val src = tmp("mv_crash_src")
    val mv = tmp("mv_crash_v")
    val runId = "stream-q1" // the sink's stable streaming identity
    // epoch 0 lands + view refreshed (the healthy first micro-batch)
    MergeSink.upsertBatch(
      df(Seq((1L, 0L, 10L), (2L, 1L, 20L)), 1L), src, "id", "rv", 0L, runId)
    MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    // epoch 1 lands but the process DIES before the refresh leg
    MergeSink.upsertBatch(
      df(Seq((3L, 1L, 30L)), 2L), src, "id", "rv", 1L, runId)
    assert(viewState(mv, sumAggs)(1L) == Seq(20L, 1L),
      "view lags one epoch after the crash — by design")
    // replay of the micro-batch: the source leg is an exactly-once
    // no-op (same runId+epoch), the refresh leg advances the view
    MergeSink.upsertBatch(
      df(Seq((3L, 1L, 30L)), 2L), src, "id", "rv", 1L, runId)
    assert(MergeSink.commits(spark, src).map(_.version) == Seq(0L, 1L),
      "replayed source batch must not double-commit")
    MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic")
    assert(viewState(mv, sumAggs) == fullAgg(src, sumAggs))
    assert(viewState(mv, sumAggs)(1L) == Seq(50L, 2L))
  }

  test("MERGE WITH SCHEMA EVOLUTION auto-adds the source's new columns") {
    val cat = "msespec"
    val wh = tmp("mse_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(
      s"""CREATE TABLE $cat.m.tgt (id BIGINT, v BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'id', seq 'rv')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.m.tgt VALUES (1, 10, 1), (2, 20, 1)")
    val s2 = spark
    import s2.implicits._
    Seq((2L, 25L, 2L, "beta"), (3L, 30L, 2L, "gamma"))
      .toDF("id", "v", "rv", "tag") // `tag` does not exist on the target
      .createOrReplaceTempView("mse_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.m.tgt t
         |USING mse_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT id, v, tag FROM $cat.m.tgt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSeq
    assert(got == Seq((1L, 10L, "-"), (2L, 25L, "beta"), (3L, 30L, "gamma")))
    // the evolved column is part of the table schema now
    assert(spark.table(s"$cat.m.tgt").columns.contains("tag"))
  }

  test("refresh_dependents brings every view of a source to its head") {
    val cat = "mvdeps"
    val wh = tmp("mv_deps_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.m")
    spark.sql(
      s"""CREATE TABLE $cat.m.src (id BIGINT, grp BIGINT, v BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'id', seq 'rv')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.m.src VALUES (1, 0, 10, 1), (2, 1, 20, 1)")
    spark.sql(s"""CALL $cat.sys.create_mv('m.sums', 'm.src', 'grp',
      |'total=sum:v', 'algebraic')""".stripMargin).collect()
    spark.sql(s"""CALL $cat.sys.create_mv('m.exts', 'm.src', 'grp',
      |'mx=max:v', 'rescan')""".stripMargin).collect()
    spark.sql(s"INSERT INTO $cat.m.src VALUES (3, 1, 40, 2)")
    // ONE call refreshes both views
    assert(spark.sql(s"CALL $cat.sys.refresh_dependents('m.src')")
      .head().getInt(0) == 2)
    assert(spark.sql(s"SELECT total FROM $cat.m.sums WHERE grp = 1")
      .head().getLong(0) == 60L)
    assert(spark.sql(s"SELECT mx FROM $cat.m.exts WHERE grp = 1")
      .head().getLong(0) == 40L)
    // both at head: the next call still succeeds, each view a no-op
    assert(spark.sql(s"CALL $cat.sys.refresh_dependents('m.src')")
      .head().getInt(0) == 2)
  }

  test("emptying the fact (and a dim) retracts every group at 0, 1 and 2 dims") {
    val s = spark
    import s.implicits._
    Seq(0, 1, 2).foreach { nDims =>
      val fact = tmp(s"mv_trunc_f$nDims")
      val dimDirs = (1 to nDims).map(i => tmp(s"mv_trunc_d$i"))
      val mv = tmp(s"mv_trunc_v$nDims")
      (fact +: dimDirs).foreach(MergeSink.setHistoryKeep(spark, _, 8))
      MergeSink.upsertBatch(
        (0L until 12L).map(i => (i, i % 3, i % 2, i * 10))
          .toDF("id", "k1", "k2", "v").withColumn("rv", lit(1L)),
        fact, "id", "rv", 0L, "load")
      dimDirs.zipWithIndex.foreach { case (d, i) =>
        MergeSink.upsertBatch(
          (0L until 3L).map(k => (k, s"g$k"))
            .toDF(s"k${i + 1}", s"w${i + 1}").withColumn("rv", lit(1L)),
          d, s"k${i + 1}", "rv", 0L, "load")
      }
      val dims = dimDirs.zipWithIndex.map { case (d, i) =>
        MaterializedViews.StarDim(d, s"k${i + 1}", s"k${i + 1}", s"k${i + 1}")
      }
      val group = if (nDims == 0) Seq("k1") else Seq("w1")
      def refresh(): Long = MaterializedViews.refreshDir(
        spark, fact, "id", mv, group, sumAggs, "algebraic", dims = dims)
      assert(refresh() > 0L, s"$nDims dims: initial materialization")
      // TRUNCATE: an overwrite with zero rows leaves no live row at the
      // new head of the fact and of the first dim
      (fact +: dimDirs.take(1)).zip(Seq("id", "k1")).foreach { case (d, k) =>
        MergeSink.overwriteBatch(MergeSink.currentState(spark, d).get.limit(0),
          d, k, "rv", 0L, "truncate")
      }
      refresh()
      val live = MergeSink.currentState(spark, mv).map(_.count()).getOrElse(0L)
      assert(live == 0L, s"$nDims dims: $live groups survived an empty fact")
      assert(MaterializedViews.viewLag(spark, mv).map(_._2) == Some(0L),
        s"$nDims dims: the emptied view must be current")
    }
  }

  test("create_mv_join / create_mv_star: refreshes converge, lag 0, DROP unregisters") {
    val cat = "mvjs"
    val wh = tmp("mv_js_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.m")
    spark.sql(
      s"""CREATE TABLE $cat.m.fact (id BIGINT, gid BIGINT, sid BIGINT,
         |v BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'id', seq 'rv')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.m.dg (gid BIGINT, cat STRING, drv BIGINT)
         |USING `graft-merge` OPTIONS (key 'gid', seq 'drv')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.m.ds (sid BIGINT, zone BIGINT, drv BIGINT)
         |USING `graft-merge` OPTIONS (key 'sid', seq 'drv')""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.m.fact VALUES (1, 1, 0, 10, 1),
      |(2, 1, 1, 20, 1), (3, 2, 0, 30, 1), (4, 3, 1, 40, 1)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.m.dg VALUES (1, 'a', 1), (2, 'a', 1), (3, 'b', 1)")
    spark.sql(s"INSERT INTO $cat.m.ds VALUES (0, 100, 1), (1, 200, 1)")
    spark.sql(s"""CALL $cat.sys.create_mv_join('m.jv', 'm.fact', 'm.dg',
      |'gid=gid', 'cat', 'total=sum:v,n=count:*', 'algebraic')""".stripMargin)
      .collect()
    spark.sql(s"""CALL $cat.sys.create_mv_star('m.sv', 'm.fact',
      |'m.dg:gid=gid;m.ds:sid=sid', 'cat,zone', 'total=sum:v,n=count:*',
      |'algebraic')""".stripMargin).collect()
    def rows(q: String): Set[Seq[Any]] =
      spark.sql(q).collect().map(_.toSeq).toSet
    def check(): Unit = {
      assert(rows(s"SELECT cat, total, n FROM $cat.m.jv") == rows(
        s"""SELECT cat, sum(v), count(*) FROM $cat.m.fact f
           |JOIN $cat.m.dg d ON f.gid = d.gid GROUP BY cat""".stripMargin))
      assert(rows(s"SELECT cat, zone, total, n FROM $cat.m.sv") == rows(
        s"""SELECT cat, zone, sum(v), count(*) FROM $cat.m.fact f
           |JOIN $cat.m.dg d ON f.gid = d.gid
           |JOIN $cat.m.ds z ON f.sid = z.sid GROUP BY cat, zone""".stripMargin))
      Seq("jv", "sv").foreach { v =>
        assert(spark.table(s"$cat.m.$v.detail").head()
          .getAs[java.lang.Long]("mv_lag_versions") == 0L, s"$v lags")
      }
    }
    check()
    // move the fact and one dim; refresh_mv advances the join view,
    // refresh_dependents the star view (and re-checks the join view)
    spark.sql(s"INSERT INTO $cat.m.fact VALUES (5, 2, 1, 50, 2)")
    spark.sql(s"DELETE FROM $cat.m.dg WHERE gid = 3")
    assert(spark.sql(s"CALL $cat.sys.refresh_mv('m.jv')").head().getInt(0) > 0)
    assert(spark.sql(s"CALL $cat.sys.refresh_dependents('m.dg')")
      .head().getInt(0) == 2)
    check()
    // the definition persists the same way for both shapes
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.m.jv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.mv.dims") == "m.dg:gid=gid")
    // DROP TABLE removes each view's line from every source's sidecar
    def dirOf(t: String): String =
      spark.table(s"$cat.m.$t.detail").head().getAs[String]("location")
    val srcDirs = Seq("fact", "dg", "ds").map(dirOf)
    def registered(): Seq[String] =
      srcDirs.flatMap(MaterializedViews.dependentLines(spark, _))
    // jv on fact + dg, sv on fact + dg + ds
    assert(registered().size == 5, s"registrations: ${registered()}")
    spark.sql(s"DROP TABLE $cat.m.jv")
    spark.sql(s"DROP TABLE $cat.m.sv")
    assert(registered().isEmpty, s"ghost registrations: ${registered()}")
  }

  /** Spark jobs `op` starts on this thread (see [[jobsAndCompiles]]). */
  private def jobsOf[T](op: => T): (T, Int) = {
    val (out, jobs, _) = jobsAndCompiles(op)
    (out, jobs)
  }

  test("one-pass algebraic refresh: few jobs, untouched view buckets keep their files") {
    val src = tmp("mv_1p_src")
    val mv = tmp("mv_1p_v")
    MergeSink.upsertBatch(
      df((0 until 200).map(i => (i.toLong, i.toLong % 40, i.toLong)), 1L),
      src, "id", "rv", 0L, "load")
    assert(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic") == 40L)
    val v0 = MergeSink.lastCommit(spark, mv).get.version
    val before = MergeSink.manifest(spark, mv, v0)
    // move two groups: an update inside grp 1, a key from grp 2 to 3
    MergeSink.upsertBatch(df(Seq((1L, 1L, 500L), (2L, 3L, 2L)), 2L),
      src, "id", "rv", 1L, "load")
    val (g, jobs) = jobsOf(MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), sumAggs, "algebraic"))
    assert(g == 3L, s"groups 1, 2 and 3 changed: wrote $g")
    // the delta's stages, the per-bucket count and the bucket rewrite;
    // no view-wide read, no report count, no second merge
    assert(jobs <= MaxRefreshJobs,
      s"one algebraic refresh ran $jobs Spark jobs (at most $MaxRefreshJobs)")
    assert(viewState(mv, sumAggs) == fullAgg(src, sumAggs))
    val v1 = MergeSink.lastCommit(spark, mv).get.version
    val after = MergeSink.manifest(spark, mv, v1)
    val nb = MergeSink.bucketCount(spark, mv, v1)
    val s = spark
    import s.implicits._
    val hit = Seq(1L, 2L, 3L).toDF("grp")
      .select(MergeSink.bucketExpr("grp", nb)).collect().map(_.getInt(0)).toSet
    val untouched = before.keySet -- hit
    assert(untouched.nonEmpty, s"precondition: 40 groups over $nb buckets")
    untouched.foreach(b => assert(after.get(b) == before.get(b),
      s"bucket $b holds no changed group but was rewritten"))
    hit.foreach(b => assert(after.get(b).contains(v1),
      s"bucket $b holds a changed group but was not rewritten"))
  }

  test("one-pass algebraic refresh: vanish and return, all-NULL sum, avg; tombstones") {
    val s = spark
    import s.implicits._
    val src = tmp("mv_seq_src")
    val mv = tmp("mv_seq_v")
    MergeSink.setHistoryKeep(spark, src, 8)
    def rows(t: Seq[(Long, Long, java.lang.Long)], rv: Long): DataFrame =
      t.toDF("id", "grp", "v").withColumn("rv", lit(rv))
    def deleted(t: Seq[(Long, Long, java.lang.Long)], rv: Long): DataFrame =
      rows(t, rv).withColumn("__deleted", lit(true))
    val aggs = Seq(Agg("total", "sum", "v"), Agg("n", "count", "*"),
      Agg("mean", "avg", "v"))
    def check(step: String): Unit = {
      val expected = MergeSink.currentState(spark, src).get
        .groupBy(col("grp"))
        .agg(sum(col("v")), count(lit(1)), avg(col("v")))
        .collect().map(r => r.getLong(0) -> Seq(r.get(1), r.get(2), r.get(3)))
        .toMap
      assert(viewState(mv, aggs) == expected, s"$step: view != from-scratch")
    }
    /** (grp, __n, total, n, mean, __rv) of the view's tombstone rows. */
    def tombstones(): Set[Seq[Any]] = {
      val files = MergeSink.currentFiles(spark, mv).values.flatten.toSeq
      val raw = spark.read.option("mergeSchema", true).parquet(files: _*)
      if (!raw.columns.contains(MergeSink.DeletedCol)) Set.empty
      else raw.filter(col(MergeSink.DeletedCol))
        .select("grp", "__n", "total", "n", "mean", "__rv")
        .collect().map(_.toSeq).toSet
    }
    def refresh(): Long = MaterializedViews.refreshDir(
      spark, src, "id", mv, Seq("grp"), aggs, "algebraic")
    // v0: grp 0 = {10, NULL}; grp 1 all NULL; grp 2 = {40, 41}
    MergeSink.upsertBatch(
      rows(Seq((1L, 0L, 10L), (2L, 0L, null), (3L, 1L, null),
        (4L, 2L, 40L), (5L, 2L, 41L)), 1L), src, "id", "rv", 0L, "load")
    assert(refresh() == 3L)
    check("materialize")
    // v1: grp 2 vanishes; grp 0's NULL row becomes 5
    MergeSink.upsertBatch(
      rows(Seq((2L, 0L, 5L)), 2L).withColumn("__deleted", lit(false))
        .unionByName(deleted(Seq((4L, 2L, 40L), (5L, 2L, 41L)), 2L)),
      src, "id", "rv", 1L, "load")
    assert(refresh() == 2L)
    check("vanish")
    assert(!viewState(mv, aggs).contains(2L))
    assert(tombstones() == Set(Seq(2L, 0L, null, 0L, null, 1L)))
    // v2: grp 2 returns holding only a NULL; grp 1 gains a 7
    MergeSink.upsertBatch(rows(Seq((6L, 2L, null), (7L, 1L, 7L)), 3L),
      src, "id", "rv", 2L, "load")
    assert(refresh() == 2L)
    check("return")
    assert(viewState(mv, aggs)(2L) == Seq(null, 1L, null),
      "a returning all-NULL group: NULL sum and avg, one row")
    assert(tombstones().isEmpty, "the returning group replaced its tombstone")
    // v3: grp 1 back to all NULL; grp 0 untouched; grp 2's NULL becomes 9
    MergeSink.upsertBatch(
      rows(Seq((6L, 2L, 9L)), 4L).withColumn("__deleted", lit(false))
        .unionByName(deleted(Seq((7L, 1L, 7L)), 4L)),
      src, "id", "rv", 3L, "load")
    assert(refresh() == 2L)
    check("retract to NULL")
    assert(viewState(mv, aggs)(1L) == Seq(null, 1L, null))
    assert(refresh() == 0L, "at head")
  }
}
