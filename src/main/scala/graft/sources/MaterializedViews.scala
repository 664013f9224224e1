package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.MergeSink

/** MATERIALIZED VIEWS with INCREMENTAL REFRESH over merge tables.
  *
  * A view is a grouped aggregate of ONE source table (the fact),
  * optionally inner-joined to N dimension tables, materialized as an
  * ordinary merge table keyed by the grouping columns — readable,
  * time-travelable, and streamable like any other table. ONE driver,
  * [[refreshDir]], advances every view to its sources' heads (a
  * single-table view is the star with 0 dims):
  *
  *  - `algebraic` mode (sum/count): folds the source's retraction
  *    delta ([[MergeSink.changeDelta]]) into the stored aggregates —
  *    `SUM(x * __mult)` per group IS the change to `SUM(x)` — so a
  *    refresh reads ONLY the source buckets the range touched and the
  *    view buckets its changed groups hash into, and rewrites those
  *    view buckets in one pass. ZERO source re-aggregation: at 100 TB,
  *    day-2 maintenance costs O(changed keys' buckets), not O(table).
  *  - `rescan` mode (any aggregate incl. min/max, which are not
  *    self-maintainable under deletes): recomputes ONLY the touched
  *    groups with a semi-join-pruned source pass; untouched groups are
  *    never read or written.
  *
  * EXACTLY-ONCE refresh rides the engine's own idempotence contract:
  * every view commit runs under a stable per-view `runId` whose
  * manifest note records the applied version of every source. The
  * watermark is thus IN the commit log itself — a crashed refresh
  * replays as a no-op, and there is no out-of-band watermark to
  * desynchronize. The
  * analytic dual of the reference's derived-ref pattern (a `ref`
  * holding a fold of others, recomputed inside the same `dosync` —
  * /root/reference/src/opusdb/examples/bank.clj:41-44 keeps the
  * balance invariant as a readable aggregate).
  *
  * If the last-applied source version has fallen out of the source's
  * retention window the delta is unreadable; refresh detects this and
  * falls back to a FULL rebuild (an overwrite commit) — correct at any
  * staleness, incremental whenever history allows.
  */
object MaterializedViews {

  /** One aggregate column of the view: `alias = kind(input)` where
    * kind ∈ sum|count|min|max|avg (input `*` for count). Parsed from
    * the spec string `"total=sum:cents,n=count:*"`. `avg` is a DERIVED
    * measure: the view maintains hidden `__<alias>_s` / `__<alias>_c`
    * columns (self-maintainable sum/count) and recomputes the visible
    * quotient for changed groups only — derived measures cost a
    * projection, never a scan.
    */
  final case class Agg(alias: String, kind: String, input: String)

  /** Expand derived kinds into their self-maintainable parts; all
    * storage and folding operates on the expanded list.
    */
  private def expand(aggs: Seq[Agg]): Seq[Agg] = {
    val base = aggs.flatMap {
      case Agg(a, "avg", c) =>
        Seq(Agg(s"__${a}_s", "sum", c), Agg(s"__${a}_c", "count", c))
      case x => Seq(x)
    }
    // Every stored SUM carries a non-NULL-input count companion
    // (reusing any count over the same column already stored): SQL SUM
    // over an all-NULL input set is NULL, and the additive fold alone
    // cannot RETURN to NULL once a retraction removes a group's last
    // non-NULL contributor (stored 5 + delta -5 folds to 0, the true
    // aggregate is NULL) — `when(companion == 0, NULL)` can.
    var have = base.collect {
      case Agg(_, "count", c) if c != "*" => c
    }.toSet
    val companions = base.flatMap {
      case Agg(a, "sum", c) if !have.contains(c) =>
        have += c; Seq(Agg(s"__${a}_nn", "count", c))
      case _ => Seq.empty
    }
    base ++ companions
  }

  /** The stored count-over-the-same-column companion of a SUM alias
    * (guaranteed to exist post-[[expand]]).
    */
  private def sumCompanion(ex: Seq[Agg], a: Agg): Option[String] =
    ex.collectFirst {
      case Agg(al, "count", c) if c == a.input => al
    }

  /** Visible derived columns recomputed from the expanded parts:
    * avg = sum / count (NULL on the empty/all-NULL group). ONE
    * division — bit-identical to the oracle's SUM/COUNT quotient.
    */
  private def derived(aggs: Seq[Agg]): Seq[(String, Column)] = aggs.collect {
    case Agg(a, "avg", _) =>
      a -> when(col(s"__${a}_c") === 0L, lit(null))
        .otherwise(col(s"__${a}_s").cast(DoubleType) / col(s"__${a}_c"))
        .cast(DoubleType)
  }

  /** Hidden maintenance columns: `__n` (live rows per group — the
    * group-liveness counter that decides tombstoning) and `__rv` (the
    * refresh's source version, the view table's seq column).
    */
  val RowCountCol = "__n"
  val RefreshCol = "__rv"

  def parseAggs(spec: String): Seq[Agg] = {
    val out = spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
      val eq = s.indexOf('=')
      val co = s.indexOf(':')
      require(eq > 0 && co > eq + 1 && co < s.length - 1,
        s"materialized view: bad aggregate spec '$s' " +
          "(want alias=kind:input, e.g. total=sum:cents or n=count:*)")
      val agg = Agg(s.substring(0, eq).trim,
        s.substring(eq + 1, co).trim.toLowerCase(java.util.Locale.ROOT),
        s.substring(co + 1).trim)
      require(Set("sum", "count", "min", "max", "avg")(agg.kind),
        s"materialized view: unsupported aggregate '${agg.kind}' " +
          "(have sum, count, min, max, avg)")
      require(agg.kind != "avg" || agg.input != "*",
        s"materialized view: avg needs a column input (${agg.alias})")
      require(agg.input != "*" || agg.kind == "count",
        s"materialized view: '*' input is only valid for count (${agg.alias})")
      agg
    }
    require(out.nonEmpty, "materialized view: empty aggregate spec")
    require(out.map(_.alias).distinct.size == out.size,
      s"materialized view: duplicate aggregate aliases in '$spec'")
    require(out.forall(!_.alias.startsWith("__")),
      s"materialized view: '__' aliases are reserved (hidden columns)")
    out
  }

  /** The full (non-incremental) aggregate — definition of the view's
    * content; `refresh` must converge to exactly this at every head.
    * Emits the expanded (stored) columns AND the derived quotients.
    */
  private def fullAggregate(
      src: DataFrame,
      groupCols: Seq[String],
      aggs: Seq[Agg]): DataFrame = {
    val ex = expand(aggs)
    val agged = src
      .groupBy(groupCols.map(col): _*)
      .agg(aggExpr(ex.head),
        (ex.tail.map(aggExpr) :+
          count(lit(1)).as(RowCountCol)): _*)
    agged.select(
      (groupCols.map(col) ++ ex.map(a => col(a.alias)) ++
        derived(aggs).map { case (a, q) => q.as(a) } :+ col(RowCountCol)): _*)
  }

  private def aggExpr(a: Agg): Column = a.kind match {
    case "sum" => sum(col(a.input)).as(a.alias)
    case "count" if a.input == "*" => count(lit(1)).as(a.alias)
    case "count" => count(col(a.input)).as(a.alias)
    case "min" => min(col(a.input)).as(a.alias)
    case "max" => max(col(a.input)).as(a.alias)
  }

  /** The aggregate's CHANGE over a retraction-encoded delta. sum/count
    * are self-maintainable under any delta; min/max are valid ONLY
    * over an insert-only delta (no `__mult < 0` rows) — the caller
    * checks retractions per range and falls back to the rescan path
    * when a delete could have removed the current extremum.
    */
  private def deltaExpr(a: Agg): Column = a.kind match {
    case "sum" => sum(col(a.input) * col("__mult")).as(a.alias)
    case "count" if a.input == "*" =>
      sum(col("__mult")).cast(LongType).as(a.alias)
    case "count" =>
      sum(when(col(a.input).isNotNull, col("__mult")).otherwise(0))
        .cast(LongType).as(a.alias)
    case "min" => min(col(a.input)).as(a.alias)
    case "max" => max(col(a.input)).as(a.alias)
  }

  private def hasMinMax(aggs: Seq[Agg]): Boolean =
    aggs.exists(a => a.kind == "min" || a.kind == "max")

  /** Observability counters for the min/max algebraic fast path:
    * insert-only ranges fold, delete-bearing ranges rescan.
    */
  val minmaxFoldCount = new java.util.concurrent.atomic.AtomicLong()
  val minmaxRescanCount = new java.util.concurrent.atomic.AtomicLong()

  // ------------------------------------------------------------------
  // AUTO-REFRESH INSIDE COMMITS + STALENESS. Every refresh self-
  // registers in the SOURCE table's `_dependents` sidecar (and records
  // its sources in its own `_mv_sources`), so (1) with
  // `spark.graft.autoRefreshMv=true` any commit to a source runs
  // refresh for every dependent view as part of the publish — the
  // autoAnalyze pattern: the cost is O(changed groups) of exactly the
  // buckets the commit already has hot — and (2) the view's `.detail`
  // reports its lag (source head versions minus applied) so a stale
  // view is observable, never silent. Off by default: streaming sinks
  // with strict latency budgets schedule refresh themselves.
  // ------------------------------------------------------------------

  private def sidecarLines(
      spark: SparkSession, dir: String, name: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  private def writeSidecar(
      spark: SparkSession, dir: String, name: String,
      lines: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def aggsSpecOf(aggs: Seq[Agg]): String =
    aggs.map(a => s"${a.alias}=${a.kind}:${a.input}").mkString(",")

  /** Idempotent registration, keyed by view dir (a re-definition
    * replaces its line). One small sidecar read per refresh; rewritten
    * only when the definition actually changed.
    */
  /** Serializes the _dependents read-filter-write within one JVM —
    * two views' first refreshes racing would otherwise lose one
    * registration. Cross-driver races remain possible but SELF-HEAL:
    * every refresh re-registers its own line, so a clobbered view
    * re-appears at its next refresh (and refresh_dependents /
    * autoRefreshMv pick it up from then on).
    */
  private val dependentsLock = new Object

  private def registerDependent(
      spark: SparkSession, srcDir: String, mvDir: String,
      line: String): Unit = dependentsLock.synchronized {
    val cur = sidecarLines(spark, srcDir, "_dependents")
    val kept = cur.filterNot(_.split('\t').lift(1).contains(mvDir))
    if (!cur.contains(line))
      writeSidecar(spark, srcDir, "_dependents", kept :+ line)
  }

  // shared sidecar surface for OTHER maintained dependents (the ANN
  // index rides the same `_dependents` registration + staleness
  // discipline — [[AnnCatalog]]); lines are tab-joined, field 1 is
  // always the dependent's dir (the dedup key)
  private[graft] def dependentLines(
      spark: SparkSession, srcDir: String): Seq[String] =
    sidecarLines(spark, srcDir, "_dependents")

  private[graft] def registerDependentLine(
      spark: SparkSession, srcDir: String, depDir: String,
      line: Seq[String]): Unit =
    registerDependent(spark, srcDir, depDir, line.mkString("\t"))

  /** Remove a dependent's registration (DROP TABLE of a view/index):
    * a ghost line would make every later source commit under
    * autoRefreshMv/autoRefreshAnn re-materialize — or fail against —
    * a table that no longer exists.
    */
  private[graft] def unregisterDependent(
      spark: SparkSession, srcDir: String,
      depDir: String): Unit = dependentsLock.synchronized {
    val cur = sidecarLines(spark, srcDir, "_dependents")
    val kept = cur.filterNot(_.split('\t').lift(1).contains(depDir))
    if (kept != cur) writeSidecar(spark, srcDir, "_dependents", kept)
  }

  private[graft] def sidecarOf(
      spark: SparkSession, dir: String, name: String): Seq[String] =
    sidecarLines(spark, dir, name)

  private[graft] def recordSidecar(
      spark: SparkSession, dir: String, name: String,
      lines: Seq[String]): Unit =
    if (sidecarLines(spark, dir, name) != lines)
      writeSidecar(spark, dir, name, lines)

  /** First line records the view's writer runId verbatim — `.detail`
    * may see the view under a QUALIFIED path (file:/…), so the id must
    * not be re-derived from the path string there.
    */
  private def recordSources(
      spark: SparkSession, mvDir: String, dirs: Seq[String]): Unit = {
    val lines = s"run\t${mvRunId(mvDir)}" +: dirs
    if (sidecarLines(spark, mvDir, "_mv_sources") != lines)
      writeSidecar(spark, mvDir, "_mv_sources", lines)
  }

  /** Re-entrancy guard: a refresh commits to the VIEW table, whose own
    * publish would auto-refresh views-of-views — wanted — but a cycle
    * of definitions must not recurse forever.
    */
  private val inAutoRefresh =
    new ThreadLocal[java.util.HashSet[String]] {
      override def initialValue() = new java.util.HashSet[String]()
    }

  /** Spec observability: (view dir, groups written) of the most recent
    * auto-refresh sweep on this JVM.
    */
  val lastAutoRefresh =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, Long)]](Nil)

  /** Called from the commit publish path when
    * `spark.graft.autoRefreshMv` is set: refresh every registered
    * dependent of `srcDir`. Each refresh is independently exactly-once;
    * a failure propagates (the DATA commit is already published — the
    * view stays stale and observable via lag, never half-applied).
    */
  def autoRefresh(spark: SparkSession, srcDir: String): Unit = {
    val lines = sidecarLines(spark, srcDir, "_dependents")
    if (lines.isEmpty) return
    val set = inAutoRefresh.get()
    if (!set.add(srcDir)) return
    try {
      val results = lines.flatMap { l =>
        l.split('\t') match {
          case Array("star", mvDir, fDir, fKey, dimsSpec, group,
              aggsSpec, mode) =>
            Some(mvDir -> refreshDir(spark, fDir, fKey, mvDir,
              group.split(',').toSeq.map(_.trim), parseAggs(aggsSpec), mode,
              parseStarDims(dimsSpec)))
          case _ => None
        }
      }
      lastAutoRefresh.set(results)
    } finally set.remove(srcDir)
  }

  /** The view's staleness: (its source dirs, total source versions not
    * yet applied). None when the dir is not a refreshed view (or never
    * refreshed — nothing applied to measure against). Surfaces in the
    * `.detail` metadata table as mv_sources / mv_lag_versions.
    */
  def viewLag(spark: SparkSession, mvDir: String): Option[(String, Long)] =
    sidecarLines(spark, mvDir, "_mv_sources") match {
      case header +: srcs if srcs.nonEmpty && header.startsWith("run\t") =>
        appliedVector(spark, mvDir, header.stripPrefix("run\t"))
          .filter(_.size == srcs.size)
          .map { vec =>
            val lag = srcs.zip(vec).map { case (s, a) =>
              MergeSink.lastCommit(spark, s)
                .map(h => math.max(h.version - a, 0L)).getOrElse(0L)
            }.sum
            (srcs.mkString(","), lag)
          }
      case _ => None
    }

  /** Stable per-view writer identity: commits under it carry the
    * applied-version vector (see [[vectorNote]]). Digest of the view
    * path — runIds ride marker FILENAMES, so no separators allowed. The
    * `mvv-` prefix keeps it apart from the `mv-` writer of views
    * materialized before the vector note was the only watermark: such a
    * view finds no applied vector under this id and is rebuilt in full
    * once, never mistaken for current.
    */
  private def mvRunId(mvDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "mvv-" + md.digest(mvDir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  // ------------------------------------------------------------------
  // ONE REFRESH DRIVER for every view: a GROUP BY over one source (the
  // fact) inner-joined to N ≥ 0 dims — a single-table view is N = 0, a
  // fact ⋈ dim view N = 1. Delta-join maintenance (bag semantics)
  // telescopes: advancing the applied vector (a0, a1, …, an) to the
  // heads (h0, h1, …, hn) is one SEQUENTIAL pass per moved source, and
  // pass i applies Δsource_i ⋈ (every OTHER source PINNED at its
  // working version — heads for j < i, applied for j > i). Source i
  // itself is never read by its own pass (its delta stands in for
  // it), so with N = 0 the algebraic pass reads no source state at
  // all: O(changed keys), not O(table). Each pass commits under the
  // view's one writer id — independently exactly-once (the watermark
  // lives in the commit log, no out-of-band state) — and a crash
  // between passes leaves a consistent mixed cut that the next
  // refresh completes.
  // ------------------------------------------------------------------

  /** One dimension of a view: its table dir, merge key, and the
    * fact-side / dim-side join columns.
    */
  final case class StarDim(dir: String, key: String, fk: String, pk: String)

  /** The view's applied-version vector rides the commit artifact
    * itself — a `W mvv <v0>,<v1>,…` manifest note under the view's ONE
    * writer id, with `epoch = Σ versions` (strictly monotone: every
    * pass advances one component; a single-table view's epoch IS its
    * source version). The NEWEST commit therefore always carries the
    * whole vector, so no retention setting can age a watermark out
    * from under the view.
    */
  private def vectorNote(vs: Seq[Long]): String = "mvv " + vs.mkString(",")

  private def appliedVector(
      spark: SparkSession, mvDir: String, runId: String): Option[Seq[Long]] =
    MergeSink.commits(spark, mvDir).filter(_.runId == runId).lastOption
      .flatMap(c => MergeSink.manifestNote(spark, mvDir, c.version))
      .filter(_.startsWith("mvv "))
      .map(_.stripPrefix("mvv ").split(',').toSeq.map(_.trim.toLong))

  /** `dir,key,fk,pk;dir,key,fk,pk` — the registration-line encoding
    * (empty for a single-table view).
    */
  private[graft] def parseStarDims(spec: String): Seq[StarDim] =
    spec.split(';').toSeq.filter(_.nonEmpty).map(_.split(',') match {
      case Array(d, k, fk, pk) => StarDim(d, k, fk, pk)
      case other => throw new IllegalArgumentException(
        s"materialized view: bad dim spec '${other.mkString(",")}'")
    })

  /** Advance the view at `mvDir` — the grouped aggregate of `srcDir`
    * inner-joined to `dims` (of `srcDir` alone when `dims` is empty) —
    * to every source's head. Returns the groups written across all
    * passes (0 = already current everywhere). The FIRST refresh
    * materializes the full aggregate; later ones go through the
    * incremental path of `mode` unless an applied version fell out of
    * its source's retention (full rebuild fallback).
    */
  def refreshDir(
      spark: SparkSession,
      srcDir: String,
      srcKey: String,
      mvDir: String,
      groupCols: Seq[String],
      aggs: Seq[Agg],
      mode: String,
      dims: Seq[StarDim] = Nil): Long = {
    require(mode == "algebraic" || mode == "rescan",
      s"materialized view: unknown mode '$mode' (algebraic | rescan)")
    val groupCsv = groupCols.mkString(",")
    val line = Seq("star", mvDir, srcDir, srcKey,
      dims.map(d => s"${d.dir},${d.key},${d.fk},${d.pk}").mkString(";"),
      groupCsv, aggsSpecOf(aggs), mode).mkString("\t")
    val srcDirs = srcDir +: dims.map(_.dir)
    val srcKeys = srcKey +: dims.map(_.key)
    srcDirs.foreach(d => registerDependent(spark, d, mvDir, line))
    recordSources(spark, mvDir, srcDirs)
    val heads: Seq[Long] = srcDirs.map(d =>
      MergeSink.lastCommit(spark, d).map(_.version) match {
        case Some(v) => v
        case None => return 0L // a source unborn: nothing to materialize
      })
    val runId = mvRunId(mvDir)
    val appliedVec: Option[Seq[Long]] =
      appliedVector(spark, mvDir, runId).filter(_.size == srcDirs.size)
    if (appliedVec.contains(heads)) return 0L

    val needed = (groupCols ++
      expand(aggs).map(_.input).filter(_ != "*")).distinct

    /** Inner-join the given per-source frames in star shape
      * (s0 = fact; si = dim i) and project the needed columns, each
      * resolved on exactly one side; `multFrom` carries the delta
      * side's multiplicity through.
      */
    def joinStar(frames: Seq[DataFrame], multFrom: Option[Int]): DataFrame = {
      val aliased = frames.zipWithIndex.map { case (f, i) => f.as(s"s$i") }
      val joined = dims.zipWithIndex.foldLeft(aliased.head) {
        case (acc, (d, i)) =>
          acc.join(aliased(i + 1),
            col(s"s0.${d.fk}") === col(s"s${i + 1}.${d.pk}"), "inner")
      }
      val colSets = frames.map(_.columns.toSet - "__mult")
      val picks = needed.map { c =>
        colSets.zipWithIndex.filter(_._1.contains(c)) match {
          case Seq((_, i)) => col(s"s$i.$c").as(c)
          case Seq() => throw new IllegalArgumentException(
            s"materialized view: column '$c' exists on NO side")
          case many => throw new IllegalArgumentException(
            s"materialized view: column '$c' exists on sides " +
              s"${many.map(_._2).mkString(",")} — rename (view columns " +
              "must be unambiguous)")
        }
      }
      val extra = multFrom.toSeq.map(i => col(s"s$i.__mult").as("__mult"))
      joined.select(picks ++ extra: _*)
    }

    // record an advanced vector whose passes wrote nothing
    def emptyAdvance(target: Seq[Long]): Unit =
      MergeSink.rewriteBuckets(spark, mvDir, groupCsv, target.sum, runId,
        Some(vectorNote(target)))(_ => ((), Set.empty[Int], None))

    def fullRebuild(): Long = {
      // every source at the head this commit RECORDS (a commit landing
      // mid-refresh must not be absorbed now and re-applied next time)
      val sts = srcDirs.zip(heads).map { case (d, h) =>
        MergeSink.stateAt(spark, d, h)
      }
      // a source without live rows empties the join: only a view that
      // still holds rows has anything to overwrite
      val full =
        if (sts.forall(_.isDefined))
          Some(fullAggregate(joinStar(sts.map(_.get), None), groupCols, aggs)
            .withColumn(RefreshCol, lit(heads.sum)))
        else MergeSink.currentState(spark, mvDir).map(_.limit(0))
      full.fold(0L) { f =>
        MergeSink.overwriteBatch(
          f, mvDir, groupCsv, RefreshCol,
          epochId = heads.sum, runId = runId,
          note = Some(vectorNote(heads)))
        // the rows the overwrite committed, from its manifest; a bucket
        // without the row field, or carrying tombstones (which the
        // figure counts), falls back to counting the view
        MergeSink.commits(spark, mvDir)
          .find(c => c.runId == runId && c.epoch == heads.sum)
          .flatMap { c =>
            val rows = MergeSink.manifestRows(spark, mvDir, c.version)
            val flags = MergeSink.manifestDeletedFlags(spark, mvDir, c.version)
            val buckets = MergeSink.manifest(spark, mvDir, c.version).keySet
            if (buckets.forall(b =>
                rows.contains(b) && flags.get(b).contains(0L)))
              Some(buckets.toSeq.map(rows).sum)
            else None
          }
          .getOrElse(
            MergeSink.currentState(spark, mvDir).map(_.count()).getOrElse(0L))
      }
    }

    val allRetained = appliedVec.exists(vec =>
      srcDirs.indices.forall(i =>
        MergeSink.commits(spark, srcDirs(i))
          .exists(_.version == vec(i))))
    if (!allRetained) return fullRebuild()

    // sequential single-source passes over the working vector
    var cur = appliedVec.get.toIndexedSeq
    var written = 0L
    srcDirs.indices.foreach { i =>
      if (cur(i) != heads(i)) {
        val target = cur.updated(i, heads(i))
        // every OTHER source pinned at its working version (earlier
        // passes already advanced theirs — the telescoping term
        // Δi ⋈ ⨝_{j<i} Sj@head ⋈ ⨝_{j>i} Sj@applied)
        val pinned = srcDirs.indices.map(j =>
          if (j == i) None else MergeSink.stateAt(spark, srcDirs(j), target(j)))
        val othersLive =
          srcDirs.indices.forall(j => j == i || pinned(j).isDefined)
        MergeSink.changeDelta(
            spark, srcDirs(i), srcKeys(i), cur(i), heads(i)) match {
          case Some(delta) if othersLive =>
            val frames = pinned.updated(i, Some(delta)).map(_.get)
            val delta0 = joinStar(frames, Some(i))
            // the retraction probe is a SECOND consumer of the delta —
            // materialize once so probe + refresh share the blocks
            val d =
              if (mode == "algebraic" && hasMinMax(aggs))
                delta0.localCheckpoint()
              else delta0
            // min/max fold only over an insert-only range: a retraction
            // could remove the stored extremum, which no fold can undo —
            // those ranges rescan the touched groups instead
            val rescan = mode == "rescan" ||
              (hasMinMax(aggs) && {
                val retracting =
                  d.filter(col("__mult") < 0).limit(1).count() > 0
                if (retracting) minmaxRescanCount.incrementAndGet()
                else minmaxFoldCount.incrementAndGet()
                retracting
              })
            written +=
              (if (rescan) {
                // the full join at the vector this pass records; a
                // source emptied at its head empties it (every touched
                // group vanishes)
                val atTarget =
                  MergeSink.stateAt(spark, srcDirs(i), heads(i)) match {
                    case Some(si) => joinStar(frames.updated(i, si), None)
                    case None => d.drop("__mult").limit(0)
                  }
                refreshRescan(spark, d, atTarget, mvDir, groupCols, aggs,
                  groupCsv, target, runId)
              } else
                refreshAlgebraic(spark, d, mvDir, groupCols, aggs, groupCsv,
                  target, runId))
          case _ =>
            // metadata-only movement, or a pinned side holds no live
            // rows (the inner join is empty): advance the watermark
            emptyAdvance(target)
        }
        cur = target
      }
    }
    written
  }

  /** Fold the retraction delta into the stored aggregates in ONE
    * bucket-aligned pass, committed through
    * [[MergeSink.rewriteBuckets]]:
    *  1. the delta aggregate, computed once and tagged with each
    *     group's view bucket;
    *  2. the stored rows of ONLY the view buckets a changed group
    *     hashes into;
    *  3. one shuffle by bucket that lines each stored row up with its
    *     group's delta and folds them into the buckets' new contents;
    *  4. those buckets published as they are, with no second merge.
    * A group whose live-row count reaches zero is tombstoned out of
    * the view; the other rows of a rewritten bucket (tombstones
    * included) pass through unchanged. Returns the groups written (0
    * when this pass had already committed).
    */
  private def refreshAlgebraic(
      spark: SparkSession,
      delta: DataFrame,
      mvDir: String,
      groupCols: Seq[String],
      aggs0: Seq[Agg],
      groupCsv: String,
      target: Seq[Long],
      runId: String): Long =
    MergeSink.rewriteBuckets(spark, mvDir, groupCsv, target.sum, runId,
        Some(vectorNote(target))) { h =>
      val viewCols: Seq[String] = h.schema.map(_.fieldNames.toSeq)
        .orElse(MergeSink.currentState(spark, mvDir).map(_.columns.toSeq))
        .getOrElse(Seq.empty)
      // fold the stored (self-maintainable) parts. A view MATERIALIZED
      // BEFORE the sum-companion format lacks the hidden __<alias>_nn
      // columns — selecting them would fail the refresh outright; such a
      // legacy view keeps the plain additive fold (its pre-existing
      // all-NULL-sum edge) instead of breaking. Only COMPANIONS may be
      // dropped; a missing BASE column is a real schema error and still
      // fails loudly.
      val aggs = {
        val full = expand(aggs0)
        if (viewCols.isEmpty) full
        else {
          val baseAliases = aggs0.flatMap {
            case Agg(a, "avg", c) => Seq(s"__${a}_s", s"__${a}_c")
            case Agg(a, _, _) => Seq(a)
          }.toSet
          full.filter(a => viewCols.contains(a.alias) ||
            baseAliases.contains(a.alias))
        }
      }
      // 1. the delta aggregate, tagged with its view bucket; computed by
      // the first job that reads it (the per-bucket count) and kept
      val dAgg = delta
        .groupBy(groupCols.map(col): _*)
        .agg(deltaExpr(aggs.head),
          (aggs.tail.map(deltaExpr) :+
            sum(col("__mult")).cast(LongType).as(RowCountCol)): _*)
        .withColumn("__b", h.bucketOf)
        .localCheckpoint(eager = false)
      // changed groups per bucket, counted task-locally: the touched
      // buckets AND the refresh's report in one job, no shuffle
      val perBucket = dAgg.select(col("__b")).rdd
        .mapPartitions(_.map(_.getInt(0)).toSeq
          .groupMapReduce(identity)(_ => 1L)(_ + _).iterator)
        .collect()
      val written = perBucket.map(_._2).sum
      val touched = h.touched(dAgg, perBucket.map(_._1).toSet)
      // 2. the stored rows of the touched buckets only
      val stored = h.stored(touched)
      val storedCols = stored.toSeq.flatMap(_.columns).filterNot(groupCols.contains)
      val keys = col("__b") +: groupCols.map(col)
      val dSide = dAgg.select(keys ++
        (aggs.map(_.alias) :+ RowCountCol).map(c => col(c).as(s"__d_$c")) :+
        lit(true).as("__d"): _*)
      val sides = stored.fold(dSide)(m =>
        m.select((h.bucketOf.as("__b") +: groupCols.map(col)) ++
          storedCols.map(c => col(c).as(s"__m_$c")): _*)
          .unionByName(dSide, allowMissingColumns = true))
      // 3. one shuffle by bucket: a group has at most one stored and one
      // delta row, so `first` pairs them; the output stays
      // bucket-partitioned, as publish needs
      val paired = sides
        .repartition(col("__b"))
        .groupBy(keys: _*)
        .agg(first(col("__d"), ignoreNulls = true).as("__d"),
          (storedCols.map(c => s"__m_$c") ++
            (aggs.map(_.alias) :+ RowCountCol).map(c => s"__d_$c"))
            .map(c => first(col(c), ignoreNulls = true).as(c)): _*)
      val hasD = col("__d").isNotNull
      def stor(c: String): Column =
        if (storedCols.contains(c)) col(s"__m_$c") else lit(null)
      // a tombstoned stored group is as absent as a missing one
      val storedDead = coalesce(stor(MergeSink.DeletedCol), lit(false))
      // Three-branch fold: SQL aggregates IGNORE NULL inputs, so a delta
      // whose rows for a group are all NULL in the aggregated column
      // yields a NULL change — the stored value must pass through
      // unchanged (stored + NULL would poison it), and symmetrically a
      // stored NULL (group whose live rows are all NULL) takes the delta.
      def folded(c: String, merge: (Column, Column) => Column) = {
        val m = when(storedDead, lit(null)).otherwise(stor(c))
        val d = col(s"__d_$c")
        when(m.isNull, d).when(d.isNull, m).otherwise(merge(m, d))
      }
      def foldedAgg(a: Agg): Column = a.kind match {
        case "min" => folded(a.alias, least(_, _))
        case "max" => folded(a.alias, greatest(_, _))
        case "sum" =>
          // a group whose folded non-NULL-input count reaches 0 must
          // store NULL, not the additive residue (SQL SUM of an all-NULL
          // set is NULL) — the companion's fold decides
          sumCompanion(aggs, a) match {
            case Some(nn) =>
              when(folded(nn, _ + _) === 0L, lit(null))
                .otherwise(folded(a.alias, _ + _))
            case None => folded(a.alias, _ + _)
          }
        case _ => folded(a.alias, _ + _)
      }
      val foldedN = folded(RowCountCol, _ + _)
      val fresh: Map[String, Column] =
        (aggs.map(a => a.alias -> foldedAgg(a)) ++ Seq(
          RowCountCol -> foldedN.cast(LongType),
          RefreshCol -> epochCol(target.sum),
          MergeSink.DeletedCol -> (foldedN === 0L))).toMap
      val avgs = aggs0.collect { case Agg(a, "avg", _) => a }
      // the view's own column order, then any column it lacks so far
      val outCols = (viewCols ++ groupCols ++ aggs.map(_.alias) ++
        Seq(RowCountCol, RefreshCol, MergeSink.DeletedCol) ++ avgs).distinct
      // a group with a delta takes the fold; any other row passes
      // through as stored (a column the fold does not write reads NULL
      // on a folded row)
      val foldedRows = paired.select((col("__b") +: col("__d") +: outCols.map { c =>
        if (groupCols.contains(c)) col(c)
        else if (c == MergeSink.DeletedCol)
          when(hasD, fresh(c)).otherwise(storedDead).as(c)
        else if (avgs.contains(c)) stor(c).as(c)
        else when(hasD, fresh.getOrElse(c, lit(null))).otherwise(stor(c)).as(c)
      }): _*)
      // derived quotients recompute from the freshly-folded parts
      val quotients = derived(aggs0).toMap
      val out = foldedRows.select(foldedRows.columns.toSeq.filter(_ != "__d").map(c =>
        quotients.get(c).fold(col(c))(q => when(hasD, q).otherwise(col(c)).as(c))): _*)
      (written, touched, if (touched.isEmpty) None else Some(out))
    }.getOrElse(0L)

  /** The refresh epoch as a column that keeps it OUT of generated
    * code: codegen inlines a Long literal into the class source, and
    * Spark caches compiled classes by source, so a literal epoch would
    * make every refresh compile its fold anew. A nondeterministic UDF
    * is neither constant-folded nor inlined (its function is a
    * referenced object).
    */
  private def epochCol(epoch: Long): Column =
    udf(() => epoch).asNondeterministic()()

  /** Recompute ONLY the groups the delta touched: semi-join-pruned
    * source pass, anti-join for groups that vanished entirely.
    */
  private def refreshRescan(
      spark: SparkSession,
      delta: DataFrame,
      srcState: DataFrame,
      mvDir: String,
      groupCols: Seq[String],
      aggs: Seq[Agg],
      groupCsv: String,
      target: Seq[Long],
      runId: String): Long = {
    val touched = delta.select(groupCols.map(col): _*).distinct()
    val recomputed = fullAggregate(
      srcState.join(touched, groupCols, "left_semi"), groupCols, aggs)
    val tombAliases = expand(aggs).map(_.alias) ++
      aggs.collect { case Agg(a, "avg", _) => a }
    val vanished = touched
      .join(recomputed, groupCols, "left_anti")
      .select((groupCols.map(col) ++
        tombAliases.map(a => lit(null).as(a)) :+
        lit(0L).as(RowCountCol)): _*)
    val out = recomputed
      .withColumn(MergeSink.DeletedCol, lit(false))
      .unionByName(vanished.withColumn(MergeSink.DeletedCol, lit(true)))
      .withColumn(RefreshCol, epochCol(target.sum))
      .localCheckpoint() // computed once: the report count AND the commit
    val written = out.count()
    MergeSink.upsertBatch(
      out, mvDir, groupCsv, RefreshCol, epochId = target.sum, runId = runId,
      note = Some(vectorNote(target)))
    written
  }

  // ------------------------------------------------------------------
  // Catalog surface: the view definition persists as table properties
  // of the (ordinary) materialized table — `CALL cat.sys.create_mv
  // ('db.mv', 'db.src', 'grp', 'total=sum:cents,n=count:*',
  // 'algebraic')` then `CALL cat.sys.refresh_mv('db.mv')`.
  // ------------------------------------------------------------------

  private[sources] def mvSchema(
      srcSchema: StructType,
      groupCols: Seq[String],
      aggs: Seq[Agg]): StructType = {
    def srcField(c: String): StructField = srcSchema.fields
      .find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"materialized view: column '$c' not in source schema " +
          srcSchema.fieldNames.mkString("(", ",", ")")))
    def sumType(t: DataType): DataType = t match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType =>
        LongType
      case d: DecimalType => // Spark's sum widening: +10 integral digits
        DecimalType(math.min(d.precision + 10, DecimalType.MAX_PRECISION),
          d.scale)
      case _ => DoubleType
    }
    StructType(
      groupCols.map(srcField) ++
        expand(aggs).map {
          case Agg(a, "count", _) => StructField(a, LongType)
          case Agg(a, "sum", c) => StructField(a, sumType(srcField(c).dataType))
          case Agg(a, _, c) => StructField(a, srcField(c).dataType)
        } ++
        aggs.collect { case Agg(a, "avg", _) => StructField(a, DoubleType) } ++
        Seq(StructField(RowCountCol, LongType),
          StructField(RefreshCol, LongType)))
  }

  /** `db.d1:fk1=pk1;db.d2:fk2=pk2` → (dim ident, fact fk, dim pk) per
    * dim — the `graft.mv.dims` encoding (empty for a single-table view).
    */
  private[sources] def parseDimsSpec(spec: String): Seq[(String, String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
      s.split(':') match {
        case Array(ident, on) => on.split('=') match {
          case Array(fk, pk) => (ident.trim, fk.trim, pk.trim)
          case _ => throw new IllegalArgumentException(
            s"materialized view: bad join spec '$on' (want 'fact_fk=dim_pk')")
        }
        case _ => throw new IllegalArgumentException(
          s"materialized view: bad dim spec '$s' (want 'db.dim:fk=pk')")
      }
    }

  /** The definition keys a view persists; any other `graft.mv.*` key
    * belongs to a definition this driver cannot read.
    */
  private val DefinitionKeys = Set("graft.mv.source", "graft.mv.dims",
    "graft.mv.group", "graft.mv.aggs", "graft.mv.mode")

  /** Define a view in the catalog — the grouped aggregate of `srcIdent`
    * inner-joined to `dims` (db.dim, fact_fk, dim_pk) — persist the
    * definition as `graft.mv.*` table properties, and run its first
    * (full) refresh. Backs `create_mv` (no dims), `create_mv_join`
    * (one) and `create_mv_star` (any number).
    */
  private[sources] def create(
      spark: SparkSession,
      cat: GraftCatalog,
      mvIdent: String,
      srcIdent: String,
      groupCols: Seq[String],
      aggs: Seq[Agg],
      mode: String,
      dims: Seq[(String, String, String)] = Nil): Long = {
    require(mode == "algebraic" || mode == "rescan",
      s"create_mv: unknown mode '$mode' (algebraic | rescan)")
    def schemaOf(ident: String): StructType =
      DataType.fromJson(cat.tableOptions(identOf(ident))("schema"))
        .asInstanceOf[StructType]
    // each view column resolves on the first side that has it
    val joint = dims.foldLeft(schemaOf(srcIdent)) { case (acc, (ident, _, _)) =>
      StructType(acc.fields ++
        schemaOf(ident).fields.filterNot(f => acc.fieldNames.contains(f.name)))
    }
    val schema = mvSchema(joint, groupCols, aggs)
    val P = org.apache.spark.sql.connector.catalog.TableCatalog.OPTION_PREFIX
    val props = new java.util.HashMap[String, String]()
    props.put("key", groupCols.mkString(","))
    props.put("seq", RefreshCol)
    // OPTION_PREFIX: createTable persists (and tableOptions returns)
    // prefixed options as bare-keyed table properties
    props.put(P + "graft.mv.source", srcIdent)
    props.put(P + "graft.mv.dims",
      dims.map { case (i, fk, pk) => s"$i:$fk=$pk" }.mkString(";"))
    props.put(P + "graft.mv.group", groupCols.mkString(","))
    props.put(P + "graft.mv.aggs", aggsSpecOf(aggs))
    props.put(P + "graft.mv.mode", mode)
    cat.createTable(identOf(mvIdent), schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      props)
    refresh(spark, cat, mvIdent)
  }

  private[sources] def refresh(
      spark: SparkSession,
      cat: GraftCatalog,
      mvIdent: String): Long = {
    val mvOpts = cat.tableOptions(identOf(mvIdent))
    val srcIdent = mvOpts.getOrElse("graft.mv.source",
      throw new IllegalArgumentException(
        s"refresh_mv: '$mvIdent' is not a materialized view " +
          "(no graft.mv.source property)"))
    val unknown = mvOpts.keySet.filter(_.startsWith("graft.mv.")) -- DefinitionKeys
    require(unknown.isEmpty,
      s"refresh_mv: '$mvIdent' carries unsupported definition properties " +
        s"${unknown.toSeq.sorted.mkString(", ")} — drop and re-create the view")
    val srcOpts = cat.tableOptions(identOf(srcIdent))
    val dims = parseDimsSpec(mvOpts.getOrElse("graft.mv.dims", "")).map {
      case (ident, fk, pk) =>
        val dOpts = cat.tableOptions(identOf(ident))
        StarDim(dOpts("path"), dOpts("key"), fk, pk)
    }
    refreshDir(
      spark,
      srcDir = srcOpts("path"),
      srcKey = srcOpts("key"),
      mvDir = mvOpts("path"),
      groupCols = mvOpts("graft.mv.group").split(',').toSeq.map(_.trim),
      aggs = parseAggs(mvOpts("graft.mv.aggs")),
      mode = mvOpts.getOrElse("graft.mv.mode", "algebraic"),
      dims = dims)
  }

  /** Every table a view reads: its source, then each dim. */
  private[sources] def viewSources(props: String => Option[String]): Seq[String] =
    props("graft.mv.source").toSeq ++
      props("graft.mv.dims").toSeq.flatMap(parseDimsSpec).map(_._1)

  /** CONTINUOUSLY MAINTAINED VIEW: a streaming sink whose every
    * micro-batch (1) upserts into the source table and (2) advances
    * the view to the new head — both exactly-once (the source by the
    * sink's (queryId, epoch) contract, the refresh by its own
    * (runId, source version) contract), so a crash ANYWHERE replays
    * into no-ops and the view is never more than one in-flight
    * micro-batch behind its source. The streaming dual of
    * `refresh_dependents`: the analytic state stays queryable and
    * fresh while data lands.
    */
  def maintainedSink(
      df: DataFrame,
      srcDir: String,
      srcKey: String,
      srcSeq: String,
      checkpoint: String,
      mvDir: String,
      groupCols: Seq[String],
      aggs: Seq[Agg],
      mode: String): org.apache.spark.sql.streaming.DataStreamWriter[
    org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val runId = Option(
          batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId"))
          .getOrElse(
            java.util.UUID
              .nameUUIDFromBytes(checkpoint.getBytes("UTF-8"))
              .toString)
        MergeSink.upsertBatch(
          batch, srcDir, srcKey, srcSeq, epochId, runId)
        refreshDir(
          batch.sparkSession, srcDir, srcKey, mvDir, groupCols, aggs, mode)
        ()
      }

  /** Refresh EVERY materialized view that reads `srcIdent` — as its
    * source or as one of its dims (one catalog listing, then per-view
    * [[refresh]] — each independently exactly-once). Returns (view,
    * groups written). The post-commit maintenance move: land data,
    * then `CALL refresh_dependents('db.src')` brings every derived
    * table to the new head.
    */
  private[sources] def refreshDependents(
      spark: SparkSession,
      cat: GraftCatalog,
      srcIdent: String): Seq[(String, Long)] = {
    val srcNs = identOf(srcIdent).namespace().toSeq
    val want = identKey(srcIdent)
    // arrays compare by identity — dedup namespaces as Seqs
    (cat.listNamespaces().toSeq.map(_.toSeq) :+ srcNs).distinct.flatMap {
      ns =>
        cat.listTables(ns.toArray).toSeq.flatMap { id =>
          val full = (id.namespace() :+ id.name()).mkString(".")
          val opts = cat.tableOptions(id)
          if (viewSources(opts.get).exists(s => identKey(s) == want))
            Some(full -> refresh(spark, cat, full))
          else None
        }
    }
  }

  /** Identifier equality for dependency matching: namespace + name,
    * case-insensitively — `DB.Src` and `db.src` name the same table
    * (Spark resolves identifiers case-insensitively), and a raw
    * string compare would silently skip an equivalent spelling.
    */
  private def identKey(s: String): (Seq[String], String) = {
    val id = identOf(s)
    (id.namespace().toSeq.map(_.toLowerCase(java.util.Locale.ROOT)),
      id.name().toLowerCase(java.util.Locale.ROOT))
  }

  private[sources] def identOf(s: String)
      : org.apache.spark.sql.connector.catalog.Identifier = {
    val parts = s.split("\\.")
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"materialized view: bad table identifier '$s'")
    org.apache.spark.sql.connector.catalog.Identifier
      .of(parts.dropRight(1), parts.last)
  }
}
