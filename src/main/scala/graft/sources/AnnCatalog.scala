package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Hashing.fdot
import graft.ops.Embeddings
import graft.streaming.MergeSink

/** The maintained ANN index as a CATALOG CITIZEN — the pure-SQL surface
  * over [[Embeddings.annIndexRefresh]]:
  *
  *  - `CALL cat.sys.create_ann('db.ix', 'db.vecs', 'vec_id',
  *    'embedding')` trains the coarse quantizer on the source's CURRENT
  *    state (2 Lloyd iterations from the deterministic stride seed),
  *    FREEZES it as a parquet sidecar under the index table (re-training
  *    is a rebuild, not a refresh — the standard IVF maintenance
  *    discipline), creates the postings table with the source binding
  *    persisted as `graft.ann.*` table properties, and runs the first
  *    (full) build. Failure-atomic: the source is validated and the
  *    quantizer trained BEFORE the table registers, and any failure
  *    after registration drops the staged table — a failed CALL never
  *    strands a broken index.
  *  - `CALL cat.sys.refresh_ann('db.ix')` advances the postings to the
  *    source's head through the change feed: O(changed keys ×
  *    centroids), never a corpus re-index; free when already at head.
  *    With `spark.graft.autoRefreshAnn=true` the same advance rides
  *    every SOURCE commit's publish hook (the autoRefreshMv dual), and
  *    the index's `.detail` reports `ann_source` / `ann_lag_versions`
  *    either way — a stale index is observable, never silent.
  *  - `CALL cat.sys.ann_search('db.ix', 'db.queries', k, probes)`
  *    answers cosine top-k per query-panel row via multi-probe IVF
  *    against the SERVED postings — the one query the index exists for,
  *    now issuable by a consumer who only speaks SQL.
  *
  * Scale shape of `search`: the query panel × the O(centroidCap)
  * broadcast centroid frame picks probe cells (bounded cross — never
  * panel × corpus); candidates arrive by EQUI-join on `cell`, so
  * candidate work is linear in the probed cells' sizes. The returned
  * relation is the ANSWER itself — k rows per panel query. A panel
  * larger than `spark.graft.annMaxQueryPanel` (default 10k) answers in
  * panel-sized BATCHES (each batch a bounded broadcast probe) instead
  * of throwing, so result materialization stays bounded per batch at
  * any panel size.
  *
  * The analytic dual of the reference's derived-ref pattern (a ref
  * holding an index of others, advanced inside the same transaction —
  * /root/reference/src/opusdb/core/stm.clj:42 apply-writes! keeps every
  * derived structure at the committed head).
  */
object AnnCatalog {

  private val PSrc = "graft.ann.source"
  private val PKey = "graft.ann.key"
  private val PVec = "graft.ann.vec"
  private val PMode = "graft.ann.mode"

  /** The frozen-quantizer sidecar: O(centroidCap × dim) parquet inside
    * the index table's directory. Not data, not a commit artifact —
    * retention GC and VACUUM both key on marker/manifest/data-file
    * patterns and never touch it.
    */
  private def sidecar(ixPath: String): String = ixPath + "/_ann_centroids"

  /** The IVF+PQ mode's persisted codebook sidecar: O(M·k) rows of
    * (sub, j, cq) — like the centroids, frozen at create time.
    */
  private def pqSidecar(ixPath: String): String = ixPath + "/_ann_pq_codebook"

  private def centroids(spark: SparkSession, ixPath: String): DataFrame =
    Tables.readParquet(spark, sidecar(ixPath))
      .select(col("cent_id"), col("cv"), col("cnrm2"))

  private def annOpts(
      cat: GraftCatalog,
      ixIdent: String): Map[String, String] = {
    val o = cat.tableOptions(MaterializedViews.identOf(ixIdent))
    require(o.contains(PSrc),
      s"'$ixIdent' is not an ANN index (no $PSrc property — " +
        "create it with CALL cat.sys.create_ann)")
    o
  }

  /** Create + first full build. Returns postings rows written. `mode`
    * is `ivf` (uncompressed postings, exact cosine over probed cells)
    * or `ivfpq` (additionally trains and freezes a product-quantizer
    * codebook sidecar; `ann_search` then ADC-shortlists by compressed
    * distance before the exact re-rank — the memory/IO shape that
    * serves at billion-vector scale).
    */
  def create(
      spark: SparkSession,
      cat: GraftCatalog,
      ixIdent: String,
      srcIdent: String,
      keyCol: String,
      vecCol: String,
      mode: String = "ivf"): Long = {
    require(mode == "ivf" || mode == "ivfpq",
      s"create_ann: unknown mode '$mode' (ivf | ivfpq)")
    val srcOpts = cat.tableOptions(MaterializedViews.identOf(srcIdent))
    val srcSchema = DataType.fromJson(srcOpts("schema"))
      .asInstanceOf[StructType]
    def srcField(c: String): StructField = srcSchema.fields
      .find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"create_ann: column '$c' not in source schema " +
          srcSchema.fieldNames.mkString("(", ",", ")")))
    val keyType = srcField(keyCol).dataType
    val vecType = srcField(vecCol).dataType
    require(vecType == ArrayType(FloatType, containsNull = true) ||
      vecType == ArrayType(FloatType, containsNull = false),
      s"create_ann: '$vecCol' must be ARRAY<FLOAT>, got ${vecType.sql}")
    // VALIDATE + TRAIN BEFORE REGISTERING: an empty source or a failed
    // training must leave no table behind (a stranded half-index would
    // make the re-run hit TableAlreadyExists with no centroid sidecar)
    val st = MergeSink.currentState(spark, srcOpts("path"))
      .getOrElse(throw new IllegalArgumentException(
        s"create_ann: source '$srcIdent' is empty — nothing to train on"))
    val ck2 = Embeddings.annTrain(
      spark, st.select(col(keyCol).as("vec_id"), col(vecCol).as("embedding")))
      // force training NOW — errors must surface before createTable
      .localCheckpoint()
    // ivfpq: the product-quantizer codebook also trains (and fails)
    // BEFORE the table registers — driver-bounded (sub, j, cq) rows
    val pqRows =
      if (mode != "ivfpq") Seq.empty
      else {
        val dim = st.select(org.apache.spark.sql.functions
          .size(col(vecCol))).head().getInt(0)
        require(dim == Embeddings.pqDim,
          s"create_ann: ivfpq mode quantizes ${Embeddings.pqDim}-dim " +
            s"vectors (M×dsub subspaces); '$vecCol' has $dim dims — " +
            "use mode 'ivf'")
        Embeddings.pqTrainRows(
          st.select(col(keyCol).as("vec_id"), col(vecCol).as("embedding")))
      }
    // postings schema is engine-owned: (vec_id, cell, embedding, nrm)
    // under the CELL-PRUNABLE layout — key (vec_id, cell),
    // identity(cell) partitioning, bucket_by(vec_id) — so a search's
    // probe cells prune whole manifest partitions while vec_id point
    // lookups still hash-prune (see [[Embeddings.annIndexRefresh]],
    // which lays the same layout down for non-catalog index dirs)
    val schema = StructType(Seq(
      StructField("vec_id", keyType),
      StructField("cell", LongType),
      StructField("embedding", vecType),
      StructField("nrm", DoubleType),
      StructField("__rv", LongType)))
    val P = org.apache.spark.sql.connector.catalog.TableCatalog.OPTION_PREFIX
    val props = new java.util.HashMap[String, String]()
    props.put("key", "vec_id,cell")
    props.put("seq", "__rv")
    props.put(P + "bucket_by", "vec_id")
    props.put(P + "buckets",
      spark.conf.getOption("spark.graft.annIndexBuckets").getOrElse("2"))
    props.put(P + PSrc, srcIdent)
    props.put(P + PKey, keyCol)
    props.put(P + PVec, vecCol)
    props.put(P + PMode, mode)
    val ixTableIdent = MaterializedViews.identOf(ixIdent)
    cat.createTable(ixTableIdent, schema,
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .identity("cell")),
      props)
    // anything failing past this point drops the staged table — the
    // CALL either completes (table + sidecar + first build) or leaves
    // the catalog as it found it
    try {
      val ixPath = cat.tableOptions(ixTableIdent)("path")
      // one tiny file, written once: the model is frozen at create time
      ck2.coalesce(1).write.mode("overwrite").parquet(sidecar(ixPath))
      if (pqRows.nonEmpty) {
        val s2 = spark
        import s2.implicits._
        pqRows.map { case (sb, j, cq) => (sb, j, cq.toSeq) }
          .toDF("sub", "j", "cq")
          .repartition(1)
          .write.mode("overwrite").parquet(pqSidecar(ixPath))
      }
      refresh(spark, cat, ixIdent)
    } catch {
      case e: Throwable =>
        try cat.dropTable(ixTableIdent)
        catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
  }

  /** Advance the postings to the source's head (0 = already current).
    * Also (re-)registers the index in the source's `_dependents`
    * sidecar and records its source in the index's own `_ann_source`,
    * so `spark.graft.autoRefreshAnn` and `.detail` staleness both see
    * it from then on.
    */
  def refresh(
      spark: SparkSession,
      cat: GraftCatalog,
      ixIdent: String): Long = {
    val ixOpts = annOpts(cat, ixIdent)
    val srcOpts = cat.tableOptions(MaterializedViews.identOf(ixOpts(PSrc)))
    refreshDirs(spark,
      srcDir = srcOpts("path"),
      srcKey = ixOpts(PKey),
      ixDir = ixOpts("path"),
      vecCol = ixOpts(PVec))
  }

  /** Dir-level refresh + registration (shared by the procedure path and
    * the in-commit auto-refresh hook).
    */
  def refreshDirs(
      spark: SparkSession,
      srcDir: String,
      srcKey: String,
      ixDir: String,
      vecCol: String): Long = {
    MaterializedViews.registerDependentLine(spark, srcDir,
      depDir = ixDir, line = Seq("ann", ixDir, srcDir, srcKey, vecCol))
    // first line records the maintainer's runId VERBATIM — `.detail`
    // may resolve the index under a QUALIFIED path (file:/…), and a
    // re-derived md5 of that string would never match the commits
    // (the exact pitfall the MV sidecar documents)
    MaterializedViews.recordSidecar(spark, ixDir, "_ann_source",
      Seq(s"run\t${Embeddings.annRunId(ixDir)}", srcDir, srcKey, vecCol))
    Embeddings.annIndexRefresh(
      spark,
      srcDir = srcDir,
      srcKey = srcKey,
      ixDir = ixDir,
      ck2 = centroids(spark, ixDir),
      vecCol = vecCol)
  }

  /** Re-entrancy guard for the in-commit hook (an index commit's own
    * publish must not recurse).
    */
  private val inAutoRefresh =
    new ThreadLocal[java.util.HashSet[String]] {
      override def initialValue() = new java.util.HashSet[String]()
    }

  /** Called from the commit publish path when
    * `spark.graft.autoRefreshAnn` is set: advance every ANN index
    * registered over `srcDir` — O(changed keys × centroids) of exactly
    * the commit's delta, the autoRefreshMv discipline.
    */
  def autoRefresh(spark: SparkSession, srcDir: String): Unit = {
    val lines = MaterializedViews.dependentLines(spark, srcDir)
      .flatMap(_.split('\t') match {
        case Array("ann", ixDir, sd, srcKey, vecCol) =>
          Some((ixDir, sd, srcKey, vecCol))
        case _ => None
      })
    if (lines.isEmpty) return
    val set = inAutoRefresh.get()
    if (!set.add(srcDir)) return
    try lines.foreach { case (ixDir, sd, srcKey, vecCol) =>
      refreshDirs(spark, sd, srcKey, ixDir, vecCol)
    } finally set.remove(srcDir)
  }

  /** The index's staleness: (source dir, source versions not yet
    * applied). None when `dir` is not a maintained ANN index (or never
    * refreshed). Surfaces in `.detail` as ann_source /
    * ann_lag_versions.
    */
  def indexLag(spark: SparkSession, ixDir: String): Option[(String, Long)] = {
    val lines = MaterializedViews.sidecarOf(spark, ixDir, "_ann_source")
    // recorded verbatim (see refreshDirs); sidecars predating the id
    // line fall back to the path derivation
    val runId = lines.headOption.collect {
      case l if l.startsWith("run\t") => l.stripPrefix("run\t")
    }.getOrElse(Embeddings.annRunId(ixDir))
    val srcLines = if (lines.headOption.exists(_.startsWith("run\t")))
      lines.tail else lines
    srcLines.headOption.map { srcDir =>
      val applied = MergeSink.commits(spark, ixDir)
        .filter(_.runId == runId).map(_.epoch).maxOption
      val head = MergeSink.lastCommit(spark, srcDir).map(_.version)
      val lag = (applied, head) match {
        case (Some(a), Some(h)) => math.max(h - a, 0L)
        case (None, Some(h)) => h + 1 // never applied: everything lags
        case _ => 0L
      }
      srcDir -> lag
    }
  }

  /** Cosine top-k per query-panel row, multi-probe IVF over the served
    * postings. The panel table exposes the SAME key/vector columns as
    * the index's source. Self-matches (panel key == posting key) are
    * excluded. Returns (query_id, rank, neighbor_id, cos). A panel
    * larger than the cap answers in cap-sized batches — each batch is
    * an independent bounded probe, so per-batch materialization never
    * exceeds the response size the cap was chosen for.
    */
  def search(
      spark: SparkSession,
      cat: GraftCatalog,
      ixIdent: String,
      queriesIdent: String,
      k: Int,
      probes: Int): DataFrame = {
    require(k >= 1, s"ann_search: k must be >= 1, got $k")
    require(probes >= 1, s"ann_search: probes must be >= 1, got $probes")
    val ixOpts = annOpts(cat, ixIdent)
    val keyCol = ixOpts(PKey)
    val vecCol = ixOpts(PVec)
    val qOpts = cat.tableOptions(MaterializedViews.identOf(queriesIdent))
    // LAZY checkpoint: the cap count below is the materializing job —
    // one job total, and every batch then reads the checkpointed blocks
    val panel = MergeSink.currentState(spark, qOpts("path"))
      .getOrElse(throw new IllegalArgumentException(
        s"ann_search: query table '$queriesIdent' is empty"))
      .select(col(keyCol).as("query_id"), col(vecCol).as("qv"))
      .localCheckpoint(eager = false)
    val maxPanel = spark.conf.getOption("spark.graft.annMaxQueryPanel")
      .map(_.toInt).getOrElse(10000)
    val ck2 = centroids(spark, ixOpts("path"))
    val served = spark.read.format("graft-merge")
      .option("path", ixOpts("path"))
      // the index table's OWN key — (vec_id, cell) on the
      // cell-prunable layout; a pre-layout index reads under its
      // recorded single key
      .option("key", ixOpts.getOrElse("key", "vec_id"))
      .option("seq", "__rv")
      .load()
    val qn = panel.count() // materializes the lazy checkpoint
    // batch the panel: each query rides exactly one batch (panel keys
    // are unique — it is a merge table's latest state), so the union
    // of per-batch top-k IS the whole answer. zipWithIndex assigns
    // batch ids DISTRIBUTED with an EXACT ≤ maxPanel bound (a global
    // row_number window would funnel the whole — by definition
    // over-cap — panel through one task; a hash split bounds only in
    // expectation).
    val nBatches = math.max(1, ((qn + maxPanel - 1) / maxPanel).toInt)
    val withBatch =
      if (nBatches == 1) panel.withColumn("__batch", lit(0))
      else {
        val pSchema = panel.schema
          .add(org.apache.spark.sql.types.StructField(
            "__batch", org.apache.spark.sql.types.IntegerType,
            nullable = false))
        spark.createDataFrame(
          panel.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq :+ (i / maxPanel).toInt)
          }, pSchema)
          .localCheckpoint() // assign once; every batch filters from it
      }
    // ONE probe pass for the WHOLE panel (the batch id rides through),
    // checkpointed so the cell collect below and every per-batch
    // broadcast read the same blocks
    val probe = Embeddings
      .annProbe(withBatch, ck2, probes, carry = Seq("__batch"))
      // probe cell inherits the source key's type; the served
      // postings' cell is BIGINT — align the equi-join key exactly
      .withColumn("cell", col("cell").cast("long"))
      .localCheckpoint(eager = false)
    // the probed cells are DRIVER-BOUNDED (≤ centroidCap distinct
    // values, whatever the panel size): collect them and push a STATIC
    // `cell IN (...)` predicate into the served scan. On the
    // cell-prunable layout that is manifest-level file pruning —
    // candidate IO is the probed cells' files, never the whole index;
    // a pre-layout index still gets parquet row-group skipping from
    // the same pushed predicate.
    val cells = probe.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned0 = served.filter(col("cell").isin(cells.map(c => c: Any): _*))
    // one pruned scan serves every batch. Under ivfpq the ONLY reader
    // of `pruned` is the call-scoped encode (annPqServedPrep), whose
    // output is itself checkpointed — a second checkpoint of the raw
    // slice would only duplicate executor storage.
    val isPq = ixOpts.getOrElse(PMode, "ivf") == "ivfpq"
    val pruned =
      if (nBatches == 1 || isPq) pruned0
      else pruned0.localCheckpoint(eager = false)
    // ivfpq index: ADC-shortlist against the frozen codebook sidecar,
    // exact re-rank of the shortlist — candidate IO identical (the same
    // pruned cells), candidate COMPUTE compressed. The model collect
    // and the candidate-level encode are BATCH-INVARIANT (a vector's
    // code is query-independent), so they are built once here and
    // every batch reuses them — the former per-batch prep re-encoded
    // and re-checkpointed the full pruned slice nBatches times.
    val pqIx: Option[Embeddings.ServedPqIndex] =
      if (!isPq) None
      else Some(Embeddings.annPqServedPrep(pruned,
        Tables.readParquet(spark, pqSidecar(ixOpts("path")))
          .select(col("sub"), col("j"), col("cq"))))
    def searchBatch(b: Int): DataFrame = {
      val bp = probe.filter(col("__batch") === b).drop("__batch")
      pqIx match {
        case Some(ix) => Embeddings.annPqSearchServed(ix, bp, k)
        case None =>
          val wRank = Window
            .partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id").asc)
          pruned
            .join(broadcast(bp), Seq("cell"))
            .filter(col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
                .as("cos"))
            .withColumn("rank", row_number().over(wRank).cast("long"))
            .filter(col("rank") <= k)
            .select(
              col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      }
    }
    (0 until nBatches).map(searchBatch).reduce(_ unionAll _)
      .orderBy(col("query_id"), col("rank"))
  }
}
