package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.MergeSink

/** `graft-merge` — a DataSourceV2 connector over the [[MergeSink]]
  * transactional merge table, so the table reads like any other Spark
  * source instead of only through library calls:
  *
  * {{{
  *   spark.read.format("graft-merge")
  *     .option("path", dir).option("key", "user_id").load()
  *   spark.readStream.format("graft-merge")
  *     .option("path", dir).option("cdc", "true").load()
  * }}}
  *
  * BATCH: the current committed snapshot (tombstones hidden, exactly
  * [[MergeSink.currentState]]). The ScanBuilder implements
  * `SupportsPushDownFilters` + `SupportsPushDownRequiredColumns`:
  * an `=` / `IN` predicate on the merge KEY, or an OR of per-tuple key
  * equalities, prunes the scan to the buckets those keys hash into —
  * the [[MergeSink.pointLookup]] logic moved INTO the source, where
  * Catalyst's own pushdown drives it. At
  * 100 TB a point read plans O(keys) bucket files of O(100 MB–1 GB),
  * never the table; column pruning reaches the parquet projection the
  * same way (`ReadSchema` is the pruned struct). A key-pinned read of at
  * most [[GraftMergeScan.DriverReadMaxFiles]] (16) planned files holding
  * at most [[GraftMergeScan.DriverReadMaxBytes]] (3 MiB, from the
  * manifest) is answered on the driver: the session
  * extension's [[graft.plans.DriverReadStrategy]] plans it as one leaf
  * that reads those buckets through this scan's own reader factory and
  * applies the filters and projection interpreted — no Spark job and no
  * generated class per point read (the literal would otherwise be
  * inlined into a freshly compiled whole-stage class per key).
  *
  * STREAMING (`cdc=true`): a `MicroBatchStream` that REPLAYS THE COMMIT
  * LOG — each offset is a committed version; each micro-batch emits the
  * bucket files that version physically wrote, tagged `_version` /
  * `_bucket`, with tombstones retained. This is the dual of the
  * reference WAL's ordered replay (/root/reference/src/opusdb/logging/
  * log_mgr.clj:16-33 — `seq` walks records oldest-first so a consumer
  * reconstructs state; `:46-66` appends with monotone LSNs): version
  * numbers are the LSNs, marker files the durable log, and a downstream
  * query folds the replayed epochs back into state or a change feed.
  * Replay reaches only versions still inside the retention window
  * (GC keeps current + previous, like any CDF retention contract);
  * asking for a collected version fails loudly rather than silently
  * skipping committed history.
  *
  * The reader is VECTORIZED (see [[MergeReaderFactory]]): file splits
  * bin-pack into read tasks with Spark's own split math (a fragmented
  * small-bucket table doesn't pay a task per tiny file), each split
  * decodes through Spark's `VectorizedParquetRecordReader` into
  * `ColumnarBatch`es with per-file schema reconciliation (a column
  * absent from an older file reads as NULL — the mixed-schema CDC
  * case), no driver-side row movement.
  */
class GraftMergeProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-merge"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = MergeTableUtil.dirOf(options)
    val cdc = options.getBoolean("cdc", false)
    val visible = MergeTableUtil.dataSchema(spark, dir)
    if (cdc)
      StructType(
        visible.fields.toSeq ++
          (if (visible.fieldNames.contains(MergeSink.DeletedCol)) Nil
           else Seq(StructField(MergeSink.DeletedCol, BooleanType))) ++
          Seq(
            StructField(MergeTableUtil.VersionCol, LongType, nullable = false),
            StructField(MergeTableUtil.BucketCol, IntegerType, nullable = false)))
    else
      StructType(visible.fields.filterNot(_.name == MergeSink.DeletedCol))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftMergeTable(schema, properties.asScala.toMap)

  // writes to a not-yet-committed table must not trip schema inference:
  // the incoming DataFrame's schema IS the metadata
  override def supportsExternalMetadata(): Boolean = true
}

private[graft] object MergeTableUtil {
  val VersionCol = "_version"
  val BucketCol = "_bucket"
  val FileCol = "_file"

  /** Scan-served metadata columns (never stored in data files): the
    * commit that wrote the row's file, its bucket, and the file path —
    * all split-constant, served as constant vectors at zero per-row
    * cost. Batch tables expose them via SupportsMetadataColumns (hidden
    * until selected — the Iceberg `_file` convention); the CDC schema
    * carries `_version`/`_bucket` as ordinary columns, shadowing these.
    */
  val metaFields: Seq[StructField] = Seq(
    StructField(VersionCol, LongType, nullable = false),
    StructField(BucketCol, IntegerType, nullable = false),
    StructField(FileCol, StringType, nullable = false))

  def isMetaCol(name: String): Boolean =
    name == VersionCol || name == BucketCol || name == FileCol

  def dirOf(options: CaseInsensitiveStringMap): String = {
    val d = options.get("path")
    require(d != null && d.nonEmpty, "graft-merge: option 'path' is required")
    d
  }

  /** `timestampAsOf` accepted forms: epoch MILLIS (all digits), SQL
    * timestamp (`2026-08-15 12:00:00[.fff]`), or ISO-8601 instant.
    * A ZONE-LESS timestamp resolves in the SESSION timezone
    * (`spark.sql.session.timeZone`) — the same resolution Spark
    * applies to `TIMESTAMP AS OF '<literal>'` before handing the
    * catalog epoch micros, so the SQL clause, this option, and
    * `CALL restore_ts` all pick the same version for the same string
    * (the Delta convention; previously this parsed as UTC and the
    * three entry points disagreed on any non-UTC session).
    */
  def parseTsMillis(raw: String): Long = {
    val s = raw.trim
    if (s.forall(_.isDigit)) s.toLong
    else
      try java.time.Instant.parse(s).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          val zone = java.time.ZoneId.of(
            SparkSession.active.conf
              .get("spark.sql.session.timeZone", java.util.TimeZone
                .getDefault.getID))
          java.time.LocalDateTime
            .parse(s.replace(' ', 'T'))
            .atZone(zone)
            .toInstant
            .toEpochMilli
      }
  }

  /** Physical data schema of the CURRENT snapshot: union-by-name of the
    * manifest files' footers (mixed schemas arise from CDC batches onto
    * pre-CDC tables). Driver-side O(files) metadata reads — the same
    * listing planning already does.
    */
  def dataSchema(spark: SparkSession, dir: String): StructType = {
    val c = MergeSink
      .lastCommit(spark, dir)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-merge: no committed version at $dir"))
    // the manifest's recorded union schema answers with ZERO footer
    // reads; legacy manifests fall back to the footer sweep
    MergeSink.manifestSchema(spark, dir, c.version).getOrElse {
      MergeSink.metadataFallbacks.incrementAndGet()
      val files =
        currentDataFiles(spark, dir, c.version).values.flatMap(_._2).toSeq
      require(files.nonEmpty,
        s"graft-merge: committed version ${c.version} references no data files")
      val conf = spark.sessionState.newHadoopConf()
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
      files.foreach { f =>
        footerOf(conf, f).getFields.asScala.foreach { t =>
          val p = t.asPrimitiveType()
          val sf = sparkFieldOf(p)
          fields.get(sf.name) match {
            case Some(prev) =>
              require(prev.dataType == sf.dataType,
                s"graft-merge: column ${sf.name} has conflicting types " +
                  s"${prev.dataType} vs ${sf.dataType} across bucket files")
            case None => fields += sf.name -> sf
          }
        }
      }
      StructType(fields.values.toSeq)
    }
  }

  def footerOf(conf: Configuration, file: String): MessageType =
    graft.ParquetFooters.read(new Path(file), conf).getFileMetaData.getSchema

  /** Spark type for one flat parquet primitive (the merge table is flat
    * by construction — Spark wrote its buckets).
    */
  def sparkFieldOf(f: PrimitiveType): StructField = {
    def tsAnn = f.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t)
      case _ => None
    }
    // An annotated INT32/INT64 whose annotation we don't model (decimal,
    // date, unsigned int …) must FAIL, not silently surface the physical
    // value (an unscaled decimal read as a plain long is the same
    // silent-misdecode class the BINARY arm below guards against).
    def requirePlainInt(width: Int): Unit = f.getLogicalTypeAnnotation match {
      case null => ()
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if i.getBitWidth == width && i.isSigned => ()
      case other =>
        throw new IllegalArgumentException(
          s"graft-merge: INT$width column ${f.getName} carries logical type " +
            s"$other — would silently misdecode as a plain INT$width; " +
            "flat Spark-written primitive buckets only")
    }
    val t: DataType = f.getPrimitiveTypeName match {
      case INT64 =>
        tsAnn match {
          case Some(a) if a.getUnit == TimeUnit.NANOS =>
            throw new IllegalArgumentException(
              s"graft-merge: TIMESTAMP(NANOS) column ${f.getName} unsupported " +
                "(merge buckets are Spark-written MICROS/MILLIS)")
          case Some(a) => if (a.isAdjustedToUTC) TimestampType else TimestampNTZType
          case None => requirePlainInt(64); LongType
        }
      case INT32 if f.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        DateType
      case INT32 => requirePlainInt(32); IntegerType
      case DOUBLE => DoubleType
      case FLOAT => FloatType
      case BOOLEAN => BooleanType
      case BINARY if f.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        StringType
      case other =>
        throw new IllegalArgumentException(
          s"graft-merge: unsupported parquet primitive $other for ${f.getName}")
    }
    StructField(f.getName, t)
  }

  /** bucket -> (content version, data files) of one committed version.
    * The content version is the manifest entry — the commit that WROTE
    * the bucket's current files, which a CDC batch read surfaces as
    * `_version` (never a placeholder).
    */
  def currentDataFiles(
      spark: SparkSession,
      dir: String,
      version: Long): Map[Int, (Long, Seq[String])] = {
    lazy val conf = spark.sessionState.newHadoopConf()
    val recorded = MergeSink.manifestFiles(spark, dir, version)
    MergeSink.manifest(spark, dir, version).map { case (b, v) =>
      val files = recorded.get(b) match {
        // manifest-recorded names: zero listings per planning
        case Some(names) =>
          names.map(n => MergeSink.dataPath(spark, dir, b, v) + "/" + n)
        case None =>
          MergeSink.metadataFallbacks.incrementAndGet()
          val d = new Path(MergeSink.dataPath(spark, dir, b, v))
          val fs = d.getFileSystem(conf)
          if (!fs.exists(d)) Seq.empty[String]
          else fs.listStatus(d).iterator.map(_.getPath.toString)
            .filter(_.endsWith(".parquet")).toSeq.sorted
      }
      b -> (v, files)
    }
  }

  /** The same bucket function the writer used (`pmod(xxhash64(k), nb)`),
    * evaluated driver-side on a literal — metadata, not a job.
    */
  def bucketOf(value: Any, dt: DataType, nb: Int): Int =
    bucketOfTuple(Seq(value), Seq(dt), nb)

  /** Composite-key bucket: values/types in the key list's declared
    * order, hashed exactly as the writer's `xxhash64(k1, k2, …)`.
    */
  def bucketOfTuple(values: Seq[Any], dts: Seq[DataType], nb: Int): Int = {
    val h = XxHash64(
      values.zip(dts).map { case (v, dt) => Literal.create(v, dt) }, 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
    (((h % nb) + nb) % nb).toInt
  }
}

class GraftMergeTable(tableSchema0: StructType, props: Map[String, String])
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_version` / `_bucket` / `_file`, selectable by name but hidden
    * from `SELECT *` (Spark's metadata-column resolution). On a CDC
    * table the data schema already carries `_version`/`_bucket`;
    * declaring a conflicting name here is shadowed by the data column,
    * per the SupportsMetadataColumns contract.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    MergeTableUtil.metaFields
      .filterNot(m => tableSchema0.fieldNames.contains(m.name))
      .map(f =>
        new org.apache.spark.sql.connector.catalog.MetadataColumn {
          override def name(): String = f.name
          override def dataType(): DataType = f.dataType
          override def isNullable: Boolean = false
          override def comment(): String =
            "graft-merge scan metadata (split-constant)"
        })
      .toArray

  /** The merge key and seq are NOT NULL by the table's own contract
    * (every row is identified and ordered by them — the Iceberg
    * "identifier fields are required" discipline), and row-level DML
    * requires non-nullable row-id attributes.
    */
  private val tableSchema = {
    val idCols =
      props.get("key").toSeq.flatMap(MergeSink.keyCols).toSet ++
        props.get("seq")
    StructType(tableSchema0.fields.map(f =>
      if (idCols.contains(f.name)) f.copy(nullable = false) else f))
  }

  override def name(): String = s"graft-merge `${props.getOrElse("path", "?")}`"
  override def schema(): StructType = tableSchema

  /** Surface the merge options (and any user table properties) to SQL:
    * `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED` read this.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, // INSERT OVERWRITE = truncate-and-load
      // MERGE ... WITH SCHEMA EVOLUTION: Spark derives AddColumn
      // changes from the source's extra columns and applies them
      // through the catalog's alterTable (our metadata-only ADD
      // COLUMN) before resolving the merge — new columns land with
      // zero data rewritten, old rows read NULL
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // -------------------------------------------------------------------
  // SQL DELETE (`DELETE FROM t WHERE …`) — a TOMBSTONE COMMIT, the
  // same mechanism CDC deletes use (MergeSink object doc): matching
  // VISIBLE rows re-enter the merge as `__deleted = true` at
  // `seq + 1`, so each tombstone wins its own key's latest-by-seq race
  // while a genuinely newer upsert (seq beyond the tombstone's) still
  // resurrects the key — DELETE is an event in the log, not an erasure.
  // The matching read goes through the connector's own scan, so a
  // key-predicate DELETE is bucket-pruned exactly like a point lookup;
  // abort safety is upsertBatch's (nothing visible until the marker).
  // -------------------------------------------------------------------
  // -------------------------------------------------------------------
  // Row-level SQL DML (MERGE INTO / UPDATE / subquery DELETE): the
  // delta protocol — see sources/MergeRowLevelOps.scala. Translatable
  // DELETEs still short-circuit through the metadata path below.
  // -------------------------------------------------------------------
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    def prop(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"graft-merge row-level DML: table property '$k' is required"))
    val (dir, key, seq) = (prop("path"), prop("key"), prop("seq"))
    () => new GraftMergeRowLevelOperation(
      dir, key, seq, tableSchema, info.command)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    MergeDeleteSupport.translate(filters, tableSchema).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    def prop(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"graft-merge DELETE: table property '$k' is required"))
    val (dir, key, seq) = (prop("path"), prop("key"), prop("seq"))
    val cond = MergeDeleteSupport.translate(filters, tableSchema)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-merge DELETE: cannot translate ${filters.mkString(", ")}"))
    // Pin the snapshot: the emptiness check and the tombstone build are
    // two scans, and without an explicit version a commit landing
    // between them could change the matched set (single-writer is the
    // table's discipline, but the pin costs nothing and removes the
    // race class). The pinned version stays readable: retention keeps
    // current + previous, and this DELETE is the only next commit.
    val pinned = MergeSink.lastCommit(spark, dir).map(_.version)
      .getOrElse(return) // never-committed table: no-op
    val matching = spark.read.format("graft-merge")
      .option("path", dir).option("key", key)
      .option("versionAsOf", pinned.toString)
      .load()
      .filter(cond)
    if (matching.isEmpty) return // no-op DELETE commits nothing
    val tombstones = matching
      .withColumn(seq, org.apache.spark.sql.functions.col(seq) + 1)
      .withColumn(MergeSink.DeletedCol,
        org.apache.spark.sql.functions.lit(true))
    MergeSink.upsertBatch(
      tombstones, dir, key, seq, epochId = 0L,
      runId = s"sqldel-${java.util.UUID.randomUUID()}")
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-loaded tables carry path/key/seq as TABLE PROPERTIES (the
    // SQL reader passes no per-scan options); per-read options override
    val merged = new java.util.HashMap[String, String]
    props.foreach { case (k, v) => merged.put(k, v) }
    merged.putAll(options.asCaseSensitiveMap())
    val o = new CaseInsensitiveStringMap(merged)
    // TIMESTAMP-based travel resolves to a version HERE (one marker
    // listing) so everything downstream — pruning, statistics, the agg
    // pushdown — sees exactly the versionAsOf machinery
    val spark = SparkSession.active
    val dir = MergeTableUtil.dirOf(o)
    // a non-numeric versionAsOf is a NAMED TAG ref (_refs/<name>)
    val asOf = Option(o.get("versionAsOf")).map { raw =>
      raw.toLongOption.getOrElse(
        graft.streaming.MergeSink.tagVersion(spark, dir, raw).getOrElse(
          throw new IllegalArgumentException(
            s"graft-merge: versionAsOf='$raw' is neither a version " +
              s"number nor a tag of $dir (tags: ${graft.streaming.MergeSink
                .tags(spark, dir).keys.toSeq.sorted.mkString(",")})")))
    }.orElse(
      Option(o.get("timestampAsOf")).map { raw =>
        val ts = MergeTableUtil.parseTsMillis(raw)
        graft.streaming.MergeSink.versionAt(spark, dir, ts).getOrElse(
          throw new IllegalArgumentException(
            s"graft-merge: no commit at or before timestampAsOf=$raw"))
      })
    // CDC replay start: `startingVersion` = first version to replay
    // ("latest" = only commits AFTER the query starts — the new-data-
    // only subscription). Resolved to the stream's initial offset
    // (highest version already consumed).
    val startOffset = Option(o.get("startingVersion")).map {
      case "latest" =>
        graft.streaming.MergeSink
          .lastCommit(spark, dir).map(_.version).getOrElse(-1L)
      case v => v.toLong - 1L
    }
    // Streaming ADMISSION CONTROL: cap how many commit-log versions one
    // micro-batch replays (the maxFilesPerTrigger dual for a version-
    // addressed log). A catch-up read over a deep retained history —
    // routine against a 100 TB table with history_keep in the hundreds —
    // must drain in bounded batches, not one giant replay.
    def posLong(name: String): Option[Long] =
      Option(o.get(name)).map { raw =>
        val v = raw.toLong
        require(v > 0, s"graft-merge: $name must be > 0, got $raw")
        v
      }
    val maxVersions = posLong("maxVersionsPerTrigger")
    val maxBytes = posLong("maxBytesPerTrigger")
    new GraftMergeScanBuilder(
      spark,
      dir,
      Option(o.get("key")),
      o.getBoolean("cdc", false),
      asOf,
      tableSchema,
      startOffset,
      maxVersions,
      maxBytes)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    def opt(name: String): String =
      Option(info.options.get(name))
        .orElse(props.get(name))
        .getOrElse(throw new IllegalArgumentException(
          s"graft-merge write: option '$name' is required (merge semantics)"))
    new GraftMergeWriteBuilder(opt("path"), opt("key"), opt("seq"), info)
  }
}

/** V1 `Filter` -> `Column` translation for the DELETE path. Supports
  * the flat-predicate grammar a merge-table DELETE meaningfully uses;
  * an untranslatable filter makes `canDeleteWhere` false, and Spark
  * reports the DELETE as unsupported instead of silently over- or
  * under-deleting.
  */
private[graft] object MergeDeleteSupport {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.sources

  def translate(filters: Array[Filter], schema: StructType): Option[Column] =
    if (filters.isEmpty) Some(lit(true)) // TRUNCATE: every row
    else {
      val cols = filters.map(one(_, schema))
      if (cols.forall(_.isDefined)) Some(cols.flatten.reduce(_ && _)) else None
    }

  private def one(f: Filter, schema: StructType): Option[Column] = {
    def ref(name: String): Option[Column] =
      if (schema.fieldNames.contains(name)) Some(col(name)) else None
    f match {
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.EqualTo(a, v) => ref(a).map(_ === lit(v))
      case sources.EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
      case sources.In(a, vs) => ref(a).map(_.isin(vs.toIndexedSeq: _*))
      case sources.GreaterThan(a, v) => ref(a).map(_ > lit(v))
      case sources.GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case sources.LessThan(a, v) => ref(a).map(_ < lit(v))
      case sources.LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
      case sources.IsNull(a) => ref(a).map(_.isNull)
      case sources.IsNotNull(a) => ref(a).map(_.isNotNull)
      case sources.StringStartsWith(a, v) => ref(a).map(_.startsWith(v))
      case sources.StringEndsWith(a, v) => ref(a).map(_.endsWith(v))
      case sources.StringContains(a, v) => ref(a).map(_.contains(v))
      case sources.Not(c) => one(c, schema).map(!_)
      case sources.And(l, r) =>
        for (a <- one(l, schema); b <- one(r, schema)) yield a && b
      case sources.Or(l, r) =>
        for (a <- one(l, schema); b <- one(r, schema)) yield a || b
      case _ => None
    }
  }
}

class GraftMergeScanBuilder(
    spark: SparkSession,
    dir: String,
    keyCol: Option[String],
    cdc: Boolean,
    versionAsOf: Option[Long],
    fullSchema: StructType,
    startOffset: Option[Long] = None,
    maxVersions: Option[Long] = None,
    maxBytes: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  /** The merge key columns (a comma-list option for composite keys). */
  private val kcols: Seq[String] =
    keyCol.map(MergeSink.keyCols).getOrElse(Nil)

  /** Key TUPLES extracted from prunable predicates (each tuple = one
    * value per key column, declared order), or None = no pruning.
    */
  private var keyValues: Option[Seq[Seq[Any]]] = None

  // -------------------------------------------------------------------
  // AGGREGATE PUSHDOWN: count(*) / count(col) / min / max answered from
  // parquet FOOTERS + the manifest — zero data-file reads (the DSv2
  // dual of the manifest-served q_table_checksum discipline). Complete
  // pushdown is accepted ONLY when the footer answer is provably the
  // query answer: no filter anywhere (every filter stays post-scan
  // here, so a filtered aggregate never reaches this path with
  // Catalyst's rule either), no GROUP BY, no tombstones physically
  // retained (a CDC table's footer counts would include them), and the
  // statistics actually present in every footer — otherwise fall back
  // to the normal columnar scan. At 100 TB this turns count/min/max
  // maintenance queries into O(files) driver metadata reads.
  // -------------------------------------------------------------------
  private var aggPushed: Option[(StructType, Array[Any], String)] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (aggPushed.isEmpty) aggPushed = tryFooterAggregation(agg)
    aggPushed.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (aggPushed.isEmpty) aggPushed = tryFooterAggregation(agg)
    aggPushed.isDefined
  }

  private def tryFooterAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // ORDER MATTERS: every re-plan of an aggregate over this scan calls
    // in here, so the PURE rejects (wrong scan kind, unsupported
    // aggregate grammar) must run before anything that touches the
    // filesystem — an unpushable sum() used to pay a 16-footer
    // driver-side sweep per planning (measured ~0.24 s fixed cost).
    if (cdc || pushed.nonEmpty || keyValues.isDefined) return None
    if (agg.groupByExpressions.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == f.fieldNames.head)
      case _ => None
    }
    // min/max only on types whose parquet statistics order == Spark's
    // (signed ints, booleans, UTF8 byte-wise strings); float/double are
    // excluded (NaN makes writer stats untrustworthy), timestamps too
    def statsSafe(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | BooleanType | StringType => true
      case _ => false
    }
    val wanted: Option[Seq[(String, DataType, AggregateFunc)]] =
      Some(agg.aggregateExpressions.toSeq).filter(_.nonEmpty).flatMap { fns =>
        val resolved = fns.map {
          case c: CountStar => Some(("count(*)", LongType: DataType, c))
          case c: Count if !c.isDistinct =>
            colOf(c.column).map(f => (s"count(${f.name})", LongType: DataType, c))
          case m: Min =>
            colOf(m.column).filter(f => statsSafe(f.dataType))
              .map(f => (s"min(${f.name})", f.dataType, m))
          case m: Max =>
            colOf(m.column).filter(f => statsSafe(f.dataType))
              .map(f => (s"max(${f.name})", f.dataType, m))
          case _ => None
        }
        if (resolved.forall(_.isDefined)) Some(resolved.map(_.get)) else None
      }
    if (wanted.isEmpty) return None
    // only a provably-pushable aggregate pays the metadata reads:
    // resolve the snapshot, then reject tables physically retaining
    // tombstones (footer counts would include them)
    val version = versionAsOf.orElse(
      MergeSink.lastCommit(spark, dir).map(_.version))
    val byBucket: Map[Int, (Long, Seq[String])] = version match {
      case None => Map.empty
      case Some(v) =>
        if (!MergeSink.commits(spark, dir).exists(_.version == v) ||
          MergeSink.manifest(spark, dir, v).isEmpty) return None
        MergeTableUtil.currentDataFiles(spark, dir, v)
    }
    val files: Seq[String] = byBucket.values.flatMap(_._2).toSeq
    // one copy of the session's Hadoop conf serves every footer read
    // below
    lazy val conf = spark.sessionState.newHadoopConf()
    // tombstone rejection against the RESOLVED version's own files —
    // a time-travel aggregate must not trust the HEAD schema (the
    // snapshots can differ): manifest flags when present, else the
    // resolved files' footers (the same footers compute() reads anyway)
    if (files.nonEmpty) {
      val flags = MergeSink.manifestDeletedFlags(spark, dir, version.get)
      val hasTombstoneCol =
        if (byBucket.keySet.forall(flags.contains)) flags.exists(_._2 == 1L)
        else
          files.exists(f =>
            MergeTableUtil.footerOf(conf, f)
              .containsField(MergeSink.DeletedCol))
      if (hasTombstoneCol) return None
    }
    wanted.flatMap { fns =>
      FooterStats.compute(conf, files, fns).map { values =>
        (StructType(fns.map { case (n, dt, _) => StructField(n, dt) }),
          values,
          s"files=${files.size}")
      }
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (kcols.nonEmpty) keyValues = keyTuples(filters.toSeq)
    // Record every comparison conjunct the reader can hand to parquet
    // as a row-group filter (the level of pruning BELOW the bucket —
    // it bites on compacted, key-sorted buckets). Key-tuple bucket
    // pruning above uses only the equality subset; correctness needs
    // neither: every filter also stays post-scan (Spark re-evaluates) —
    // pruning here is purely an IO optimization.
    def skippable(f: Filter): Boolean = {
      def has(a: String) = fullSchema.fieldNames.contains(a)
      f match {
        case EqualTo(a, v) => v != null && has(a)
        case In(a, vs) => vs.nonEmpty && !vs.contains(null) && has(a)
        case org.apache.spark.sql.sources.GreaterThan(a, v) => v != null && has(a)
        case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v) => v != null && has(a)
        case org.apache.spark.sql.sources.LessThan(a, v) => v != null && has(a)
        case org.apache.spark.sql.sources.LessThanOrEqual(a, v) => v != null && has(a)
        case _ => false
      }
    }
    pushed = filters.filter(skippable)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Bucket pruning needs a bounded set of candidate key TUPLES (the
    * bucket is a hash of every key column). Each conjunct that binds key
    * columns yields a set of partial tuples — an equality or `IN` one
    * column's values, an `AND` the consistent combinations of its sides,
    * an `OR` the union of its arms, so `(a = 1 AND b = 2) OR …` is the
    * exact tuple set rather than a per-column cross product. Conjuncts
    * then intersect, those binding the most columns first; one whose set
    * or combination would pass [[GraftMergeScan.KeyTupleCap]] is left
    * out, which only widens the bound — a SUPERSET of the true tuples is
    * all file-level pruning needs (every filter also stays post-scan).
    * Tuples are in declared key order; None = some candidate leaves a key
    * column unbound, no pruning.
    */
  private def keyTuples(conjuncts: Seq[Filter]): Option[Seq[Seq[Any]]] = {
    type Part = Map[String, Any]
    val cap = GraftMergeScan.KeyTupleCap
    def one(k: String, vs: Seq[Any]): Option[Seq[Part]] =
      if (kcols.contains(k) && vs.nonEmpty && vs.size <= cap &&
        !vs.contains(null)) Some(vs.distinct.map(v => Map(k -> v)))
      else None
    def parts(f: Filter): Option[Seq[Part]] = f match {
      case EqualTo(k, v) => one(k, Seq(v))
      case EqualNullSafe(k, v) => one(k, Seq(v))
      case In(k, vs) => one(k, vs.toSeq)
      case And(l, r) => all(Seq(l, r))
      case Or(l, r) =>
        for (a <- parts(l); b <- parts(r); u = (a ++ b).distinct
          if u.size <= cap) yield u
      case _ => None
    }
    // SQL equality of two pushed values of one column (NaN = NaN)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case _ => a == b || a != a && b != b
    }
    def bound(ps: Seq[Part]): Int =
      ps.map(_.keySet).reduceOption(_ intersect _).fold(kcols.size)(_.size)
    def all(fs: Seq[Filter]): Option[Seq[Part]] =
      fs.flatMap(parts).sortBy(ps => (-bound(ps), ps.size))
        .reduceOption { (acc, ps) =>
          val joined = (for {
            x <- acc
            y <- ps
            if y.forall { case (k, v) => x.get(k).forall(same(_, v)) }
          } yield x ++ y).distinct
          if (joined.size <= cap) joined else acc
        }
    all(conjuncts).filter(_.forall(p => kcols.forall(p.contains)))
      .map(_.map(p => kcols.map(p)))
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep declared order; empty projection (count(*)) keeps zero fields.
    // Requested METADATA columns (_version/_bucket/_file on a batch
    // table — absent from fullSchema) append after the data columns,
    // where the reader's constant-vector mechanism serves them.
    required = StructType(
      fullSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)) ++
        MergeTableUtil.metaFields.filter(m =>
          requiredSchema.fieldNames.contains(m.name) &&
            !fullSchema.fieldNames.contains(m.name)))
  }

  override def build(): Scan = aggPushed match {
    case Some((schema, values, detail)) =>
      new GraftMergeAggScan(schema, values, detail)
    case None =>
      new GraftMergeScan(
        spark, dir, keyCol, cdc, versionAsOf, fullSchema, required, keyValues,
        pushed, startOffset, maxVersions, maxBytes)
  }
}

/** Driver-side footer aggregation for the pushed-aggregate path: every
  * value here comes from block metadata (row counts, null counts,
  * min/max statistics) — no data page is ever read. Returns None if any
  * required statistic is absent from any footer (the caller then falls
  * back to the real scan).
  */
private[graft] object FooterStats {

  def compute(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[String],
      fns: Seq[(String, DataType, org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)])
      : Option[Array[Any]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // one footer read per file, all blocks' column statistics merged.
    // minMaxOk goes false the moment any chunk with non-null values
    // carries no usable min/max (dropped oversized binary stats, absent
    // statistics) — the caller then falls back to a real scan.
    case class ColStats(
        valueCount: Long,
        nullCount: Option[Long],
        min: Option[Any],
        max: Option[Any],
        minMaxOk: Boolean)
    var totalRows = 0L
    val byCol = scala.collection.mutable.Map.empty[String, ColStats]
    files.foreach { f =>
      graft.ParquetFooters.read(new Path(f), conf)
        .getBlocks.asScala.foreach { block =>
          totalRows += block.getRowCount
          block.getColumns.asScala.foreach { chunk =>
            val name = chunk.getPath.toDotString
            val s = chunk.getStatistics
            val prev = byCol.getOrElse(
              name, ColStats(0L, Some(0L), None, None, minMaxOk = true))
            val nulls =
              if (s != null && s.isNumNullsSet)
                prev.nullCount.map(_ + s.getNumNulls)
              else None
            def better(cur: Option[Any], cand: Any, keepMin: Boolean): Option[Any] = {
              val cmp = s.comparator.asInstanceOf[java.util.Comparator[Any]]
              cur match {
                case None => Some(cand)
                case Some(c) =>
                  val d = cmp.compare(cand, c)
                  Some(if ((keepMin && d < 0) || (!keepMin && d > 0)) cand else c)
              }
            }
            val allNull = s != null && s.isNumNullsSet &&
              s.getNumNulls == chunk.getValueCount
            val (mn, mx, ok) =
              if (s != null && s.hasNonNullValue)
                (better(prev.min, s.genericGetMin, keepMin = true),
                  better(prev.max, s.genericGetMax, keepMin = false),
                  prev.minMaxOk)
              else if (allNull) (prev.min, prev.max, prev.minMaxOk)
              else (prev.min, prev.max, false) // stats unusable
            byCol(name) = ColStats(
              prev.valueCount + chunk.getValueCount, nulls, mn, mx, ok)
          }
        }
    }
    def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
      case (b: org.apache.parquet.io.api.Binary, StringType) =>
        org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes)
      case (x, _) => x
    }
    def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e.asInstanceOf[NamedReference].fieldNames.head
    val out = fns.map {
      case (_, _, _: CountStar) => Some(totalRows: Any)
      case (_, _, c: Count) =>
        byCol.get(fieldName(c.column)) match {
          // absent from EVERY footer (pre-evolution history): zero
          // non-null values; files that do carry it are accounted above
          case None => Some(0L: Any)
          case Some(st) => st.nullCount.map(nc => (st.valueCount - nc): Any)
        }
      case (_, dt, m: Min) =>
        byCol.get(fieldName(m.column)) match {
          case None => Some(null: Any) // never present -> all null -> NULL
          case Some(st) if st.minMaxOk =>
            Some(st.min.map(v => toCatalyst(v, dt)).orNull)
          case _ => None
        }
      case (_, dt, m: Max) =>
        byCol.get(fieldName(m.column)) match {
          case None => Some(null: Any)
          case Some(st) if st.minMaxOk =>
            Some(st.max.map(v => toCatalyst(v, dt)).orNull)
          case _ => None
        }
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.map(_.get).toArray) else None
  }
}

/** The pushed-aggregate scan: ONE partition, ONE pre-computed row —
  * the reader never touches a data file (`description()` advertises it
  * for the plan audit and Dsv2Spec).
  */
class GraftMergeAggScan(schema: StructType, values: Array[Any], detail: String)
    extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftMergeAggScan FOOTER-SERVED $detail dataFilesRead=0 " +
      s"agg=${schema.fieldNames.mkString("[", ", ", "]")}"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(AggResultPartition(values))
    override def createReaderFactory(): PartitionReaderFactory =
      AggResultReaderFactory()
  }
}

case class AggResultPartition(values: Array[Any]) extends InputPartition

case class AggResultReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow =
        new GenericInternalRow(p.asInstanceOf[AggResultPartition].values)
      override def close(): Unit = ()
    }
}

/** One data file of one bucket (and, for streaming, the commit version
  * that wrote it). `bytes` is the manifest-recorded size estimate used
  * for partition packing only — never for read bounds.
  */
case class MergeFileSplit(file: String, bucket: Int, version: Long, bytes: Long)

/** One read task: a bin-packed set of file splits. A 100 TB table's
  * buckets are O(100 MB–1 GB) and pack 1:1, but a FRAGMENTED table
  * (high-frequency tiny upserts, the q_merge_compact scenario) would
  * otherwise pay a full task per kilobyte-scale file — packing mirrors
  * Spark's own file-source split math so small buckets coalesce.
  *
  * `spjBucket` is set only under storage-partitioned-join planning
  * (one partition per bucket, [[HasPartitionKey]] = the bucket id);
  * packed partitions may span buckets and never surface a key.
  */
case class MergeFilePartition(
    splits: Seq[MergeFileSplit],
    spjKey: Option[Seq[Int]] = None)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(
      spjKey.getOrElse(
        throw new IllegalStateException(
          "partitionKey() on a packed (non-SPJ) merge partition"))
        .map(i => i: Any).toArray)
}

private[graft] object MergePartitionPacker {

  /** Spark's FilePartition target-size formula: min(maxPartitionBytes,
    * max(openCost, totalWithOpenCost / defaultParallelism)), then
    * first-fit-decreasing into bins.
    */
  def pack(spark: SparkSession, splits: Seq[MergeFileSplit]): Array[InputPartition] = {
    if (splits.isEmpty) return Array.empty
    val openCost = 4L << 20
    val maxSplit =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
      catch { case _: Throwable => 134217728L }
    val costs = splits.map(s => math.max(s.bytes, 1L) + openCost)
    // ceil-divide with 5% slack: a floor target (or uneven file sizes
    // against an exact one) spills a straggler bin past the core count
    // — 9 tasks on 8 cores is a whole extra scheduling wave
    val par = math.max(spark.sparkContext.defaultParallelism, 1)
    val target = math.min(
      maxSplit,
      math.max(openCost, (costs.sum + par - 1) / par * 105 / 100))
    // LINEAR accumulate-and-close (Spark's FilePartition discipline),
    // largest-first for balance: O(n log n) at any file count — a
    // first-fit search over open bins would go quadratic on a
    // 100k-file fragmented table
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[MergeFileSplit]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[MergeFileSplit]
    var curCost = 0L
    splits.zip(costs).sortBy(-_._2).foreach { case (s, c) =>
      if (cur.nonEmpty && curCost + c > target) {
        bins += cur
        cur = scala.collection.mutable.ArrayBuffer.empty[MergeFileSplit]
        curCost = 0L
      }
      cur += s
      curCost += c
    }
    if (cur.nonEmpty) bins += cur
    bins.map(b => MergeFilePartition(b.toSeq): InputPartition).toArray
  }
}

object GraftMergeScan {
  /** Observability hook for tests: (planned files, total files,
    * runtime-filtered?) of the most recent batch planning.
    */
  val lastPrune =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int, Boolean)]()

  /** Most key tuples a scan prunes by: a pushed key predicate whose
    * candidate tuple set would exceed it (a wide `IN` cross product)
    * plans every bucket rather than explode planning.
    */
  val KeyTupleCap = 256

  /** The bounds under which a key-pinned read is answered on the driver
    * ([[GraftMergeScan.driverReadable]]): at most this many planned
    * files, holding at most [[DriverReadMaxBytes]] of manifest-recorded
    * bytes. The driver opens the files one after another while a job
    * spreads them over its task slots, so the file count decides the
    * crossover more than the bytes do. Measured on a 4-CPU VM
    * (`local[4]`, idle), p50 of 7 key-pinned reads of new keys, driver
    * read against the same scan run as a job: 1 file of 6 KiB–794 KiB
    * 11–19 ms against 48–92 ms; 16 files of 91 KiB, 660 KiB and 3.1 MiB
    * 58/33/47 ms against 99/66/58 ms, and of 12.4 MiB 70 against 67 ms;
    * 64 files of 363 KiB–50 MiB 114–255 ms against 85–135 ms, the job
    * ahead at every size. Both bounds sit at the largest measured
    * win.
    */
  val DriverReadMaxFiles: Int = 16

  /** See [[DriverReadMaxFiles]]. */
  val DriverReadMaxBytes: Long = 3L << 20
}

/** Sum-aggregated custom metrics (driver-reported once per scan).
  * Concrete zero-arg classes, NOT a parameterized case class: the SQL
  * UI's status listener re-instantiates the metric by CLASS NAME via a
  * zero-argument constructor to aggregate task values — a constructor
  * with parameters makes every aggregation fail (logged, metrics blank
  * in the UI) even though the query itself succeeds.
  */
sealed abstract class GraftScanMetric(metricName: String, desc: String)
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = metricName
  override def description(): String = desc
}
class SnapshotFilesMetric
    extends GraftScanMetric("snapshotDataFiles", "snapshot data files")
class PrunedFilesMetric
    extends GraftScanMetric("prunedDataFiles", "data files pruned by key")
class PlannedBytesMetric
    extends GraftScanMetric("plannedBytes", "manifest bytes planned")

case class GraftScanMetricValue(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

class GraftMergeScan(
    spark: SparkSession,
    dir: String,
    keyCol: Option[String],
    cdc: Boolean,
    versionAsOf: Option[Long],
    fullSchema: StructType,
    required: StructType,
    keyValues: Option[Seq[Seq[Any]]],
    pushed: Array[Filter],
    startOffset: Option[Long] = None,
    maxVersions: Option[Long] = None,
    maxBytes: Option[Long] = None)
    extends Scan
    with SupportsRuntimeFiltering
    with SupportsReportStatistics
    with SupportsReportPartitioning
    with SupportsReportOrdering {

  private val kcols: Seq[String] =
    keyCol.map(MergeSink.keyCols).getOrElse(Nil)

  // -------------------------------------------------------------------
  // STORAGE-PARTITIONED JOIN: the table IS hash-clustered by
  // xxbucket(key, nb) on disk, so two merge tables with the same
  // bucket count joined on their key need NO shuffle at all — the
  // scan reports its physical clustering as a V2 KeyGroupedPartitioning
  // over the catalog's own `xxbucket` function, each input partition
  // carries its bucket id as the partition key, and Spark's
  // EnsureRequirements matches the two sides bucket-for-bucket. At
  // 100 TB this deletes the single largest cost of a fact-to-fact
  // join (shuffling both sides); the same clustering also serves
  // join-then-aggregate-on-key with zero exchanges.
  // Requires `spark.sql.sources.v2.bucketing.enabled` (also the gate
  // for per-bucket task planning below — packed multi-bucket tasks
  // have no single partition key) and a catalog-resolved table (the
  // transform binds through the catalog's FunctionCatalog).
  // -------------------------------------------------------------------
  // evaluated ONCE per scan (lazy val, first use = plan time): the
  // bucketing conf is re-readable, and a conf flip between
  // outputPartitioning (planning) and planInputPartitions (execution)
  // must not let packed partitions ride under a KeyGroupedPartitioning
  // plan (partitionKey() would throw — or worse, a shuffle-free join
  // would misalign)
  /** The columns the layout's hash actually covers: the table's
    * `bucket_by` declaration when present, else the full merge key.
    */
  private lazy val hashCols: Seq[String] =
    MergeSink.bucketBy(spark, dir).getOrElse(kcols)

  // Spark's SPJ machinery only accepts SINGLE-REFERENCE transforms
  // (KeyGroupedPartitioning.supportsExpressions requires each
  // TransformExpression to have exactly one bare-column child), so the
  // physical clustering is reportable iff the hash covers ONE column —
  // the default single-column key, or a composite key declared with
  // `bucket_by` — and, on a partitioned layout, the period transform
  // has a catalog function. A joint hash over a composite key (the
  // default layout) can never be claimed without lying about
  // co-location; it stays UnknownPartitioning.
  private lazy val spjMode: Boolean =
    hashCols.size == 1 && !cdc &&
      hashCols.forall(k => fullSchema.fields.exists(f =>
        f.name == k && GraftFunctions.bucketableType(f.dataType))) &&
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
        .toBoolean &&
      resolvedVersion.isDefined &&
      (tableSpec.isEmpty || spjPartTransform.isDefined) &&
      // an EVOLVED table co-locates only once every bucket lives under
      // the current generation (a retired generation's ids decode with
      // different arithmetic — claiming the current transform over
      // them would lie); a full compaction migrates everything and
      // re-earns the shuffle-free plan
      (tableGens.size <= 1 ||
        snapshotFiles.keySet.forall(_ >= tableGens.last.offset))

  /** The partition-level V2 transform of a partitioned layout —
    * `days(col)`/`months(col)`/`hours(col)`/`years(col)` resolve
    * through the catalog's FunctionCatalog to EXACTLY the writer's
    * partition-index arithmetic ([[GraftFunctions.TimeTransformBound]]
    * vs [[MergeSink.partIdxExprOn]]); identity partitioning reports
    * the bare column (sound only for INT columns, where the column
    * value IS the partition index the scan's partition keys carry) —
    * except DATE, whose int cast is exactly epoch days, reported as
    * the equivalent `days(col)`.
    */
  private lazy val spjPartTransform
      : Option[org.apache.spark.sql.connector.expressions.Transform] =
    tableSpec.flatMap { ps =>
      import org.apache.spark.sql.connector.expressions.Expressions
      val srcType =
        fullSchema.fields.find(_.name == ps.column).map(_.dataType)
      val timeOk = srcType.exists(t =>
        t == DateType || t == TimestampType ||
          t == org.apache.spark.sql.types.TimestampNTZType)
      ps.kind match {
        case "day" if timeOk => Some(Expressions.days(ps.column))
        case "month" if timeOk => Some(Expressions.months(ps.column))
        case "hour" if timeOk => Some(Expressions.hours(ps.column))
        case "year" if timeOk => Some(Expressions.years(ps.column))
        case "identity" if srcType.contains(IntegerType) =>
          Some(Expressions.identity(ps.column))
        // identity over DATE casts to int = epoch days — the layout's
        // grouping IS days(col), so report it as such (sound: same
        // arithmetic both sides; LONG stays out — the int cast
        // truncates high bits, which identity would misreport)
        case "identity" if srcType.contains(DateType) =>
          Some(Expressions.days(ps.column))
        case _ => None
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (spjMode) {
      // the STANDARD bucket transform: Spark's SPJ machinery
      // special-cases the single-column form (numBuckets rides the
      // TransformExpression's bucket slot) and resolves the
      // multi-column form through the generic named-transform path —
      // both land on the catalog's "bucket" function, which hashes the
      // key columns exactly as the writer did. A partitioned layout
      // prepends its period transform, so the reported clustering is
      // the true two-level (partition, hash) physical grouping.
      val nb = MergeSink.bucketCount(spark, dir, resolvedVersion.get)
      val transforms =
        (spjPartTransform.toSeq :+ Expressions.bucket(nb, hashCols.head))
          .toArray[org.apache.spark.sql.connector.expressions.Expression]
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(transforms, snapshotFiles.size)
    } else
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
  }

  /** Reported per-partition ORDERING — the completion of the SPJ
    * story: a COMPACTED table's bucket files are key-sorted (the
    * manifest's `O` flag, written only by compaction and dropped by
    * any dirty write), and under SPJ planning each read task is one
    * bucket, so the partition streams in key order. Two compacted
    * co-bucketed tables then sort-merge-join with NO shuffle and NO
    * sort — the scan feeds the join directly. Claimed only when every
    * planned bucket is a single file (concatenating two sorted files
    * is not sorted) and the sort columns are exactly the merge key.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val sorted = spjMode &&
      resolvedVersion.exists(v =>
        MergeSink.manifestSortedBy(spark, dir, v).contains(kcols)) &&
      snapshotFiles.values.forall(_._2.size == 1)
    if (sorted)
      kcols.map(k =>
        Expressions.sort(Expressions.column(k), SortDirection.ASCENDING))
        .toArray
    else Array.empty
  }

  override def readSchema(): StructType = required

  /** Size the optimizer plans with = bytes of the files this scan will
    * actually read (post bucket pruning) — without this a V2 relation
    * reports the huge default and a joined merge table can never be
    * broadcast; with it a pruned point read is stats-visible as tiny.
    * Bytes come from the MANIFEST's per-bucket totals (recorded at
    * write time), so planning statistics cost zero file-status RPCs;
    * a pre-round-11 bucket without the field falls back to one
    * getFileStatus per file.
    */
  override def estimateStatistics(): Statistics = {
    val recorded = resolvedVersion
      .map(v => MergeSink.manifestBytes(spark, dir, v))
      .getOrElse(Map.empty[Int, Long])
    val recordedRows = resolvedVersion
      .map(v => MergeSink.manifestRows(spark, dir, v))
      .getOrElse(Map.empty[Int, Long])
    lazy val conf = spark.sessionState.newHadoopConf()
    val byBucket = plannedFiles(snapshotFiles).groupBy(_.bucket)
    val bytes = byBucket
      .map { case (b, parts) =>
        recorded.getOrElse(b, parts.map { part =>
          val p = new Path(part.file)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum)
      }.sum
    // physical row count (retained tombstones included — the scan DOES
    // read them); only reported when every planned bucket recorded one
    val rows: Option[Long] =
      if (byBucket.nonEmpty && byBucket.keys.forall(recordedRows.contains))
        Some(byBucket.keys.map(recordedRows).sum)
      else None
    // ANALYZE sidecar ([[MergeSink.analyze]]): per-column NDV / null
    // count / numeric min-max / string lengths, served to the cost
    // model ONLY when the sidecar matches the resolved version exactly
    // (stale NDVs misestimate joins worse than none). min/max re-type
    // from the stored doubles into the column's catalyst value — the
    // contract transformV2Stats expects.
    val colStats: Map[String, graft.streaming.MergeSink.ColStats] =
      resolvedVersion
        .flatMap(v => MergeSink.statsFor(spark, dir, v))
        .map(_._2).getOrElse(Map.empty)
    def typed(d: Double, dt: DataType): Option[Object] = dt match {
      case LongType => Some(java.lang.Long.valueOf(d.toLong))
      case IntegerType => Some(java.lang.Integer.valueOf(d.toInt))
      case ShortType => Some(java.lang.Short.valueOf(d.toShort))
      case ByteType => Some(java.lang.Byte.valueOf(d.toByte))
      case DoubleType => Some(java.lang.Double.valueOf(d))
      case FloatType => Some(java.lang.Float.valueOf(d.toFloat))
      case _ => None // decimals/timestamps: ndv + nulls still serve
    }
    val colStatsJava = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]
    required.fields.foreach { f =>
      colStats.get(f.name).foreach { cs =>
        colStatsJava.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.ndv)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.nulls)
            override def min(): java.util.Optional[Object] =
              cs.min.flatMap(typed(_, f.dataType))
                .map(java.util.Optional.of[Object])
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              cs.max.flatMap(typed(_, f.dataType))
                .map(java.util.Optional.of[Object])
                .getOrElse(java.util.Optional.empty[Object]())
            override def avgLen(): java.util.OptionalLong =
              cs.avgLen.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def maxLen(): java.util.OptionalLong =
              cs.maxLen.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
          })
      }
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStatsJava
    }
  }

  // -------------------------------------------------------------------
  // RUNTIME FILTERING (the DSv2 dual of dynamic partition pruning):
  // when this table joins a selective build side on the merge KEY,
  // Spark hands the build side's key values here at execution time and
  // the scan re-plans to only the buckets those keys hash into — at
  // 100 TB a fact-to-dim join reads O(build-side keys) buckets instead
  // of the table, with no predicate in the query text at all.
  // -------------------------------------------------------------------
  @volatile private var runtimeKeys: Option[Seq[Seq[Any]]] = None

  // Runtime filtering is declared for the HASHED columns (the
  // `bucket_by` set, default = every key column): the bucket is a
  // joint hash of exactly those columns, so pruning is sound only when
  // EVERY hashed column receives a runtime value set. A single-column
  // `bucket_by` layout therefore gets join-driven pruning from a
  // one-attribute IN-set — the common fact-to-dim shape.
  /** Spark's DPP rule RESOLVES every declared attribute against the
    * scan's (column-pruned) output and throws on a miss — so declare
    * the hashed columns only when the projection kept them ALL. All or
    * nothing is also the semantic truth: the bucket hashes every
    * declared column, so a partial tuple can never prune.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (hashCols.nonEmpty &&
      hashCols.forall(k => required.fieldNames.contains(k)))
      hashCols
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    else Array.empty

  /** Runtime (DPP-dual) bucket pruning over the hashed columns: the
    * capped cross product of the per-column runtime sets bounds the
    * hash-tuple set (the same tuple cap as static pushdown); any
    * missing column means scan everything rather than mis-prune.
    * Tuples are aligned with [[hashCols]].
    */
  override def filter(filters: Array[Filter]): Unit = {
    val perCol: Seq[Option[Seq[Any]]] = hashCols.map { k =>
      filters.collectFirst {
        case In(`k`, vs) if vs.nonEmpty => vs.filter(_ != null).toSeq
        case EqualTo(`k`, v) if v != null => Seq(v)
      }
    }
    runtimeKeys =
      if (perCol.isEmpty || perCol.exists(_.isEmpty)) None
      else {
        val sets = perCol.map(_.get)
        if (sets.map(_.size.toLong).product > GraftMergeScan.KeyTupleCap) None
        else Some(sets.foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
          acc.flatMap(t => vs.map(v => t :+ v))
        })
      }
  }

  /** DRIVER READ: a batch (non-CDC, non-streaming) read whose pushed
    * filters pin every key column to a bounded tuple set, and whose
    * planned files number at most [[GraftMergeScan.DriverReadMaxFiles]]
    * and total at most [[GraftMergeScan.DriverReadMaxBytes]] of
    * manifest-recorded bytes, is answered on the driver
    * ([[readOnDriver]]) — no Spark job, no generated class. Decided
    * from metadata only: a planned bucket whose manifest lacks the byte
    * field makes the scan ineligible (no file stats).
    */
  lazy val driverReadable: Boolean =
    !cdc && startOffset.isEmpty && maxVersions.isEmpty && maxBytes.isEmpty &&
      keyValues.isDefined && {
        val planned = plannedFiles(snapshotFiles)
        val recorded = resolvedVersion
          .map(v => MergeSink.manifestBytes(spark, dir, v))
          .getOrElse(Map.empty[Int, Long])
        val buckets = planned.map(_.bucket).distinct
        planned.size <= GraftMergeScan.DriverReadMaxFiles &&
          buckets.forall(recorded.contains) &&
          buckets.map(recorded).sum <= GraftMergeScan.DriverReadMaxBytes
      }

  /** Reads the planned partitions on the calling (driver) thread
    * through the executors' own reader factory, so tombstone hiding,
    * schema evolution and the metadata columns decode exactly as in a
    * task. Rows are in [[readSchema]] layout and valid only during `f`.
    */
  def readOnDriver(f: InternalRow => Unit): Unit = {
    val batch = toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      try while (r.next()) f(r.get()) finally r.close()
    }
  }

  /** (planned, total) bucket-file counts of the batch scan — the
    * observable pruning contract PlanSpec asserts on.
    */
  lazy val fileCounts: (Int, Int) =
    (plannedFiles(snapshotFiles).size, snapshotFiles.values.map(_._2.size).sum)

  /** TIME TRAVEL: the snapshot version this scan reads — `versionAsOf`
    * when given (must still be committed AND inside the retention
    * window — a collected version fails loudly, never reads partial
    * state), else the current head. Resolved ONCE per scan: statistics
    * estimation and partition planning must read the SAME snapshot
    * even if a commit lands between them mid-planning.
    */
  private lazy val resolvedVersion: Option[Long] = versionAsOf match {
    case Some(v) =>
      require(
        MergeSink.commits(spark, dir).exists(_.version == v) &&
          MergeSink.manifest(spark, dir, v).nonEmpty,
        s"graft-merge: versionAsOf=$v is not a committed, retained " +
          s"version of $dir (snapshot retention keeps the most recent " +
          s"${graft.streaming.MergeSink.historyKeep(spark, dir)} versions" +
          " — raise it with setHistoryKeep / CALL sys.set_history_keep)")
      Some(v)
    case None => MergeSink.lastCommit(spark, dir).map(_.version)
  }

  /** Every partition-spec generation (read once per scan); empty =
    * not a partitioned table. See [[MergeSink.evolvePartitionSpec]].
    */
  private lazy val tableGens: Seq[MergeSink.SpecGen] =
    MergeSink.partitionSpecGens(spark, dir)

  /** The generation decode table for THIS snapshot: retired
    * generations' moduli are frozen in their spec lines; the CURRENT
    * generation's is the resolved version's manifest header (the
    * rebucketing-compaction authority, exactly as before evolution
    * existed).
    */
  private lazy val decodeGens: Seq[MergeSink.SpecGen] =
    if (resolvedVersion.isEmpty) tableGens
    else MergeSink.decodeTable(tableGens,
      MergeSink.bucketCount(spark, dir, resolvedVersion.get))

  /** The table's CURRENT partition layout, if declared. */
  private lazy val tableSpec: Option[MergeSink.PartitionSpec] =
    tableGens.lastOption.map(_.spec)

  /** The snapshot's bucket files, listed ONCE per scan (statistics,
    * fileCounts, and planning all reuse it — formerly three listings).
    */
  private lazy val snapshotFiles: Map[Int, (Long, Seq[String])] =
    resolvedVersion match {
      case None => Map.empty
      case Some(v) => MergeTableUtil.currentDataFiles(spark, dir, v)
    }

  /** The WRITER's bucket count, from the manifest header of the
    * version this scan reads (per-partition modulus when the table is
    * partitioned).
    */
  private lazy val writerNb: Int =
    MergeSink.bucketCount(spark, dir, resolvedVersion.get)

  /** The hashed columns' types: each pinned value hashes as its
    * column's type, as the writer hashed the row.
    */
  private lazy val hashDts: Seq[DataType] = hashCols.map(c =>
    fullSchema.fields.find(_.name == c).map(_.dataType).getOrElse(LongType))

  /** The buckets the pushed key tuples can occupy
    * ([[MergeSink.keyBucketPred]]); None = no key pinning. Static tuples
    * are kcols-aligned, so on a partitioned layout whose key carries the
    * transform column each resolves to one (partition, hash) pair per
    * generation.
    */
  private lazy val staticPred: Option[Int => Boolean] = {
    val hashIdx = hashCols.map(kcols.indexOf)
    keyValues.filter(_ => hashIdx.forall(_ >= 0)).map(ts =>
      MergeSink.keyBucketPred(decodeGens, writerNb, ts,
        tableSpec.map(ps => kcols.indexOf(ps.column)).filter(_ >= 0))(
        (t, modulus) =>
          MergeTableUtil.bucketOfTuple(hashIdx.map(t), hashDts, modulus)))
  }

  private def plannedFiles(
      all: Map[Int, (Long, Seq[String])]): Seq[MergeFileSplit] = {
    // an empty/never-committed table (reachable with a user-supplied
    // schema via supportsExternalMetadata) is an empty scan, never a
    // resolvedVersion.get throw
    if (all.isEmpty) {
      GraftMergeScan.lastPrune.set((0, 0, runtimeKeys.isDefined))
      return Seq.empty
    }
    // PARTITION PRUNING (partitioned layout): the pushed comparison
    // conjuncts on the transform's SOURCE column bound the partition
    // index range — `day(ts)` is monotone in ts, so ts >= X implies
    // idx >= day(X) — and the global bucket id encodes the index as
    // `(id - gen offset) / gen nb`, so whole periods drop out of the
    // manifest BEFORE any file (or even footer) is touched. On an
    // evolved table each GENERATION prunes at its own granularity
    // (bounds re-derived per generation from the same predicates). A
    // conservative SUPERSET prune: unrecognized literal types or
    // filter shapes simply don't narrow, and Spark re-evaluates every
    // filter post-scan regardless.
    val partPruned: Map[Int, (Long, Seq[String])] =
      if (decodeGens.isEmpty) all
      else {
        def boundsOf(ps: MergeSink.PartitionSpec)
            : (Int, Int, Option[Set[Int]]) = {
          val pcol = ps.column
          var lo = Int.MinValue
          var hi = Int.MaxValue
          var inSet: Option[Set[Int]] = None
          pushed.foreach {
            case org.apache.spark.sql.sources.EqualTo(`pcol`, v) =>
              MergeSink.partIdxOf(ps, v).foreach { i =>
                lo = math.max(lo, i); hi = math.min(hi, i)
              }
            case org.apache.spark.sql.sources.In(`pcol`, vs)
                if vs.nonEmpty && !vs.contains(null) =>
              val idxs = vs.toSeq.map(v => MergeSink.partIdxOf(ps, v))
              if (idxs.forall(_.isDefined)) {
                val s = idxs.flatten.toSet
                inSet = Some(inSet.fold(s)(_ intersect s))
              }
            case org.apache.spark.sql.sources.GreaterThan(`pcol`, v) =>
              MergeSink.partIdxOf(ps, v).foreach(i => lo = math.max(lo, i))
            case org.apache.spark.sql.sources.GreaterThanOrEqual(`pcol`, v) =>
              MergeSink.partIdxOf(ps, v).foreach(i => lo = math.max(lo, i))
            case org.apache.spark.sql.sources.LessThan(`pcol`, v) =>
              MergeSink.partIdxOf(ps, v).foreach(i => hi = math.min(hi, i))
            case org.apache.spark.sql.sources.LessThanOrEqual(`pcol`, v) =>
              MergeSink.partIdxOf(ps, v).foreach(i => hi = math.min(hi, i))
            case _ => ()
          }
          (lo, hi, inSet)
        }
        // an `eq`/`in` bound on a COARSER retired generation than the
        // literal (a timestamp equality against a days() generation)
        // is exact because partIdxOf maps the literal into THAT
        // generation's index space; range bounds are monotone in every
        // kind, so each generation's bounds are sound independently
        val genBounds: Map[Int, (Int, Int, Option[Set[Int]])] =
          decodeGens.map(g => g.offset -> boundsOf(g.spec)).toMap
        val narrows = genBounds.values.exists { case (lo, hi, s) =>
          lo != Int.MinValue || hi != Int.MaxValue || s.isDefined
        }
        if (!narrows) all
        else all.filter { case (b, _) =>
          val g = MergeSink.genOfBucket(decodeGens, b)
          val idx = Math.floorDiv(b - g.offset, g.spec.nb)
          val (lo, hi, inSet) = genBounds(g.offset)
          idx >= lo && idx <= hi && inSet.forall(_.contains(idx))
        }
      }
    // compile-time pushed key tuples AND runtime (join-driven) hash
    // tuples each bound the bucket set; both present -> intersection.
    // Runtime tuples are hashCols-aligned (hash-component-only pruning:
    // still an nb-fold cut on a partitioned table).
    val runtimePred: Option[Int => Boolean] = runtimeKeys.map(ts =>
      MergeSink.keyBucketPred(decodeGens, writerNb, ts, None)(
        MergeTableUtil.bucketOfTuple(_, hashDts, _)))
    val preds = Seq(staticPred, runtimePred).flatten
    val buckets =
      if (preds.isEmpty) partPruned.keySet
      else partPruned.keySet.filter(b => preds.forall(_(b)))
    // _version of a batch-read row = the manifest's content version for
    // its bucket (the commit that wrote the file), same meaning as replay
    val recordedBytes = resolvedVersion
      .map(v => MergeSink.manifestBytes(spark, dir, v))
      .getOrElse(Map.empty[Int, Long])
    val planned = partPruned.toSeq.sortBy(_._1)
      .filter { case (b, _) => buckets.contains(b) }
      .flatMap { case (b, (cv, fs)) =>
        // per-file packing estimate: the bucket total spread evenly
        // (exact in the 1-file-per-bucket layout); read bounds always
        // come from the executor's own file status, never this figure
        val est = recordedBytes.get(b)
          .map(_ / math.max(fs.size, 1)).getOrElse(0L)
        fs.map(f => MergeFileSplit(f, b, cv, est))
      }
    GraftMergeScan.lastPrune.set(
      (planned.size, all.values.map(_._2.size).sum, runtimeKeys.isDefined))
    planned
  }

  override def description(): String = {
    val (planned, total) = fileCounts
    val pk = keyValues.map(_.map(t =>
      if (t.size == 1) t.head.toString else t.mkString("(", ";", ")"))
      .mkString("[", ",", "]")).getOrElse("none")
    val asOf = versionAsOf.map(v => s" versionAsOf=$v").getOrElse("")
    s"GraftMergeScan dir=$dir$asOf files=$planned/$total prunedKeys=$pk " +
      s"pushed=${pushed.mkString("[", ", ", "]")}"
  }

  /** Planning outcomes surfaced as SQL-UI metrics (the V2 custom-metric
    * hook): how many bucket files the snapshot held, how many survived
    * key pruning, and the manifest bytes planned — the description()
    * numbers, machine-readable per executed scan. Zero extra work: all
    * three come from state planning already computed.
    */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(
      new SnapshotFilesMetric,
      new PrunedFilesMetric,
      new PlannedBytesMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val (planned, total) = fileCounts
    val bytes = estimateStatistics().sizeInBytes()
    Array(
      GraftScanMetricValue("snapshotDataFiles", total),
      GraftScanMetricValue("prunedDataFiles", (total - planned).toLong),
      GraftScanMetricValue(
        "plannedBytes", if (bytes.isPresent) bytes.getAsLong else 0L))
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      if (spjMode) {
        // SPJ planning: one task per (global) bucket, keyed by the
        // reported transform values — (partIdx, hash) on a partitioned
        // layout (global id = partIdx * nb + hash), bare bucket id
        // otherwise. Spark groups same-key partitions itself, so a
        // multi-file bucket still reads in one key group.
        val nb = MergeSink.bucketCount(spark, dir, resolvedVersion.get)
        // spjMode guarantees every id is current-generation (offset 0
        // on a never-evolved table)
        val off = tableGens.lastOption.map(_.offset).getOrElse(0)
        plannedFiles(snapshotFiles).groupBy(_.bucket).toSeq.sortBy(_._1)
          .map { case (b, fs) =>
            val key =
              if (tableSpec.isDefined)
                Seq(Math.floorDiv(b - off, nb), Math.floorMod(b - off, nb))
              else Seq(b)
            MergeFilePartition(fs, Some(key)): InputPartition
          }.toArray
      }
      else
        MergePartitionPacker.pack(spark, plannedFiles(snapshotFiles))
    override def createReaderFactory(): PartitionReaderFactory = {
      // ONE driver-side decision per scan: if NO current bucket carries
      // the tombstone column, every reader skips both the per-file
      // footer probe and the __deleted projection entirely — the
      // common (tombstone-free) table reads exactly like a native scan.
      // The manifest's per-bucket flag answers this from O(1) metadata;
      // manifests predating the field fall back to one footer sweep.
      val tombstonesPossible = !cdc && resolvedVersion.exists { v =>
        val flags = MergeSink.manifestDeletedFlags(spark, dir, v)
        val buckets = snapshotFiles.keySet
        if (buckets.forall(flags.contains)) flags.exists(_._2 == 1L)
        else
          (try MergeTableUtil.dataSchema(spark, dir)
            .fieldNames.contains(MergeSink.DeletedCol)
          catch { case _: IllegalArgumentException => false /* empty */ })
      }
      new MergeReaderFactory(
        new SerializableConfiguration(spark.sessionState.newHadoopConf()),
        required,
        hideTombstones = tombstonesPossible,
        pushed)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(cdc,
      "graft-merge: streaming read requires option cdc=true (the commit-log replay schema)")
    new GraftMergeMicroBatchStream(
      spark, dir, required, startOffset, maxVersions, maxBytes)
  }
}

/** Offset = highest committed version included (the commit log's LSN). */
case class MergeOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

class GraftMergeMicroBatchStream(
    spark: SparkSession,
    dir: String,
    required: StructType,
    startOffset: Option[Long] = None,
    maxVersions: Option[Long] = None,
    maxBytes: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Where replay begins: the version AFTER the highest already
    * "consumed" — -1 (full retained history) unless `startingVersion`
    * chose a later entry point ("latest" = new commits only).
    */
  override def initialOffset(): Offset =
    MergeOffset(startOffset.getOrElse(-1L))

  override def latestOffset(): Offset =
    MergeOffset(MergeSink.lastCommit(spark, dir).map(_.version).getOrElse(-1L))

  // Trigger.AvailableNow contract: pin the horizon ONCE at query start so
  // the run drains exactly the commits that existed then and stops —
  // versions landing mid-run belong to the next run.
  private var availableNowCap: Option[Offset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latestOffset())

  /** Rate-limited horizon (admission control): at most
    * `maxVersionsPerTrigger` commit-log versions and/or
    * `maxBytesPerTrigger` manifest-recorded written bytes per
    * micro-batch — a catch-up replay over a deep retained history
    * drains in bounded batches instead of one giant one. The byte cap
    * is served ENTIRELY from manifests (the bytes each version's
    * written buckets recorded at commit time — zero file RPCs) and
    * always admits at least one version, so an oversized commit passes
    * alone rather than stalling the stream. Under AvailableNow the run
    * still stops exactly at the prepared cap, just in several batches.
    * Unlimited when neither option is set.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = availableNowCap.getOrElse(latestOffset())
      .asInstanceOf[MergeOffset].version
    val s0 = start.asInstanceOf[MergeOffset].version
    val vCapped = maxVersions.fold(head)(mv => math.min(head, s0 + mv))
    val capped = maxBytes match {
      case None => vCapped
      case Some(mb) =>
        val vs = MergeSink.commits(spark, dir)
          .map(_.version).filter(v => v > s0 && v <= vCapped)
        var budget = mb
        var last = s0
        var admitted = 0
        vs.takeWhile { v =>
          val m = MergeSink.manifest(spark, dir, v)
          val bytes = MergeSink.manifestBytes(spark, dir, v)
          val written = m.collect { case (b, cv) if cv == v =>
            bytes.getOrElse(b, 0L) }.sum
          val admit = admitted == 0 || written <= budget
          if (admit) { budget -= written; last = v; admitted += 1 }
          admit
        }
        last
    }
    MergeOffset(capped)
  }

  override def deserializeOffset(json: String): Offset = {
    val m = "\"version\"\\s*:\\s*(-?\\d+)".r
    m.findFirstMatchIn(json) match {
      case Some(g) => MergeOffset(g.group(1).toLong)
      case None => throw new IllegalArgumentException(s"bad graft-merge offset: $json")
    }
  }

  /** Versions in (start, end]: each contributes the bucket files it
    * physically WROTE (manifest entries equal to that version) — the
    * ordered replay of log_mgr.clj:16-33, version numbers as LSNs. A
    * version inside the range whose manifest has been GC'd means the
    * reader fell behind the retention window: fail loudly, exactly as a
    * change-data-feed read past retention must.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[MergeOffset].version
    val e0 = end.asInstanceOf[MergeOffset].version
    val cs = MergeSink.commits(spark, dir)
    // Versions are DENSE (every commit is predecessor + 1, from 0) and
    // GC removes a collected version's marker AND manifest together —
    // so a version that existed but fell out of retention is simply
    // ABSENT from the commit log. The fail-loud check therefore keys on
    // the earliest RETAINED marker: a replay range reaching below it is
    // asking for GC'd history and must throw (the CDF retention
    // contract), never silently skip committed versions.
    if (s0 + 1 <= e0) {
      val earliest = cs.headOption.map(_.version).getOrElse(0L)
      if (s0 + 1 < earliest)
        throw new IllegalStateException(
          s"graft-merge: versions ${s0 + 1}..${earliest - 1} fell out of " +
            s"the retention window (earliest retained is $earliest; " +
            s"requested replay range ${s0 + 1}..$e0); readers must keep " +
            "up within retention")
    }
    val versions = cs.map(_.version).filter(v => v > s0 && v <= e0)
    lazy val conf = spark.sessionState.newHadoopConf()
    val splits = versions.flatMap { v =>
      val m = MergeSink.manifest(spark, dir, v)
      // a retained marker whose manifest vanished is a torn GC — same
      // contract violation, same loud failure
      if (m.isEmpty && cs.exists(_.version == v))
        throw new IllegalStateException(
          s"graft-merge: version $v fell out of the retention window " +
            s"(requested replay range ${s0 + 1}..$e0); " +
            "readers must keep up within retention")
      val mb = MergeSink.manifestBytes(spark, dir, v)
      val recorded = MergeSink.manifestFiles(spark, dir, v)
      m.toSeq.sorted.collect { case (b, cv) if cv == v =>
        val files = recorded.get(b) match {
          // manifest-recorded names: zero listings per replayed version
          case Some(names) =>
            names.map(n => MergeSink.dataPath(spark, dir, b, cv) + "/" + n)
          case None =>
            MergeSink.metadataFallbacks.incrementAndGet()
            val d = new Path(MergeSink.dataPath(spark, dir, b, cv))
            val fs = d.getFileSystem(conf)
            if (!fs.exists(d)) Seq.empty[String]
            else fs.listStatus(d).iterator.map(_.getPath.toString)
              .filter(_.endsWith(".parquet")).toSeq.sorted
        }
        val est = mb.get(b).map(_ / math.max(files.size, 1)).getOrElse(0L)
        files.map(f => MergeFileSplit(f, b, v, est))
      }.flatten
    }
    MergePartitionPacker.pack(spark, splits)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MergeReaderFactory(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()),
      required,
      hideTombstones = false,
      pushedFilters = Array.empty)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Reader factory: VECTORIZED. Every partition reads through Spark's
  * own `VectorizedParquetRecordReader` into `ColumnarBatch`es — the
  * same columnar decode path every built-in parquet scan uses (bulk
  * column decoding, dictionary-aware, lazy dictionary materialization),
  * several× faster per byte than any row-materializing reader. At
  * 100 TB the connector is the merge table's only read path, so the
  * decode loop IS the table's scan throughput. (Reference dual: the
  * block-read hot path, file_mgr.clj:58-70, is the one part of the
  * reference kernel that was hand-optimized — pooled channels, striped
  * locks; this is its Spark-native equivalent.)
  *
  * Semantics preserved from the row reader it replaces:
  *   - per-file schema reconciliation: a required column absent from an
  *     older bucket file reads as a NULL vector (the vectorized
  *     reader's missing-column handling — exactly mergeSchema's);
  *   - `_version`/`_bucket` surfaced as CONSTANT vectors via the
  *     reader's partition-value mechanism (zero per-row work);
  *   - batch snapshot reads hide tombstones: `__deleted` rides along as
  *     one extra projected column; a batch with no set bit passes
  *     through ZERO-COPY (the output ColumnarBatch wraps the reader's
  *     own vectors), a batch with tombstones — rare, bounded by the
  *     table's delete rate — copies only survivors.
  */
class MergeReaderFactory(
    conf: SerializableConfiguration,
    required: StructType,
    hideTombstones: Boolean,
    pushedFilters: Array[Filter])
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[MergeFilePartition]
    // Hadoop Configuration copy + requested-schema setup is a
    // per-split fixed cost worth real milliseconds; the prepared conf
    // depends only on whether the file rides the __deleted column, so
    // ONE copy per partition serves every split (splits in a partition
    // read sequentially — no concurrent mutation).
    val prepared = new java.util.HashMap[java.lang.Boolean, Configuration]
    val confFor: Boolean => Configuration = nd =>
      prepared.computeIfAbsent(nd,
        _ => MergeColumnarReader.preparedConf(conf.value, required, nd))
    new PartitionReader[ColumnarBatch] {
      private val it = p.splits.iterator
      private var cur: MergeColumnarReader = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur = new MergeColumnarReader(
              conf.value, it.next(), required, hideTombstones, pushedFilters,
              confFor)
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false // unreachable
      }
      override def get(): ColumnarBatch = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }
  }

  // Spark plans all-columnar when supportColumnarReads is true; the row
  // path exists only to satisfy the interface — delegate through the
  // columnar reader so there is exactly ONE decode implementation.
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val cols = createColumnarReader(partition)
    new PartitionReader[InternalRow] {
      private var rows: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!cols.next()) return false
          rows = cols.get().rowIterator()
        }
        true
      }
      override def get(): InternalRow = rows.next()
      override def close(): Unit = cols.close()
    }
  }
}

/** Columnar reader for ONE bucket file (see [[MergeReaderFactory]];
  * the factory chains one of these per split of a packed partition).
  */
object MergeColumnarReader {

  /** The reader-side Configuration for one requested schema: the base
    * conf copied once, the ParquetReadSupport contract filled in. Built
    * per PARTITION (see [[MergeReaderFactory]]) — a per-split copy was
    * a measurable slice of the decode gap vs the native scan.
    */
  def preparedConf(
      base: Configuration,
      required: StructType,
      needDeleted: Boolean): Configuration = {
    val requiredData =
      required.fields.filterNot(f => MergeTableUtil.isMetaCol(f.name))
    val readerDataSchema = StructType(
      if (needDeleted)
        requiredData.toSeq :+ StructField(MergeSink.DeletedCol, BooleanType)
      else requiredData.toSeq)
    val c = new Configuration(base)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readerDataSchema.json)
    c.set(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // The schema converter reads these as REQUIRED conf entries (Spark's
    // own scan prep writes them before handing the conf over); a session
    // that set them explicitly already has them via newHadoopConf — fill
    // the documented defaults otherwise.
    def dflt(k: String, v: String): Unit = if (c.get(k) == null) c.set(k, v)
    dflt("spark.sql.parquet.binaryAsString", "false")
    dflt("spark.sql.parquet.int96AsTimestamp", "true")
    dflt("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    dflt("spark.sql.legacy.parquet.nanosAsLong", "false")
    dflt("spark.sql.caseSensitive", "false")
    dflt("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    c
  }
}

class MergeColumnarReader(
    conf: Configuration,
    partition: MergeFileSplit,
    required: StructType,
    hideTombstones: Boolean,
    pushedFilters: Array[Filter] = Array.empty,
    confFor: Boolean => Configuration = null)
    extends PartitionReader[ColumnarBatch] {

  import MergeTableUtil.{BucketCol, VersionCol}

  private val Capacity = 4096

  // ONE metadata round-trip for the whole split: a single getFileStatus
  // feeds the input file, and a single footer read feeds BOTH the
  // schema reconciliation below AND the reader itself (handed to
  // `initialize`, so `VectorizedParquetRecordReader` does not re-read
  // it — this was the residual decode gap vs the native scan). The
  // filter predicate still prunes row groups: parquet-mr's
  // footer-accepting reader constructor re-applies it.
  private val inputFile: HadoopInputFile = {
    val path = new Path(partition.file)
    val fs = path.getFileSystem(conf)
    HadoopInputFile.fromStatus(fs.getFileStatus(path), conf)
  }
  private val footer: org.apache.parquet.hadoop.metadata.ParquetMetadata =
    graft.ParquetFooters.read(inputFile, conf)
  private val fileSchema = footer.getFileMetaData.getSchema

  // Requested DATA schema: required data fields (declared order), plus
  // __deleted appended when tombstones must be hidden AND this file
  // actually carries the column — a tombstone-free file skips the extra
  // projection and the per-batch tombstone scan entirely (measured:
  // the rider column cost ~65% on a full-scan decode). Other fields
  // the file lacks (mixed-schema CDC history) become missing-column
  // NULL vectors inside the vectorized reader.
  private val requiredData =
    required.fields.filterNot(f => MergeTableUtil.isMetaCol(f.name))
  // COLUMN MAPPING: a field the file lacks under its CURRENT name may
  // exist under a FORMER name (files written before a RENAME COLUMN —
  // the alias chain rides the field metadata). Request the file's own
  // name in the same position: ColumnarBatch columns are positional,
  // so the relabeled vector serves the current column with zero copy.
  // Fields renamed nowhere (no alias metadata) take the fast path.
  private val physData: Array[StructField] = requiredData.map { f =>
    if (fileSchema.containsField(f.name)) f
    else MergeSink.aliasesOf(f)
      .find(fileSchema.containsField)
      .map(a => f.copy(name = a))
      .getOrElse(f)
  }
  private val aliased = !physData.sameElements(requiredData)
  private val needDeleted = hideTombstones &&
    fileSchema.containsField(MergeSink.DeletedCol)
  private val readerDataSchema = StructType(
    if (needDeleted)
      physData.toSeq :+ StructField(MergeSink.DeletedCol, BooleanType)
    else physData.toSeq)

  /** Pushed predicates as a parquet `FilterPredicate` for ROW-GROUP
    * SKIPPING: a pruned-out row group's pages are never read. Purely an
    * IO optimization — Spark re-evaluates every filter post-scan (this
    * scan keeps them all as residuals), and a predicate on a column
    * this file lacks simply doesn't translate. At 100 TB with
    * key-sorted bucket files this is the footer min/max level of
    * pruning below the manifest's bucket level.
    */
  private val rowGroupFilter
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (pushedFilters.isEmpty) None
    else {
      val pf = new ParquetFilters(
        fileSchema,
        /* pushDownDate = */ false,
        /* pushDownTimestamp = */ false,
        /* pushDownDecimal = */ false,
        /* pushDownStringPredicate = */ true,
        /* pushDownInFilterThreshold = */ 10,
        /* caseSensitive = */ false,
        org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
      pushedFilters.flatMap(pf.createFilter(_).toSeq)
        .reduceOption(
          org.apache.parquet.filter2.predicate.FilterApi.and(_, _))
    }

  // _version/_bucket/_file ride the partition-value mechanism: constant
  // vectors appended AFTER the data columns by initBatch.
  private val partCols = required.fields
    .filter(f => MergeTableUtil.isMetaCol(f.name))
  private val partValues = new GenericInternalRow(
    partCols.map {
      case f if f.name == VersionCol => partition.version: Any
      case f if f.name == MergeTableUtil.FileCol =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(partition.file): Any
      case _ => partition.bucket: Any
    }.asInstanceOf[Array[Any]])

  private val reader: VectorizedParquetRecordReader = {
    val shared =
      if (aliased)
        // per-file physical names (pre-rename file): private conf with
        // the substituted requested schema
        MergeColumnarReader.preparedConf(
          conf, StructType(physData.toIndexedSeq), needDeleted)
      else if (confFor != null) confFor(needDeleted)
      else MergeColumnarReader.preparedConf(conf, required, needDeleted)
    // only a per-file filter predicate forces a private copy (the
    // predicate is file-schema-specific); the common full-scan path
    // reuses the partition's prepared conf untouched
    val c = rowGroupFilter match {
      case Some(p) =>
        val cc = new Configuration(shared)
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(cc, p)
        cc
      case None => shared
    }
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, Capacity)
    val split = new FileSplit(
      new Path(partition.file), 0, inputFile.getLength, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(c, new TaskAttemptID())
    try {
      r.initialize(split, ctx, Some(inputFile), None, Some(footer))
      r.initBatch(StructType(partCols), partValues)
      r.enableReturningBatches()
    } catch { case t: Throwable => r.close(); throw t }
    r
  }

  // index, in the reader's batch, of each OUTPUT column: data columns in
  // requested order, then the partition-value constants
  private val outIdx: Array[Int] = required.fields.map { f =>
    val d = requiredData.indexWhere(_.name == f.name)
    if (d >= 0) d
    else readerDataSchema.length + partCols.indexWhere(_.name == f.name)
  }
  private val deletedIdx = if (needDeleted) requiredData.length else -1

  // reusable output for the tombstone-bearing (copy) path — allocated
  // on first use (most files never hold a tombstone)
  private var copyVectors: Array[OnHeapColumnVector] = _

  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      val src = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      val n = src.numRows()
      val live =
        if (deletedIdx < 0) n
        else {
          val del = src.column(deletedIdx)
          var c = 0
          var i = 0
          while (i < n) {
            if (del.isNullAt(i) || !del.getBoolean(i)) c += 1
            i += 1
          }
          c
        }
      if (live > 0) {
        current =
          if (live == n) wrap(src, n) // zero-copy: no tombstone in batch
          else copySurvivors(src, n)
        return true
      }
      // else: batch was pure tombstones — read on
    }
    false
  }

  /** Output batch over the reader's own vectors, reordered to the
    * required schema (drops the ridden-along __deleted vector).
    */
  private def wrap(src: ColumnarBatch, n: Int): ColumnarBatch =
    new ColumnarBatch(outIdx.map(src.column(_): ColumnVector), n)

  private def copySurvivors(src: ColumnarBatch, n: Int): ColumnarBatch = {
    val del = src.column(deletedIdx)
    if (copyVectors == null)
      copyVectors = OnHeapColumnVector
        .allocateColumns(Capacity, StructType(required.fields.toSeq))
    val out = copyVectors
    out.foreach(_.reset())
    var o = 0
    var i = 0
    while (i < n) {
      if (del.isNullAt(i) || !del.getBoolean(i)) {
        var c = 0
        while (c < outIdx.length) {
          val sv = src.column(outIdx(c))
          val ov = out(c)
          if (sv.isNullAt(i)) ov.putNull(o)
          else required.fields(c).dataType match {
            case LongType | TimestampType | TimestampNTZType =>
              ov.putLong(o, sv.getLong(i))
            case IntegerType | DateType => ov.putInt(o, sv.getInt(i))
            case DoubleType => ov.putDouble(o, sv.getDouble(i))
            case FloatType => ov.putFloat(o, sv.getFloat(i))
            case BooleanType => ov.putBoolean(o, sv.getBoolean(i))
            case StringType =>
              val b = sv.getUTF8String(i).getBytes
              ov.putByteArray(o, b, 0, b.length)
            case ArrayType(et, _) =>
              // append the elements to the child vector, then record
              // the (start, length) slice — the writable-vector array
              // contract (embedding columns etc. survive tombstone
              // filtering without leaving the columnar path)
              val arr = sv.getArray(i)
              val child = ov.arrayData()
              val start = child.getElementsAppended
              val len = arr.numElements()
              var j = 0
              while (j < len) {
                if (arr.isNullAt(j)) child.appendNull()
                else et match {
                  case FloatType => child.appendFloat(arr.getFloat(j))
                  case DoubleType => child.appendDouble(arr.getDouble(j))
                  case LongType => child.appendLong(arr.getLong(j))
                  case IntegerType => child.appendInt(arr.getInt(j))
                  case other =>
                    throw new IllegalArgumentException(
                      s"graft-merge: unsupported array element type " +
                        s"$other for ${required.fields(c).name}")
                }
                j += 1
              }
              ov.putArray(o, start, len)
            case other =>
              throw new IllegalArgumentException(
                s"graft-merge: unsupported type $other for ${required.fields(c).name}")
          }
          c += 1
        }
        o += 1
      }
      i += 1
    }
    new ColumnarBatch(out.map(v => v: ColumnVector), o)
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    reader.close()
    if (copyVectors != null) copyVectors.foreach(_.close())
  }
}
