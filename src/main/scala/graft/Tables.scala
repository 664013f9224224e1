package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * Each table is one parquet file per scale-factor directory. All reads go
  * through [[Tables.load]] so every query in the engine benefits from
  * Catalyst's parquet pushdown (PushedFilters / ReadSchema pruning) — the
  * scan is declared lazily and the optimizer prunes columns per query.
  *
  * PHYSICAL-SCHEMA ADAPTATION: timestamp units are read from the parquet
  * FOOTER, never assumed. A real lake mixes MICROS and NANOS files, and
  * this fixture itself has switched units between regenerations (round 7:
  * NANOS; round 9: MICROS) — assuming the unit turned that physical change
  * into 30 silently-wrong query results in round 8. Every timestamp-bearing
  * table (events, orders, lineitem) now goes through [[loadAdaptive]]: one
  * cached driver-side footer probe (O(KB) metadata I/O — the same pattern a
  * 1000-executor job uses), and per-column decode-path selection. The
  * reference derives block size from the file manager's own config instead
  * of hardcoding it (/root/reference/src/opusdb/io/file_mgr.clj:48-50); the
  * analogous discipline here is "ask the footer".
  *
  * Reference analogue: opusdb's only durable read path is the positioned
  * block read in /root/reference/src/opusdb/io/file_mgr.clj:58-70; here the
  * scan/source is the vectorized parquet reader.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------
  // Footer probe: EVERY data file's parquet MessageType per path per JVM
  // — a real lake mixes files written under different producer versions,
  // so one file's footer does not speak for the directory. Driver-side
  // O(files) metadata reads, cached; the same listing a compaction or
  // planning pass already does.
  // -------------------------------------------------------------------
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, MessageType)]]()

  private def footerSchemas(
      spark: SparkSession,
      path: String): Seq[(String, MessageType)] =
    footerCache.computeIfAbsent(path, { key: String =>
      // the cache outlives any one session: read under the context's
      // conf, not a per-call copy of this session's
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(key)
      val fs = root.getFileSystem(conf)
      val dataFiles =
        if (fs.getFileStatus(root).isFile) Seq(root)
        else fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
          .toSeq
      dataFiles.map { p =>
        p.toString -> ParquetFooters.read(p, conf).getFileMetaData.getSchema
      }
    })

  private def footerSchema(spark: SparkSession, path: String): MessageType =
    footerSchemas(spark, path).head._2

  private def tsAnnotation(
      f: PrimitiveType): Option[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =
    f.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t)
      case _ => None
    }

  /** Physical timestamp unit of one column, from the footer. Columns with
    * no timestamp annotation report MICROS (Spark's native reader handles
    * them directly).
    */
  private[graft] def tsUnit(
      spark: SparkSession,
      path: String,
      column: String): TimeUnit = {
    val schema = footerSchema(spark, path)
    tsAnnotation(schema.getType(schema.getFieldIndex(column)).asPrimitiveType())
      .map(_.getUnit)
      .getOrElse(TimeUnit.MICROS)
  }

  /** Spark field for one flat parquet primitive, with NANOS timestamps
    * typed LONG (the vectorized reader rejects TIMESTAMP(NANOS); the raw
    * value is decoded after the scan). Non-nanos timestamps keep Spark's
    * native inference: NTZ unless the footer says adjusted-to-UTC.
    */
  private def sparkField(f: PrimitiveType): StructField = {
    val t: DataType = f.getPrimitiveTypeName match {
      case INT64 =>
        tsAnnotation(f) match {
          case Some(a) if a.getUnit == TimeUnit.NANOS => LongType
          case Some(a) =>
            if (a.isAdjustedToUTC) TimestampType else TimestampNTZType
          case None => LongType
        }
      case INT32 => IntegerType
      case DOUBLE => DoubleType
      case FLOAT => FloatType
      case BOOLEAN => BooleanType
      case BINARY =>
        // Only STRING-annotated binary is safe to surface as StringType; a
        // decimal- or raw-binary-annotated column on the nanos-group read
        // path would be silently misdecoded, so fail like the other
        // unsupported primitives instead.
        f.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => StringType
          case ann =>
            throw new IllegalArgumentException(
              s"loadAdaptive: unsupported BINARY annotation $ann for ${f.getName} " +
                "(only STRING-annotated binary takes the adaptive path)")
        }
      case other =>
        throw new IllegalArgumentException(
          s"loadAdaptive: unsupported primitive $other for ${f.getName} " +
            "(only flat tables take the adaptive path)")
    }
    StructField(f.getName, t)
  }

  /** Load a FLAT table with footer-driven timestamp adaptation: NANOS
    * columns are read as raw LONG and integral-divided to micros (a
    * floating /1000 would corrupt low-order digits past double's 53-bit
    * mantissa: ns since epoch ≈ 1.7e18 > 2^53), then presented with the
    * same Spark type the native reader gives the MICROS form of the file
    * (NTZ unless adjusted-to-UTC). When no NANOS column exists anywhere
    * the read is Spark's untouched native path.
    *
    * MIXED directories — some files MICROS, some NANOS, the normal state
    * of a lake whose producer upgraded mid-history — are handled by
    * grouping files on their nanos-column signature, reading each group
    * with its own decode path, and unioning by name: per-file schema
    * dispatch, the thing a single `spark.read.schema(...)` cannot
    * express. One read (no union) in the common homogeneous case.
    */
  private[graft] def loadAdaptive(
      spark: SparkSession,
      dir: String,
      name: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val path = s"$dir/$name.parquet"
    val footers = footerSchemas(spark, path)
    require(footers.nonEmpty, s"loadAdaptive: no parquet data files under $path")
    def nanosColsOf(schema: MessageType): Seq[PrimitiveType] =
      schema.getFields.asScala.map(_.asPrimitiveType())
        .filter(f => tsAnnotation(f).exists(_.getUnit == TimeUnit.NANOS))
        .toSeq
    // group files by their nanos-column signature (usually one group)
    val groups = footers.groupBy { case (_, s) =>
      nanosColsOf(s).map(_.getName).toSet
    }
    def readGroup(files: Seq[(String, MessageType)]): DataFrame = {
      val schema = files.head._2
      val nanosCols = nanosColsOf(schema)
      val paths = files.map(_._1)
      if (nanosCols.isEmpty)
        // native path; when the whole dir is one homogeneous group this
        // is exactly the plain table read
        if (paths.toSet == Set(path) || groups.size == 1)
          spark.read.parquet(path)
        else spark.read.parquet(paths: _*)
      else {
        val fields = schema.getFields.asScala.map(_.asPrimitiveType())
        val readSchema = StructType(fields.map(sparkField).toSeq)
        val raw = spark.read.schema(readSchema).parquet(paths: _*)
        nanosCols.foldLeft(raw) { (df, f) =>
          val c = f.getName
          val micros: Column = timestamp_micros(expr(s"`$c` div 1000"))
          val typed =
            if (tsAnnotation(f).exists(_.isAdjustedToUTC)) micros
            else micros.cast(TimestampNTZType) // identity wall-clock under UTC
          df.withColumn(c, typed)
        }
      }
    }
    groups.values.toSeq
      .sortBy(_.head._1) // deterministic union order
      .map(readGroup)
      .reduce(_.unionByName(_))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = loadAdaptive(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = loadAdaptive(s, d, "lineitem")

  /** Unit of `events.ts` — kept for the streaming file source, which
    * needs the decode choice up front (readStream takes one schema, not
    * a DataFrame, so unlike [[loadAdaptive]] it CANNOT dispatch per file
    * group). A mixed-unit directory would silently mis-decode the
    * minority group by a factor of 1000 — exactly the round-8 failure
    * class — so heterogeneity fails LOUDLY here instead: point the
    * stream at a unit-homogeneous path (a batch `loadAdaptive` + write
    * normalizes one).
    */
  private[graft] def eventsTsUnit(spark: SparkSession, dir: String): TimeUnit = {
    import scala.jdk.CollectionConverters._
    val path = s"$dir/events.parquet"
    val units = footerSchemas(spark, path).map { case (file, schema) =>
      val u = tsAnnotation(
        schema.getType(schema.getFieldIndex("ts")).asPrimitiveType())
        .map(_.getUnit)
        .getOrElse(TimeUnit.MICROS)
      file -> u
    }
    val distinct = units.map(_._2).distinct
    require(
      distinct.size == 1,
      s"events stream source at $path mixes timestamp units " +
        s"${units.map { case (f, u) => s"$u(${new Path(f).getName})" }.toSet.mkString(", ")} — " +
        "a single readStream schema cannot decode both; normalize the " +
        "directory first (batch loadAdaptive handles mixed units)")
    distinct.head
  }

  /** Raw-LONG fallback schema for `events` under TIMESTAMP(NANOS) — used
    * by the streaming source's raw branch (batch reads go through
    * [[loadAdaptive]], which derives the same schema from the footer).
    */
  private[graft] val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def events(s: SparkSession, d: String): DataFrame =
    // The engine's event-time contract is session-tz TimestampType (every
    // window, watermark and oracle twin was built against it) — a no-op
    // wall-clock-wise under the fixed UTC session timezone.
    loadAdaptive(s, d, "events")
      .withColumn("ts", col("ts").cast(TimestampType))

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
