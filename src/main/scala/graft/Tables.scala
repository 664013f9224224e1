package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * Each table is one parquet file per scale-factor directory. All reads go
  * through [[Tables.readParquet]], which the engine also uses for the
  * other parquet paths it reads again unchanged (ANN index sidecars,
  * saved ANN models); `ReadParquetSpec`'s source guard fails on any other
  * schema-less read not on its allow-list. The scan is declared lazily,
  * so Catalyst prunes columns and pushes filters per query. Spark infers
  * a schema-less read's schema in a one-task job that reads a footer;
  * `readParquet` caches the schema it inferred under a key of the root
  * paths, every leaf file Spark's file index would list under them as
  * (path, length, mtime), and the session confs that steer parquet
  * inference (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`, case
  * sensitivity, partition type inference, timestamp type and zone). A
  * hit hands that schema back through `read.schema(...)`, which runs no
  * job and reads no footer. It is exact: the schema is Spark's own
  * inference over the same files under the same confs, and it is cached
  * only when the schema-given read resolves to exactly the inferred
  * schema. Any rewrite, added or removed file or conf change is a new
  * key; a rewrite that keeps a file's length and lands within the
  * filesystem's mtime granularity is the one change the key cannot see,
  * as with Spark's own file-status cache.
  *
  * PHYSICAL-SCHEMA ADAPTATION: timestamp units are read from the parquet
  * FOOTER, never assumed. A real lake mixes MICROS and NANOS files, and
  * this fixture itself has switched units between regenerations (round 7:
  * NANOS; round 9: MICROS) — assuming the unit turned that physical change
  * into 30 silently-wrong query results in round 8. Every timestamp-bearing
  * table (events, orders, lineitem) now goes through [[loadAdaptive]]: one
  * driver-side footer probe, cached by the same file listing (O(KB)
  * metadata I/O — the same pattern a 1000-executor job uses), and
  * per-column decode-path selection. The
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
    readParquet(spark, s"$dir/$name.parquet")

  // -------------------------------------------------------------------
  // Schema-less parquet reads. Without a schema, `read.parquet` infers
  // one in a one-task Spark job that reads a footer
  // (SchemaMergeUtils.mergeSchemasInParallel), about 30 ms per read of
  // an unchanged fixture. The engine does that read through
  // [[readParquet]], which remembers the schema Spark inferred and,
  // while the key below is unchanged, hands it back to Spark instead.
  // -------------------------------------------------------------------

  /** The files one read covers: its root paths (in the caller's order,
    * which picks Spark's inference file) and every leaf file Spark's file
    * index would list under them as (path, length, mtime), sorted.
    */
  private final case class FileSet(roots: Seq[String], files: Seq[(String, Long, Long)])

  /** A schema-less read's inference inputs: the files and the session
    * confs that steer parquet schema inference.
    */
  private final case class SchemaKey(files: FileSet, confs: Seq[(String, String)])

  private val SchemaCacheEntries = 256
  private val FooterCacheEntries = 64

  private def lru[K, V](capacity: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size > capacity
    }

  private val schemaCache = lru[SchemaKey, StructType](SchemaCacheEntries)
  private val footerCache = lru[Seq[(String, Long, Long)], Seq[(String, MessageType)]](
    FooterCacheEntries)

  /** Names Spark's file index skips (HadoopFSUtils.shouldFilterOutPathName):
    * `_`/`.`-prefixed names other than partition directories and parquet
    * summary files, and in-flight `._COPYING_` copies.
    */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !isSummaryFile(name)

  private def isSummaryFile(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata")

  /** One driver listing of `roots` (globs expanded as Spark expands
    * them); None when a root matches nothing, so the caller's read
    * raises Spark's own error.
    */
  private def listFiles(spark: SparkSession, roots: Seq[String]): Option[FileSet] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hiddenName(c.getPath.getName))
        .flatMap(leaves(fs, _))
    val perRoot = roots.map { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).filter(_.nonEmpty).map(_.toSeq.flatMap(leaves(fs, _)))
    }
    if (perRoot.contains(None)) None
    else Some(FileSet(roots, perRoot.flatten.flatten
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sorted))
  }

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" ||
        k == "spark.sql.sources.partitionColumnTypeInference.enabled" ||
        k == "spark.sql.timestampType" || k == "spark.sql.session.timeZone"
    }.toSeq.sorted

  /** Spark's schema-less parquet read of `paths`, without its
    * schema-inference job when these files were read before under the
    * same inference confs. On a miss Spark infers as usual; the schema is
    * kept only when a read given it resolves to exactly the inferred
    * schema, so a hit plans the same relation a miss would. A miss pays
    * one more listing and resolution than a plain read, so this is for
    * paths read again unchanged: the fixtures, and index and model
    * artifacts served many times. A path written just before each read
    * stays on Spark's own read.
    */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    listFiles(spark, paths) match {
      case Some(files) => readListed(spark, files)
      case None => spark.read.parquet(paths: _*)
    }

  private def readListed(spark: SparkSession, files: FileSet): DataFrame = {
    val key = SchemaKey(files, inferenceConfs(spark))
    def given(schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(files.roots: _*)
    schemaCache.synchronized(Option(schemaCache.get(key))) match {
      case Some(schema) => given(schema)
      case None =>
        val df = spark.read.parquet(files.roots: _*)
        if (given(df.schema).schema == df.schema)
          schemaCache.synchronized(schemaCache.put(key, df.schema))
        df
    }
  }

  // -------------------------------------------------------------------
  // Footer probe: EVERY data file's parquet MessageType — a real lake
  // mixes files written under different producer versions, so one
  // file's footer does not speak for the directory. Driver-side
  // O(files) metadata reads, cached by the same file listing
  // [[readParquet]] keys on: a rewritten, added or removed file is a
  // new key, so a path rewritten in another timestamp unit is re-probed.
  // -------------------------------------------------------------------
  private def footerSchemas(
      spark: SparkSession,
      files: FileSet): Seq[(String, MessageType)] =
    footerCache.synchronized(Option(footerCache.get(files.files))).getOrElse {
      // the cache outlives any one session: read under the context's
      // conf, not a per-call copy of this session's
      val conf = spark.sparkContext.hadoopConfiguration
      val footers = files.files.map(_._1)
        .filterNot(f => isSummaryFile(new Path(f).getName))
        .map(f => f -> ParquetFooters.read(new Path(f), conf).getFileMetaData.getSchema)
      footerCache.synchronized(footerCache.put(files.files, footers))
      footers
    }

  private def tsAnnotation(
      f: PrimitiveType): Option[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =
    f.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t)
      case _ => None
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
    * the read is Spark's native path through [[readParquet]], keyed by
    * the same listing as the footer probe.
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
    val listed = listFiles(spark, Seq(path))
    val footers = listed.map(footerSchemas(spark, _)).getOrElse(Nil)
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
        if (groups.size == 1) readListed(spark, listed.get)
        else {
          val group = paths.toSet
          readListed(spark, FileSet(paths, listed.get.files.filter(f => group(f._1))))
        }
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
    val footers = listFiles(spark, Seq(path)).map(footerSchemas(spark, _)).getOrElse(Nil)
    require(footers.nonEmpty, s"eventsTsUnit: no parquet data files under $path")
    val units = footers.map { case (file, schema) =>
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
