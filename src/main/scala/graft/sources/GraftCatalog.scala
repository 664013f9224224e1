package graft.sources

import java.io.ByteArrayOutputStream
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `TableCatalog` for merge tables — the engine's own table as a
  * first-class SQL citizen (the reference is a DATABASE kernel; its
  * Spark dual deserves DDL, not only `spark.read.format(...)` calls):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.g.warehouse", "/warehouse")
  *   sql("CREATE NAMESPACE g.db")
  *   sql("""CREATE TABLE g.db.t (k BIGINT, seq BIGINT, v DOUBLE)
  *          USING `graft-merge` OPTIONS (key 'k', seq 'seq')""")
  *   sql("INSERT INTO g.db.t SELECT ...")   -- MERGE-upsert semantics
  *   sql("SELECT * FROM g.db.t WHERE k = 5") -- bucket-pruned scan
  *   sql("SELECT * FROM g.db.t VERSION AS OF 0") -- time travel
  * }}}
  *
  * Catalog metadata is one java-properties file per table under the
  * warehouse (`<warehouse>/<namespace>/<name>.gtable`): the table's
  * declared schema (used until the first commit; after that the
  * committed footers are authoritative — CDC evolution must win over a
  * stale declaration), its merge options (key/seq/path), and whether
  * the data location is EXTERNAL (supplied path — DROP keeps data) or
  * MANAGED (defaulted under `<warehouse>/_data/` — DROP removes it).
  * DDL is tiny-metadata-scale by design; the data path stays entirely
  * in [[graft.streaming.MergeSink]]'s transactional protocol.
  */
class GraftCatalog
    extends TableCatalog
    with SupportsNamespaces
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  /** Maintenance operations as SQL PROCEDURES (`CALL cat.sys.compact
    * ('db.t', 4)`) — the Iceberg-procedures shape on the V2
    * ProcedureCatalog API. Compaction, incremental compaction,
    * tombstone expiry, and bloom-index declaration become one-line SQL
    * operations a warehouse operator can schedule without any Scala.
    */
  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(Identifier.of(namespace, _))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"graft catalog: no such procedure ${ident.name()} " +
          s"(have: ${GraftProcedures.names.mkString(", ")})"))

  /** Table options for a catalog identifier — the procedure surface's
    * resolution hook (path/key/seq of the table a CALL names).
    */
  private[sources] def tableOptions(ident: Identifier): Map[String, String] = {
    val props = readMeta(ident)
    props.stringPropertyNames.asScala
      .map(k => k -> props.getProperty(k)).toMap
  }

  /** Engine scalar functions as SQL citizens: `SELECT cat.ns.damerau
    * (a, b)` resolves here (any existing namespace serves them — they
    * are engine-global, not per-namespace artifacts). Bound functions
    * use the MAGIC-method invoke path, so calls compile to a direct
    * static invocation in generated code — no row boxing, same tier as
    * a built-in.
    */
  override def listFunctions(
      namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq)
    GraftFunctions.names.map(Identifier.of(namespace, _))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
        ident))

  private var catalogName: String = _
  private var warehouse: Path = _

  private def fs: FileSystem =
    warehouse.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"graft catalog '$name': spark.sql.catalog.$name.warehouse is required")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  // ------------------------------------------------------------------
  // metadata files
  // ------------------------------------------------------------------

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, n) => new Path(p, n))

  private def metaPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), s"${ident.name}.gtable")

  private def managedDataPath(ident: Identifier): Path =
    (ident.namespace :+ ident.name)
      .foldLeft(new Path(warehouse, "_data"))((p, n) => new Path(p, n))

  private def readMeta(ident: Identifier): util.Properties = {
    val mp = metaPath(ident)
    if (!fs.exists(mp)) throw new NoSuchTableException(ident)
    val in = fs.open(mp)
    val props = new util.Properties
    try props.load(in)
    finally in.close()
    props
  }

  private def writeMeta(
      ident: Identifier,
      props: util.Properties,
      overwrite: Boolean): Unit = {
    val mp = metaPath(ident)
    fs.mkdirs(mp.getParent)
    val bytes = new ByteArrayOutputStream()
    props.store(bytes, null)
    // exclusive create: two racing CREATE TABLEs resolve to one winner
    val out =
      try fs.create(mp, overwrite)
      catch {
        case _: java.io.IOException if !overwrite && fs.exists(mp) =>
          throw new TableAlreadyExistsException(ident)
      }
    try out.write(bytes.toByteArray)
    finally out.close()
  }

  // ------------------------------------------------------------------
  // TableCatalog
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsPath(namespace)
    if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(d)
      .iterator
      .map(_.getPath.getName)
      .filter(_.endsWith(".gtable"))
      .map(n => Identifier.of(namespace, n.stripSuffix(".gtable")))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(metaPath(ident))

  override def loadTable(ident: Identifier): Table =
    try loadWith(ident, None)
    catch {
      // `cat.db.t.history` parses as namespace [db, t], name "history":
      // serve the parent table's metadata relation (the Iceberg
      // inspection shape) when the parent exists and the trailing
      // segment names a metadata kind
      case e: NoSuchTableException
          if ident.namespace().nonEmpty &&
            (MergeMetadataTable.kinds.contains(
              ident.name().toLowerCase(java.util.Locale.ROOT)) ||
              ident.name().toLowerCase(java.util.Locale.ROOT) == "changes") =>
        val parent = Identifier.of(
          ident.namespace.dropRight(1), ident.namespace.last)
        if (!tableExists(parent)) throw e
        // `cat.db.t.changes` — the CDC VIEW of any catalog table (the
        // Delta table_changes / Iceberg changelog shape): batch reads
        // return the retained commit log, streaming reads replay it —
        // no second `cdc 'true'` table declaration needed. CAVEAT
        // (same as Delta): metadata-only commits write no bucket
        // files, so RESTORE / schema-only evolution emit NO events
        // here — a consumer needing a rollback as a diff must compare
        // snapshots (VERSION AS OF) instead
        if (ident.name().toLowerCase(java.util.Locale.ROOT) == "changes")
          loadWith(parent, None, forceCdc = true)
        else
          new MergeMetadataTable(
            ident.name().toLowerCase(java.util.Locale.ROOT),
            readMeta(parent).getProperty("path"))
    }

  /** TIME TRAVEL through SQL: `SELECT … FROM t VERSION AS OF <v>`. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadWith(ident, Some(version))

  /** `SELECT … FROM t TIMESTAMP AS OF <ts>` — Spark hands MICROS since
    * epoch; resolve to the latest version whose commit marker is at or
    * before it (marker mtime, the Delta convention) and serve that
    * snapshot through the same versionAsOf machinery.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val props = readMeta(ident)
    val path = props.getProperty("path")
    val v = graft.streaming.MergeSink
      .versionAt(SparkSession.active, path, timestampMicros / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: table ${ident.name()} has no commit at or " +
          s"before timestamp ${timestampMicros / 1000L} ms"))
    loadWith(ident, Some(v.toString))
  }

  private def loadWith(
      ident: Identifier,
      versionAsOf: Option[String],
      forceCdc: Boolean = false): Table = {
    val props = readMeta(ident)
    val opts = props.stringPropertyNames.asScala
      .filterNot(k => k == "schema" || k == TableCatalog.PROP_EXTERNAL)
      .map(k => k -> props.getProperty(k))
      .toMap ++ versionAsOf.map("versionAsOf" -> _) ++
      (if (forceCdc) Map("cdc" -> "true") else Map.empty)
    val spark = SparkSession.active
    val MS = graft.streaming.MergeSink
    // committed data is authoritative for the schema (CDC batches may
    // have evolved it past the declaration); the declared schema serves
    // until the first commit. A VERSION/TIMESTAMP AS OF read resolves
    // the schema from THAT version's recorded manifest — a REPLACE
    // TABLE or ADD COLUMN after the snapshot must not bleed the head
    // schema into time travel (columns the replace dropped stay
    // readable at the old version; columns it added don't exist there).
    val base = MS.lastCommit(spark, opts("path")) match {
      case Some(_) =>
        versionAsOf
          .flatMap(v => scala.util.Try(v.toLong).toOption
            // a non-numeric VERSION AS OF is a named tag
            .orElse(MS.tagVersion(spark, opts("path"), v)))
          .flatMap(v => MS.manifestSchema(spark, opts("path"), v))
          .map(s => org.apache.spark.sql.types.StructType(
            s.fields.map(f =>
              org.apache.spark.sql.types.StructField(f.name, f.dataType))))
          .getOrElse(MergeTableUtil.dataSchema(spark, opts("path")))
      case None =>
        DataType.fromJson(props.getProperty("schema")).asInstanceOf[StructType]
    }
    // a table declared with `cdc 'true'` is the commit-log VIEW of its
    // path: batch reads return the retained log, streaming reads replay
    // it — which makes `spark.readStream.table(...)` work through pure
    // SQL identifiers (the schema must carry the replay columns)
    val schema =
      if (opts.get("cdc").exists(_.toBoolean))
        StructType(
          base.fields.toSeq ++
            (if (base.fieldNames.contains(MS.DeletedCol)) Nil
             else Seq(org.apache.spark.sql.types.StructField(
               MS.DeletedCol, org.apache.spark.sql.types.BooleanType))) ++
            Seq(
              org.apache.spark.sql.types.StructField(
                MergeTableUtil.VersionCol,
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField(
                MergeTableUtil.BucketCol,
                org.apache.spark.sql.types.IntegerType, nullable = false)))
      else StructType(base.fields.filterNot(_.name == MS.DeletedCol))
    new GraftMergeTable(schema, opts)
  }

  /** Parse `PARTITIONED BY (days(ts) | months(ts) | identity-col)` into
    * the merge layout's transform kind + source column. One transform,
    * over a top-level column; the column must be one of the merge key
    * columns (validated against `key` by the caller's write path).
    */
  private def parsePartitioning(
      partitions: Array[Transform]): Option[(String, String)] = {
    if (partitions.isEmpty) return None
    require(partitions.length == 1,
      "graft-merge: at most ONE partition transform (days/months/" +
        "identity) — the second level is always the hash bucket")
    val t = partitions.head
    val refs = t.references()
    require(refs.length == 1 && refs.head.fieldNames().length == 1,
      s"graft-merge: partition transform must reference one top-level " +
        s"column, got $t")
    val c = refs.head.fieldNames().head
    val kind = t.name().toLowerCase(java.util.Locale.ROOT) match {
      case "days" | "day" => "day"
      case "months" | "month" => "month"
      case "hours" | "hour" => "hour"
      case "years" | "year" => "year"
      case "identity" => "identity"
      case other => throw new IllegalArgumentException(
        s"graft-merge: unsupported partition transform '$other' " +
          "(hours | days | months | years | identity)")
    }
    Some(kind -> c)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partSpec = parsePartitioning(partitions)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val given = properties.asScala
    // OPTIONS(...) arrive under TableCatalog.OPTION_PREFIX; accept bare
    // keys too (programmatic createTable callers)
    def opt(k: String): Option[String] =
      given.get(TableCatalog.OPTION_PREFIX + k).orElse(given.get(k))
    val key = opt("key").getOrElse(throw new IllegalArgumentException(
      "graft-merge: OPTIONS must declare key (the merge key column, " +
        "or a comma-list for a composite key)"))
    val seq = opt("seq").getOrElse(throw new IllegalArgumentException(
      "graft-merge: OPTIONS must declare seq (the total-order column)"))
    graft.streaming.MergeSink.keyCols(key).foreach(k =>
      require(schema.fieldNames.contains(k),
        s"graft-merge: key column '$k' not in declared schema"))
    require(schema.fieldNames.contains(seq),
      s"graft-merge: seq column '$seq' not in declared schema")
    val external = opt("path")
      .orElse(Option(properties.get(TableCatalog.PROP_LOCATION)))
    val path = external.getOrElse(managedDataPath(ident).toString)
    val props = new util.Properties
    val checks = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // any OTHER declared option (e.g. `cdc 'true'` for a commit-log
    // view) persists too and flows back as a table property on load
    given.foreach { case (k, v) =>
      if (k.startsWith(TableCatalog.OPTION_PREFIX)) {
        val bare = k.stripPrefix(TableCatalog.OPTION_PREFIX)
        if (bare.startsWith("check."))
          // `check.<name> '<expr>'`: declare a CHECK constraint at
          // creation (the inline-DDL shape) — lives in the table's own
          // sidecar, exactly as CALL add_check would put it
          checks += bare.stripPrefix("check.") -> v
        else if (bare != "key" && bare != "seq" && bare != "path")
          props.setProperty(bare, v)
      }
    }
    partSpec.foreach { case (kind, c) =>
      require(schema.fieldNames.contains(c),
        s"graft-merge: partition column '$c' not in declared schema")
      require(graft.streaming.MergeSink.keyCols(key).contains(c),
        s"graft-merge: partition column '$c' must be one of the merge " +
          s"key columns ($key) — a key's bucket must be stable across " +
          "upserts")
      props.setProperty("partition", s"$kind($c)")
    }
    props.setProperty("path", path)
    props.setProperty("key", key)
    props.setProperty("seq", seq)
    props.setProperty("schema", schema.json)
    // SHOW CREATE TABLE renders `USING graft-merge` from this
    props.setProperty(TableCatalog.PROP_PROVIDER, "graft-merge")
    props.setProperty(TableCatalog.PROP_EXTERNAL, external.isDefined.toString)
    writeMeta(ident, props, overwrite = false)
    // sidecar only AFTER the metadata publish — a CREATE that loses its
    // race must not strand a _constraints file in the data directory
    // for a later CREATE at the same path to silently inherit
    partSpec.foreach { case (kind, c) =>
      graft.streaming.MergeSink.setPartitionSpec(
        SparkSession.active, path, kind, c,
        opt("buckets").map(_.toInt)
          .getOrElse(graft.streaming.MergeSink.DefaultBuckets))
    }
    // `bucket_by 'col'`: hash only the declared key column(s) — a
    // single column keeps the layout expressible to Spark's SPJ
    // machinery (see [[MergeSink.setBucketBy]])
    opt("bucket_by").map(graft.streaming.MergeSink.keyCols).foreach { bc =>
      bc.foreach(c =>
        require(graft.streaming.MergeSink.keyCols(key).contains(c),
          s"graft-merge: bucket_by column '$c' must be one of the merge " +
            s"key columns ($key) — a key's bucket must be stable " +
            "across upserts"))
      graft.streaming.MergeSink.setBucketBy(SparkSession.active, path, bc)
    }
    checks.foreach { case (n, e) =>
      graft.streaming.MergeSink.setCheckConstraint(
        SparkSession.active, path, n, e)
    }
    new GraftMergeTable(schema, Map("path" -> path, "key" -> key, "seq" -> seq))
  }

  // ------------------------------------------------------------------
  // StagingTableCatalog — ATOMIC CTAS / RTAS. Plain CTAS through a
  // non-staging catalog is create-then-write: a failed SELECT strands
  // an empty (or half-written) table in the catalog. Staged, the
  // metadata publish happens ONLY in commitStagedChanges after the
  // write succeeded — a failed CTAS leaves no table, a failed RTAS
  // leaves the old definition untouched. REPLACE keeps the table's
  // data directory (and therefore its commit history: the pre-replace
  // snapshot stays time-travelable like any overwrite), writes the new
  // rows as an overwrite commit that REDEFINES the recorded schema,
  // and forbids changing key/seq/path — those are the table's physical
  // identity.
  // ------------------------------------------------------------------

  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = false, orCreate = false)

  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, orCreate = false)

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, orCreate = true)

  private def stage(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      replace: Boolean,
      orCreate: Boolean): StagedTable = {
    val partSpec = parsePartitioning(partitions)
    val exists = tableExists(ident)
    require(partSpec.isEmpty || !exists,
      "graft catalog: REPLACE TABLE cannot change the partition " +
        "layout — it is the table's physical identity; DROP and " +
        "re-create to re-partition")
    if (!replace && exists) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !exists) throw new NoSuchTableException(ident)
    val given = properties.asScala
    def opt(k: String): Option[String] =
      given.get(TableCatalog.OPTION_PREFIX + k).orElse(given.get(k))
    val prev = if (exists) Some(readMeta(ident)) else None
    val key = opt("key").orElse(prev.map(_.getProperty("key")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-merge: OPTIONS must declare key (the merge key column, " +
          "or a comma-list for a composite key)"))
    val seq = opt("seq").orElse(prev.map(_.getProperty("seq")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-merge: OPTIONS must declare seq (the total-order column)"))
    prev.foreach { pp =>
      require(pp.getProperty("key") == key && pp.getProperty("seq") == seq,
        "graft catalog: REPLACE TABLE cannot change key/seq — they are " +
          "the table's physical identity (bucketing and row ordering); " +
          "DROP and re-create to re-key")
    }
    graft.streaming.MergeSink.keyCols(key).foreach(k =>
      require(schema.fieldNames.contains(k),
        s"graft-merge: key column '$k' not in the staged schema"))
    require(schema.fieldNames.contains(seq),
      s"graft-merge: seq column '$seq' not in the staged schema")
    val external = opt("path")
      .orElse(Option(properties.get(TableCatalog.PROP_LOCATION)))
    prev.foreach { pp =>
      require(external.forall(_ == pp.getProperty("path")),
        "graft catalog: REPLACE TABLE cannot relocate the table")
    }
    val path = prev.map(_.getProperty("path"))
      .orElse(external).getOrElse(managedDataPath(ident).toString)
    val props = new util.Properties
    given.foreach { case (k, v) =>
      if (k.startsWith(TableCatalog.OPTION_PREFIX)) {
        val bare = k.stripPrefix(TableCatalog.OPTION_PREFIX)
        if (bare.startsWith("check."))
          // `check.<name> '<expr>'`: a CHECK constraint declared inside
          // a staged statement. STAGED, not written: it validates this
          // statement's own write, but the live table's sidecar only
          // changes if the whole statement commits — an aborted RTAS
          // leaves the old constraints untouched, a failed CTAS strands
          // nothing ([[GraftStagedTable.commitStagedChanges]] /
          // abortStagedChanges resolve it)
          graft.streaming.MergeSink.stageCheckConstraint(
            SparkSession.active, path, bare.stripPrefix("check."), v)
        else if (bare != "key" && bare != "seq" && bare != "path")
          props.setProperty(bare, v)
      }
    }
    // a NEW partitioned table's layout must exist BEFORE the staged
    // CTAS write runs (the write buckets through it); the managed-new
    // abort path removes the whole directory, spec included
    partSpec.foreach { case (kind, c) =>
      require(schema.fieldNames.contains(c),
        s"graft-merge: partition column '$c' not in the staged schema")
      require(graft.streaming.MergeSink.keyCols(key).contains(c),
        s"graft-merge: partition column '$c' must be one of the merge " +
          s"key columns ($key)")
      graft.streaming.MergeSink.setPartitionSpec(
        SparkSession.active, path, kind, c,
        opt("buckets").map(_.toInt)
          .getOrElse(graft.streaming.MergeSink.DefaultBuckets))
      props.setProperty("partition", s"$kind($c)")
    }
    // bucket_by: the hash layout, like the partition spec, is the
    // table's physical identity — REPLACE cannot change it, and a new
    // table's sidecar must exist before the staged write buckets rows
    val bucketByCols = opt("bucket_by")
      .map(graft.streaming.MergeSink.keyCols)
    require(bucketByCols.isEmpty || !exists,
      "graft catalog: REPLACE TABLE cannot change bucket_by — it is " +
        "the table's physical identity; DROP and re-create to re-key")
    bucketByCols.foreach { bc =>
      bc.foreach(c =>
        require(graft.streaming.MergeSink.keyCols(key).contains(c),
          s"graft-merge: bucket_by column '$c' must be one of the " +
            s"merge key columns ($key)"))
      graft.streaming.MergeSink.setBucketBy(SparkSession.active, path, bc)
    }
    props.setProperty("path", path)
    props.setProperty("key", key)
    props.setProperty("seq", seq)
    props.setProperty("schema", schema.json)
    props.setProperty(TableCatalog.PROP_PROVIDER, "graft-merge")
    props.setProperty(TableCatalog.PROP_EXTERNAL,
      prev.map(_.getProperty(TableCatalog.PROP_EXTERNAL))
        .getOrElse(external.isDefined.toString))
    val managedNew = !exists && external.isEmpty
    new GraftStagedTable(
      this, ident,
      new GraftMergeTable(
        schema, Map("path" -> path, "key" -> key, "seq" -> seq)),
      props,
      replaceData = exists,
      // abort of a NEW managed table removes the data its write
      // committed; an aborted REPLACE keeps the old definition (the
      // overwrite commit, if it happened, stays time-travelable)
      abortCleanupPath = if (managedNew) Some(path) else None,
      // a NEW EXTERNAL partitioned CTAS staged its _partition_spec at
      // the external path before the write (the write buckets through
      // it); abort must remove it or a later CREATE at the same path
      // silently inherits a stale layout (the managed-new cleanup
      // already removes the whole directory)
      abortSpecPath =
        if ((partSpec.nonEmpty || bucketByCols.nonEmpty) && !managedNew)
          Some(path)
        else None)
  }

  private[sources] def commitStagedMeta(
      ident: Identifier, props: util.Properties, overwrite: Boolean): Unit =
    writeMeta(ident, props, overwrite)

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES` — the routine operations a
    * SQL user performs on any real table. Everything structural stays
    * immutable and rejects loudly: the schema follows the committed
    * data (CDC evolution), and the merge options (path/key/seq) define
    * the table's physical identity.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val reserved = Set("path", "key", "seq", "schema",
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_PROVIDER)
    val props = readMeta(ident)
    changes.foreach {
      case set: TableChange.SetProperty =>
        require(!reserved.contains(set.property),
          s"graft catalog: table property '${set.property}' is immutable " +
            "(it defines the table's physical identity)")
        props.setProperty(set.property, set.value)
      case rm: TableChange.RemoveProperty =>
        require(!reserved.contains(rm.property),
          s"graft catalog: table property '${rm.property}' is immutable " +
            "(it defines the table's physical identity)")
        props.remove(rm.property)
      // ADD COLUMN(S): schema evolution as METADATA — on a committed
      // table a schema-only commit extends the manifest's recorded
      // union schema (zero data rewritten; old rows read NULL); on a
      // never-committed table the declared schema property extends.
      // Appending nullable columns only: drops/renames/type changes
      // would orphan or misread committed data and stay rejected.
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft catalog: ADD COLUMN supports top-level columns only, " +
            s"got ${add.fieldNames.mkString(".")}")
        require(add.isNullable,
          s"graft catalog: new column ${add.fieldNames.head} must be " +
            "nullable (existing rows read it as NULL)")
        require(add.position == null,
          "graft catalog: ADD COLUMN appends at the end (column order " +
            "is the commit history's union order); FIRST/AFTER is not " +
            "supported")
        val f = org.apache.spark.sql.types.StructField(
          add.fieldNames.head, add.dataType, nullable = true)
        val path = props.getProperty("path")
        if (graft.streaming.MergeSink.lastCommit(
            SparkSession.active, path).isDefined)
          graft.streaming.MergeSink.addColumns(
            SparkSession.active, path, Seq(f))
        else {
          val cur = DataType.fromJson(props.getProperty("schema"))
            .asInstanceOf[StructType]
          require(!cur.fieldNames.map(_.toLowerCase)
            .contains(f.name.toLowerCase),
            s"graft catalog: column ${f.name} already exists")
          props.setProperty("schema", StructType(cur.fields :+ f).json)
        }
      // RENAME COLUMN: metadata-only through column mapping — the
      // recorded schema renames the field and keeps its alias chain +
      // stable id; committed data files are untouched and resolve by
      // former name. Key/seq columns are the bucket layout's identity
      // and stay immutable.
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          "graft catalog: RENAME COLUMN supports top-level columns only")
        val from = ren.fieldNames.head
        val to = ren.newName
        val path = props.getProperty("path")
        val protectedCols = graft.streaming.MergeSink
          .keyCols(props.getProperty("key")) :+ props.getProperty("seq")
        if (graft.streaming.MergeSink.lastCommit(
            SparkSession.active, path).isDefined)
          graft.streaming.MergeSink.renameColumn(
            SparkSession.active, path, from, to, protectedCols)
        else {
          require(!protectedCols.contains(from),
            s"graft catalog: column $from is the table's key/seq identity")
          val cur = DataType.fromJson(props.getProperty("schema"))
            .asInstanceOf[StructType]
          require(cur.fieldNames.contains(from),
            s"graft catalog: no column $from")
          require(!cur.fieldNames.map(_.toLowerCase)
            .contains(to.toLowerCase),
            s"graft catalog: column $to already exists")
          props.setProperty("schema", StructType(cur.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f)).json)
        }
      // DROP COLUMN: metadata-only — the field leaves the recorded
      // schema; stale bytes stay blocked from name reuse until a full
      // compaction purges them.
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft catalog: DROP COLUMN supports top-level columns only")
        val name = del.fieldNames.head
        val path = props.getProperty("path")
        val protectedCols = graft.streaming.MergeSink
          .keyCols(props.getProperty("key")) :+ props.getProperty("seq")
        if (graft.streaming.MergeSink.lastCommit(
            SparkSession.active, path).isDefined)
          try graft.streaming.MergeSink.dropColumn(
            SparkSession.active, path, name, protectedCols)
          catch {
            case e: IllegalArgumentException if del.ifExists() => ()
          }
        else {
          require(!protectedCols.contains(name),
            s"graft catalog: column $name is the table's key/seq identity")
          val cur = DataType.fromJson(props.getProperty("schema"))
            .asInstanceOf[StructType]
          if (!cur.fieldNames.contains(name)) {
            if (!del.ifExists())
              throw new IllegalArgumentException(
                s"graft catalog: no column $name")
          } else props.setProperty(
            "schema", StructType(cur.fields.filter(_.name != name)).json)
        }
      // ALTER COLUMN TYPE: SAFE WIDENING ONLY (int->long, float->
      // double, decimal precision growth) as a schema-only commit —
      // old files keep the narrow physical type, readers up-cast
      // through parquet type promotion. Anything lossy still rejects.
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns only")
        val name = upd.fieldNames.head
        val path = props.getProperty("path")
        if (graft.streaming.MergeSink.lastCommit(
            SparkSession.active, path).isDefined)
          graft.streaming.MergeSink.widenColumn(
            SparkSession.active, path, props.getProperty("key"),
            name, upd.newDataType())
        else {
          val cur = DataType.fromJson(props.getProperty("schema"))
            .asInstanceOf[StructType]
          val f = cur.fields.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(
              s"graft catalog: no column $name"))
          require(graft.streaming.MergeSink.widensTo(
            f.dataType, upd.newDataType()),
            s"graft catalog: ${f.dataType.simpleString} -> " +
              s"${upd.newDataType().simpleString} is not a safe widening")
          props.setProperty("schema", StructType(cur.fields.map(x =>
            if (x.name == name) x.copy(dataType = upd.newDataType())
            else x)).json)
        }
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other — " +
            "the schema evolves by ADD/RENAME/DROP COLUMN, safe type " +
            "WIDENING (ALTER COLUMN ... TYPE), or committed CDC " +
            "batches; otherwise SET/UNSET TBLPROPERTIES is the " +
            "metadata surface")
    }
    writeMeta(ident, props, overwrite = true)
    // ENGINE-backed properties take effect in the data dir too:
    // `history_keep` is the snapshot-retention depth (SET pushes it to
    // the table's `_history_keep`; UNSET restores the default 2)
    changes.foreach {
      case set: TableChange.SetProperty if set.property == "history_keep" =>
        graft.streaming.MergeSink.setHistoryKeep(
          SparkSession.active, props.getProperty("path"), set.value.toInt)
      case rm: TableChange.RemoveProperty if rm.property == "history_keep" =>
        graft.streaming.MergeSink.setHistoryKeep(
          SparkSession.active, props.getProperty("path"), 2)
      // time-based retention window (milliseconds); UNSET clears it
      case set: TableChange.SetProperty if set.property == "history_keep_ms" =>
        graft.streaming.MergeSink.setHistoryKeepMs(
          SparkSession.active, props.getProperty("path"), set.value.toLong)
      case rm: TableChange.RemoveProperty
          if rm.property == "history_keep_ms" =>
        graft.streaming.MergeSink.setHistoryKeepMs(
          SparkSession.active, props.getProperty("path"), 0L)
      case _ =>
    }
    loadWith(ident, None)
  }

  /** CROSS-TABLE ATOMIC TRANSACTION over CATALOG tables: resolve each
    * `db.table` identifier's path/key/seq from the catalog metadata
    * and run [[graft.streaming.MergeSink.commitTransaction]] with the
    * warehouse-level `_txn` log as the shared commit point — callers
    * name tables, not paths. Returns (identifier, minted version) per
    * participant. Retry a lost claim race with
    * [[graft.streaming.MergeSink.withCommitRetry]].
    */
  def commitTransaction(
      writes: Seq[(String, org.apache.spark.sql.DataFrame)],
      runId: String =
        s"txn-${java.util.UUID.randomUUID().toString.take(8)}",
      epochId: Long = 0L): Seq[(String, Long)] = {
    val MS = graft.streaming.MergeSink
    val resolved = writes.map { case (name, df) =>
      val parts = name.split("\\.")
      val ident = Identifier.of(parts.dropRight(1), parts.last)
      if (!tableExists(ident)) throw new NoSuchTableException(ident)
      val props = readMeta(ident)
      (name, MS.TxnWrite(
        props.getProperty("path"),
        props.getProperty("key"),
        props.getProperty("seq"),
        df))
    }
    val txnDir = new Path(warehouse, "_txn").toString
    val minted = MS.commitTransaction(
      SparkSession.active, txnDir, resolved.map(_._2), runId, epochId)
    val byDir = minted.toMap
    resolved.flatMap { case (name, w) =>
      byDir.get(w.dir).map(name -> _)
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val mp = metaPath(ident)
    if (!fs.exists(mp)) return false
    val props = readMeta(ident)
    val managed = props.getProperty(TableCatalog.PROP_EXTERNAL) == "false"
    // a table with LIVE reference-sharing branches re-pins them onto
    // ITS base before dying (promote-and-delete: drop an intermediate
    // branch, grandchildren keep reading through the grandparent) —
    // content the dying table minted materializes into each child
    // first, so no child ever resolves into deleted bytes
    graft.streaming.MergeSink
      .repinBranchChildren(SparkSession.active, props.getProperty("path"))
    // a reference-sharing branch releases its pin on the source (the
    // source's GC may then age the base out normally)
    graft.streaming.MergeSink
      .releaseBranchRefs(SparkSession.active, props.getProperty("path"))
    // a DERIVED table (materialized view / ANN index) unregisters from
    // every source's _dependents sidecar: a ghost line would make each
    // later source commit under autoRefreshMv/autoRefreshAnn
    // re-materialize — or fail against — a dropped table. Best-effort:
    // an unresolvable source must not block the drop.
    (Option(props.getProperty("graft.ann.source")).toSeq ++
      MaterializedViews.viewSources(k => Option(props.getProperty(k))))
      .foreach { srcIdent =>
        try MaterializedViews.unregisterDependent(
          SparkSession.active,
          tableOptions(MaterializedViews.identOf(srcIdent))("path"),
          props.getProperty("path"))
        catch { case _: Throwable => () }
      }
    fs.delete(mp, false)
    if (managed) fs.delete(new Path(props.getProperty("path")), true)
    // the path's history is destroyed, not extended: a re-CREATE at
    // the same (deterministic managed) path must not hit the old
    // table's cached manifests
    graft.streaming.MergeSink
      .invalidateManifestCache(props.getProperty("path"))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(metaPath(newIdent).getParent)
    if (!fs.rename(metaPath(oldIdent), metaPath(newIdent)))
      throw new IllegalStateException(
        s"graft catalog: rename $oldIdent -> $newIdent failed")
  }

  // ------------------------------------------------------------------
  // SupportsNamespaces — one directory per namespace level
  // ------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse)
      .iterator
      .filter(s => s.isDirectory && s.getPath.getName != "_data")
      .map(s => Array(s.getPath.getName))
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = nsPath(namespace)
    if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(d)
      .iterator
      .filter(_.isDirectory)
      .map(s => namespace :+ s.getPath.getName)
      .toArray
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!fs.exists(nsPath(namespace)))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val d = nsPath(namespace)
    if (fs.exists(d)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(d)
  }

  override def alterNamespace(
      namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(
      namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsPath(namespace)
    if (!fs.exists(d)) return false
    if (!cascade && fs.listStatus(d).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is not empty")
    // cascade must route through dropTable so MANAGED tables' data
    // directories (under <warehouse>/_data/) are removed too — deleting
    // only the namespace dir would orphan them on disk
    if (cascade) {
      def dropAll(ns: Array[String]): Unit = {
        listTables(ns).foreach(dropTable)
        listNamespaces(ns).foreach(dropAll)
      }
      dropAll(namespace)
    }
    fs.delete(d, true)
  }
}

/** A staged CTAS/RTAS table ([[GraftCatalog.stageCreate]] family): the
  * inner [[GraftMergeTable]] serves the write (for a REPLACE, routed
  * through `replaceTableSemantics()` — an overwrite commit that also
  * redefines the recorded schema); the catalog METADATA publish is
  * deferred to [[commitStagedChanges]], which is what makes the whole
  * statement atomic from SQL's point of view.
  */
private[sources] class GraftStagedTable(
    cat: GraftCatalog,
    ident: Identifier,
    inner: GraftMergeTable,
    meta: util.Properties,
    replaceData: Boolean,
    abortCleanupPath: Option[String],
    abortSpecPath: Option[String] = None)
    extends StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def properties(): util.Map[String, String] = inner.properties()

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val wb = inner.newWriteBuilder(info)
      .asInstanceOf[GraftMergeWriteBuilder]
    if (replaceData) wb.replaceTableSemantics()
    wb
  }

  override def commitStagedChanges(): Unit = {
    // exclusive create for CTAS (two racing CTAS resolve to one
    // winner); overwrite for RTAS (the definition existed)
    cat.commitStagedMeta(ident, meta, overwrite = replaceData)
    // the statement is committed: its check.* constraints (staged in
    // the pending registry, already enforced on the staged write) now
    // publish into the table's sidecar
    graft.streaming.MergeSink.commitStagedChecks(
      SparkSession.active, meta.getProperty("path"))
  }

  override def abortStagedChanges(): Unit = {
    graft.streaming.MergeSink.discardStagedChecks(meta.getProperty("path"))
    abortCleanupPath.foreach { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
    }
    // external-path partitioned/bucket_by CTAS: the staged layout
    // sidecars must not outlive the aborted statement
    abortSpecPath.foreach { p =>
      val fs = new Path(p).getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(new Path(p, "_partition_spec"), false)
      fs.delete(new Path(p, "_bucket_by"), false)
    }
  }
}

/** The engine's SQL-callable scalar functions (the [[GraftCatalog]]
  * FunctionCatalog surface). Each bound function carries the MAGIC
  * `invoke` method with exact argument types, so Catalyst compiles the
  * call to a direct (static-dispatch) invocation inside generated
  * code — the V2 function fast path, no InternalRow boxing per call.
  */
object GraftFunctions {
  import org.apache.spark.sql.connector.catalog.functions.{
    BoundFunction, ScalarFunction, UnboundFunction}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  val names: Array[String] = Array("damerau", "xxbucket", "bucket",
    "days", "months", "hours", "years")

  def load(name: String): Option[UnboundFunction] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "damerau" => Some(DamerauUnbound)
      case "xxbucket" => Some(XxBucketUnbound)
      case "bucket" => Some(BucketUnbound)
      case n @ ("days" | "months" | "hours" | "years") =>
        Some(TimeTransformUnbound(n))
      case _ => None
    }

  /** `damerau(a STRING, b STRING) -> INT` — the native unrestricted
    * Damerau-Levenshtein edit distance (adjacent transposition = 1;
    * same variant as DuckDB's builtin), the same kernel as
    * [[graft.plans.DamerauLevenshtein]], now reachable from pure SQL
    * through the catalog.
    */
  object DamerauUnbound extends UnboundFunction {
    override def name(): String = "damerau"
    override def description(): String =
      "damerau(a STRING, b STRING) -> INT: unrestricted Damerau-Levenshtein distance"
    override def bind(inputType: StructType): BoundFunction = {
      // NullType = a literal NULL argument: accept, the result is NULL
      if (inputType.fields.length != 2 ||
        !inputType.fields.forall(f =>
          f.dataType == StringType || f.dataType == NullType))
        throw new UnsupportedOperationException(
          s"damerau expects (STRING, STRING), got $inputType")
      DamerauBound
    }
  }

  object DamerauBound extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(StringType, StringType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "damerau"
    override def isResultNullable: Boolean = true
    // MAGIC method — ref types so SQL NULLs flow through as nulls
    def invoke(a: UTF8String, b: UTF8String): Integer =
      if (a == null || b == null) null
      else Integer.valueOf(graft.plans.DamerauLevenshtein.distance(a, b))
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): Integer =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else Integer.valueOf(graft.plans.DamerauLevenshtein.distance(
        input.getUTF8String(0), input.getUTF8String(1)))
  }

  /** `xxbucket(key BIGINT, nb INT) -> INT` — the merge-table layout's
    * bucket function (`pmod(xxhash64(key), nb)`, seed 42 like Spark's
    * `xxhash64`), exposed so SQL users can reason about physical
    * placement (the Iceberg `system.bucket` shape). Single-BIGINT-key
    * form; composite keys hash their columns in sequence, which SQL
    * can compose by nesting.
    */
  object XxBucketUnbound extends UnboundFunction {
    override def name(): String = "xxbucket"
    override def description(): String =
      "xxbucket(key BIGINT, nb INT) -> INT: merge-table bucket of a BIGINT key"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 2 ||
        inputType.fields(0).dataType != LongType ||
        inputType.fields(1).dataType != IntegerType)
        throw new UnsupportedOperationException(
          s"xxbucket expects (BIGINT, INT), got $inputType")
      XxBucketBound
    }
  }

  // (scalar functions above; maintenance procedures live in
  // [[GraftProcedures]])

  object XxBucketBound extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(LongType, IntegerType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "xxbucket"
    override def isResultNullable: Boolean = false
    def invoke(key: Long, nb: Int): Int = {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(key, LongType, 42L)
      (((h % nb) + nb) % nb).toInt
    }
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): Integer =
      Integer.valueOf(invoke(input.getLong(0), input.getInt(1)))
  }

  /** `bucket(numBuckets INT, key BIGINT) -> INT` — the same layout
    * bucket as [[XxBucketBound]] in the STANDARD bucket-transform
    * argument order (Iceberg's `system.bucket` shape). This name is
    * load-bearing: Spark's storage-partitioned-join machinery resolves
    * a scan-reported `Expressions.bucket(nb, col)` clustering through
    * the table catalog's FunctionCatalog under exactly "bucket", so
    * this function is what lets two co-bucketed merge tables join with
    * zero shuffle.
    */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets INT, key...) -> INT: merge-table layout bucket " +
        "(xxhash64 over the key columns in declared order, mod numBuckets)"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length < 2 ||
        inputType.fields(0).dataType != IntegerType ||
        !inputType.fields.tail.forall(f =>
          GraftFunctions.bucketableType(f.dataType)))
        throw new UnsupportedOperationException(
          s"bucket expects (INT numBuckets, key columns...), got $inputType")
      if (inputType.fields.length == 2 &&
        inputType.fields(1).dataType == LongType) BucketBound
      else BucketTupleBound(inputType.fields.tail.map(_.dataType).toSeq)
    }
  }

  /** The key-column types xxhash64 (and therefore the layout bucket)
    * accepts through the V2 function surface — every type the writer's
    * `xxhash64(k1, k2, …)` hashes from its InternalRow representation.
    */
  def bucketableType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
        DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  object BucketBound extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    def invoke(nb: Int, key: Long): Int = XxBucketBound.invoke(key, nb)
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): Integer =
      Integer.valueOf(invoke(input.getInt(0), input.getLong(1)))
  }

  /** Composite / non-BIGINT key form of [[BucketBound]]: hashes the
    * key columns IN SEQUENCE exactly as the writer's catalyst
    * `xxhash64(k1, k2, …)` does (each column's hash seeds the next,
    * seed 42), so a scan-reported multi-column
    * `Expressions.bucket(nb, k1, k2)` resolves to the true physical
    * placement. Same canonicalName as the single-column form — it IS
    * the same layout function, so two co-bucketed sides compare equal
    * in Spark's SPJ compatibility check.
    */
  case class BucketTupleBound(dts: Seq[DataType])
      extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] =
      (IntegerType +: dts).toArray
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
      val nb = input.getInt(0)
      var h = 42L
      var i = 0
      while (i < dts.length) {
        h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(input.get(i + 1, dts(i)), dts(i), h)
        i += 1
      }
      Integer.valueOf((((h % nb) + nb) % nb).toInt)
    }
  }

  /** Time partition-transform functions (`days`/`months`/`hours`/
    * `years`), resolved by Spark's SPJ machinery when a scan reports a
    * partitioned layout's clustering as `[days(ts), bucket(nb, key…)]`.
    * Each computes EXACTLY the writer's partition index
    * ([[graft.streaming.MergeSink.partIdxExprOn]]): days/months/years
    * resolve instants through the session time zone (as the writer's
    * datediff/year/month do), hours are zone-independent instant
    * arithmetic. Result type is INT (the manifest partition index),
    * and the scan's reported partition key values carry the same ints.
    */
  case class TimeTransformUnbound(fname: String) extends UnboundFunction {
    override def name(): String = fname
    override def description(): String =
      s"$fname(ts) -> INT: merge-table partition index of the value"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 1 ||
        !Set[DataType](DateType, TimestampType, TimestampNTZType)
          .contains(inputType.fields(0).dataType))
        throw new UnsupportedOperationException(
          s"$fname expects one DATE/TIMESTAMP column, got $inputType")
      TimeTransformBound(fname, inputType.fields(0).dataType)
    }
  }

  case class TimeTransformBound(fname: String, dt: DataType)
      extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(dt)
    override def resultType(): DataType = IntegerType
    override def name(): String = fname
    override def canonicalName(): String = s"graft.$fname"
    override def isResultNullable: Boolean = true
    private def localDate(raw: Long): java.time.LocalDate = dt match {
      case DateType => java.time.LocalDate.ofEpochDay(raw)
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(raw).toLocalDate
      case _ => // TimestampType: instant through the session zone
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(raw, 1000000L),
          Math.floorMod(raw, 1000000L) * 1000L)
          .atZone(java.time.ZoneId.of(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          .toLocalDate
    }
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
      if (input.isNullAt(0)) return null
      val raw = dt match {
        case DateType => input.getInt(0).toLong
        case _ => input.getLong(0)
      }
      fname match {
        case "hours" =>
          // instant hours since epoch; dates/NTZ resolve to an instant
          // through the session zone (CAST-to-TIMESTAMP semantics),
          // matching the writer's partIdxExprOn("hour")
          lazy val zone = java.time.ZoneId.of(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
          val sec = dt match {
            case DateType =>
              java.time.LocalDate.ofEpochDay(raw)
                .atStartOfDay(zone).toEpochSecond
            case TimestampNTZType =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .microsToLocalDateTime(raw).atZone(zone).toEpochSecond
            case _ => Math.floorDiv(raw, 1000000L)
          }
          Integer.valueOf(Math.floorDiv(sec, 3600L).toInt)
        case "days" => Integer.valueOf(localDate(raw).toEpochDay.toInt)
        case "months" =>
          val d = localDate(raw)
          Integer.valueOf((d.getYear - 1970) * 12 + d.getMonthValue - 1)
        case "years" =>
          Integer.valueOf(localDate(raw).getYear - 1970)
      }
    }
  }
}

/** Maintenance procedures for merge tables, resolved through the
  * [[GraftCatalog]] ProcedureCatalog surface: `CALL cat.sys.compact
  * ('db.t', 4)`. Each procedure names its target table by catalog
  * identifier string ('ns.table'), resolves path/key/seq from the
  * table metadata, runs the corresponding [[graft.streaming.MergeSink]]
  * maintenance commit, and returns a one-row result relation (the
  * Iceberg-procedure reporting shape) via a LocalScan.
  */
object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{
    BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  import graft.streaming.MergeSink

  val names: Array[String] =
    Array("compact", "compact_incremental", "expire_tombstones",
      "set_bloom_index", "set_history_keep", "set_history_keep_ms",
      "analyze", "restore", "restore_ts", "vacuum", "zorder",
      "create_mv", "create_mv_join", "create_mv_star", "refresh_mv",
      "create_tag", "drop_tag", "wap_publish", "wap_abort",
      "add_check", "drop_check", "refresh_dependents",
      "drop_partitions", "evolve_partition", "create_ann", "refresh_ann",
      "ann_search", "create_branch", "fast_forward")

  def load(cat: GraftCatalog, name: String): Option[UnboundProcedure] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "compact" => Some(new CompactProc(cat))
      case "compact_incremental" => Some(new CompactIncrProc(cat))
      case "expire_tombstones" => Some(new ExpireProc(cat))
      case "set_bloom_index" => Some(new BloomProc(cat))
      case "set_history_keep" => Some(new HistoryKeepProc(cat))
      case "set_history_keep_ms" => Some(new HistoryKeepMsProc(cat))
      case "analyze" => Some(new AnalyzeProc(cat))
      case "restore" => Some(new RestoreProc(cat))
      case "restore_ts" => Some(new RestoreTsProc(cat))
      case "vacuum" => Some(new VacuumProc(cat))
      case "zorder" => Some(new ZOrderProc(cat))
      case "create_mv" => Some(new CreateMvProc(cat))
      case "create_mv_join" => Some(new CreateMvJoinProc(cat))
      case "create_mv_star" => Some(new CreateMvStarProc(cat))
      case "refresh_mv" => Some(new RefreshMvProc(cat))
      case "create_tag" => Some(new CreateTagProc(cat))
      case "drop_tag" => Some(new DropTagProc(cat))
      case "wap_publish" => Some(new WapPublishProc(cat))
      case "wap_abort" => Some(new WapAbortProc(cat))
      case "add_check" => Some(new AddCheckProc(cat))
      case "drop_check" => Some(new DropCheckProc(cat))
      case "refresh_dependents" => Some(new RefreshDependentsProc(cat))
      case "drop_partitions" => Some(new DropPartitionsProc(cat))
      case "evolve_partition" => Some(new EvolvePartitionProc(cat))
      case "create_ann" => Some(new CreateAnnProc(cat))
      case "refresh_ann" => Some(new RefreshAnnProc(cat))
      case "ann_search" => Some(new AnnSearchProc(cat))
      case "create_branch" => Some(new CreateBranchProc(cat))
      case "fast_forward" => Some(new FastForwardProc(cat))
      case _ => None
    }

  private case class ResultScan(schema: StructType, row: InternalRow)
      extends LocalScan {
    override def rows(): Array[InternalRow] = Array(row)
    override def readSchema(): StructType = schema
  }

  /** Common shape: UNBOUND == BOUND (parameters are fixed), one-row
    * result. Subclasses give the parameter list past `table` and the
    * body over the resolved (path, key, seq) options.
    */
  sealed abstract class MaintenanceProc(
      cat: GraftCatalog,
      procName: String,
      resultCol: String,
      extraParams: Seq[ProcedureParameter])
      extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // commits table versions
    override def parameters(): Array[ProcedureParameter] =
      (ProcedureParameter.in("table", StringType)
        .comment("catalog table identifier, e.g. 'db.events'")
        .build() +: extraParams).toArray

    protected def run(opts: Map[String, String], input: InternalRow): Int

    /** Procedures that COMMIT table versions are recompute-from-head
      * closures (compaction, expiry, refresh all re-read the head on
      * entry), so a lost claim race against a concurrent writer is
      * retried with the engine's capped backoff
      * ([[graft.streaming.MergeSink.withCommitRetry]]) instead of
      * surfacing a raw ConcurrentCommitException to the scheduler that
      * owns exactly these calls. WAP publication must NOT retry — an
      * overtaken stage stays overtaken — and sidecar-only procedures
      * never race.
      */
    protected def retriesCommits: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val parts = input.getUTF8String(0).toString.split("\\.")
      require(parts.nonEmpty && parts.forall(_.nonEmpty),
        s"$procName: bad table identifier '${input.getUTF8String(0)}'")
      val ident = Identifier.of(parts.dropRight(1), parts.last)
      val opts = cat.tableOptions(ident)
      oneRow(
        if (retriesCommits)
          graft.streaming.MergeSink.withCommitRetry()(run(opts, input))
        else run(opts, input))
    }

    /** The one-row `resultCol = n` report relation every procedure
      * returns.
      */
    protected final def oneRow(n: Int): java.util.Iterator[Scan] = {
      val out: Scan = ResultScan(
        StructType(Seq(StructField(resultCol, IntegerType, nullable = false))),
        new GenericInternalRow(Array[Any](n)))
      java.util.Collections.singletonList(out).iterator()
    }
  }

  /** `CALL cat.sys.compact('ns.t', target_buckets)` — the full-table
    * sorted rewrite ([[MergeSink.compact]]): rebuckets to the target
    * modulus, restoring O(100 MB-1 GB) bucket files as volume drifts.
    */
  final class CompactProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "compact", "buckets_written",
        Seq(ProcedureParameter.in("target_buckets", IntegerType).build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "full sorted rewrite of a merge table at a new bucket count"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.compact(
        SparkSession.active, opts("path"), opts("key"), input.getInt(1))
  }

  /** `CALL cat.sys.compact_incremental('ns.t', since_version)` — the
    * dirtied-buckets-only sorted rewrite
    * ([[MergeSink.compactIncremental]]); cost tracks dirtied bytes.
    */
  final class CompactIncrProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "compact_incremental",
        "buckets_rewritten",
        Seq(ProcedureParameter.in("since_version", LongType).build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "re-sort only buckets dirtied since the given table version"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.compactIncremental(
        SparkSession.active, opts("path"), opts("key"), input.getLong(1)).size
  }

  /** `CALL cat.sys.zorder('ns.t', target_buckets, 'c1,c2[,c3,c4]')` —
    * the OPTIMIZE ZORDER BY rewrite ([[MergeSink.compactZOrder]]):
    * bucket files sort by the Morton interleave of the 2–4 named
    * columns so footer min/max stats prune range predicates on ANY
    * clustered dimension.
    */
  final class ZOrderProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "zorder", "buckets_written",
        Seq(
          ProcedureParameter.in("target_buckets", IntegerType).build(),
          ProcedureParameter.in("cols", StringType).build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "full rewrite z-ordered by 2-4 clustering columns (N-D pruning)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.compactZOrder(
        SparkSession.active, opts("path"), opts("key"), input.getInt(1),
        input.getUTF8String(2).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** `CALL cat.sys.expire_tombstones('ns.t', horizon)` — retire
    * tombstones whose seq is at or below the horizon
    * ([[MergeSink.expireTombstones]]).
    */
  final class ExpireProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "expire_tombstones",
        "buckets_rewritten",
        Seq(ProcedureParameter.in("horizon", LongType).build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "retire tombstones with seq <= horizon (frees space; older " +
        "replays already fail loudly past retention)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.expireTombstones(
        SparkSession.active, opts("path"), opts("key"), opts("seq"),
        input.getLong(1))
  }

  /** `CALL cat.sys.drop_partitions('ns.t', 'lt', '2024-01-15')` —
    * retire whole partitions as a PURE METADATA commit
    * ([[MergeSink.dropPartitions]]): the new manifest omits every
    * bucket of the matching periods; zero data moved, the pre-drop
    * snapshot stays time-travelable for the retention window. THE
    * retention move on a day-partitioned 100 TB fact table.
    */
  final class DropPartitionsProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "drop_partitions", "entries_dropped",
        Seq(ProcedureParameter.in("op", StringType)
          .comment("lt | le | eq over the partition index").build(),
          ProcedureParameter.in("value", StringType)
            .comment("cutoff: '2024-01-15' (day), '2024-01' via day 1 " +
              "(month), or an integer (identity)").build())) {
    // NOT retriesCommits: MergeSink.dropPartitions wraps ITSELF in
    // withCommitRetry — nesting two capped-backoff loops would
    // multiply worst-case wall time under contention
    override def description(): String =
      "retire whole partitions as a metadata-only commit"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val raw = input.getUTF8String(2).toString
      val value: Any =
        if (raw.matches("-?\\d+")) raw.toLong
        else if (raw.matches("\\d{4}-\\d{2}")) raw + "-01"
        else raw
      MergeSink.dropPartitions(
        SparkSession.active, opts("path"),
        input.getUTF8String(1).toString, value)
    }
  }

  /** `CALL cat.sys.evolve_partition('ns.t', 'hours', 4)` —
    * PARTITION-SPEC EVOLUTION ([[MergeSink.evolvePartitionSpec]], the
    * Iceberg shape): the new transform (same column) applies to data
    * written from now on; existing partitions keep their generation's
    * layout and prune under it; upserts migrate touched old buckets
    * lazily; a full `CALL compact` migrates everything and re-earns
    * storage-partitioned joins. Returns the new generation's bucket-id
    * offset.
    */
  final class EvolvePartitionProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "evolve_partition", "gen_offset",
        Seq(ProcedureParameter.in("kind", StringType)
          .comment("hour | day | month | year | identity").build(),
          ProcedureParameter.in("buckets", IntegerType)
            .comment("hash buckets per new-generation partition").build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "evolve the partition transform: new data under the new layout, " +
        "old partitions read under theirs"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      // accept the DDL spellings (days/months/hours/years) too
      val kind = input.getUTF8String(1).toString
        .toLowerCase(java.util.Locale.ROOT).stripSuffix("s") match {
        case "identitie" | "identity" => "identity"
        case k => k
      }
      MergeSink.evolvePartitionSpec(
        SparkSession.active, opts("path"), kind, input.getInt(2))
    }
  }

  /** `CALL cat.sys.set_history_keep('ns.t', 5)` — per-table snapshot
    * retention depth ([[MergeSink.setHistoryKeep]]): how many committed
    * versions stay readable for time travel / CDC replay. Applies at
    * the next commit's GC.
    */
  final class HistoryKeepProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "set_history_keep", "keep",
        Seq(ProcedureParameter.in("keep", IntegerType).build())) {
    override def description(): String =
      "set how many committed versions stay readable (time travel depth)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val keep = input.getInt(1)
      MergeSink.setHistoryKeep(SparkSession.active, opts("path"), keep)
      keep
    }
  }

  /** `CALL cat.sys.set_history_keep_ms('ns.t', 86400000)` — the
    * TIME retention window ([[MergeSink.setHistoryKeepMs]]); 0 clears.
    */
  final class HistoryKeepMsProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "set_history_keep_ms", "keep_ms",
        Seq(ProcedureParameter.in("keep_ms", LongType).build())) {
    override def description(): String =
      "retain every version younger than this many milliseconds (0 clears)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val ms = input.getLong(1)
      MergeSink.setHistoryKeepMs(SparkSession.active, opts("path"), ms)
      (ms / 1000L).toInt
    }
  }

  /** `CALL cat.sys.analyze('ns.t')` — one-pass column statistics for
    * the cost model ([[MergeSink.analyze]]); stale after any commit.
    */
  final class AnalyzeProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "analyze", "columns_analyzed", Seq.empty) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "compute per-column NDV/nulls/min-max for the optimizer (one pass)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.analyze(SparkSession.active, opts("path"))
  }

  /** `CALL cat.sys.restore('ns.t', v)` — roll the table back to a
    * retained version as a PURE METADATA commit ([[MergeSink.restore]]).
    */
  final class RestoreProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "restore", "restored_as_version",
        Seq(ProcedureParameter.in("to_version", LongType).build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "roll back to a retained version (metadata-only; zero data copied)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.restore(
        SparkSession.active, opts("path"), input.getLong(1)).toInt
  }

  /** `CALL cat.sys.restore_ts('ns.t', '2026-08-15 06:00:00')` — roll
    * back to the snapshot as of a wall-clock instant (epoch millis,
    * SQL timestamp, or ISO instant — the TIMESTAMP AS OF forms),
    * resolved through the commit-marker clock, then the same
    * metadata-only [[MergeSink.restore]].
    */
  final class RestoreTsProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "restore_ts", "restored_as_version",
        Seq(ProcedureParameter.in("to_timestamp", StringType).build())) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "roll back to the snapshot as of a timestamp (metadata-only)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val raw = input.getUTF8String(1).toString
      val spark = SparkSession.active
      val ms = MergeTableUtil.parseTsMillis(raw)
      val v = MergeSink.versionAt(spark, opts("path"), ms).getOrElse(
        throw new IllegalArgumentException(
          s"restore_ts: no commit at or before '$raw'"))
      MergeSink.restore(spark, opts("path"), v).toInt
    }
  }

  /** `CALL cat.sys.vacuum('ns.t')` — standalone retention GC + torn
    * leftover sweep ([[MergeSink.vacuum]]) for quiesced tables.
    */
  final class VacuumProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "vacuum", "paths_removed", Seq.empty) {
    override protected def retriesCommits: Boolean = true
    override def description(): String =
      "run retention GC and sweep torn claims/tmp/staging leftovers"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.vacuum(SparkSession.active, opts("path"))
  }

  /** `CALL cat.sys.set_bloom_index('ns.t', 'col[:ndv],col2')` —
    * declare bloom-indexed columns ([[MergeSink.setBloomIndex]]);
    * future writes carry parquet blooms for them.
    */
  final class BloomProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "set_bloom_index", "indexed_cols",
        Seq(ProcedureParameter.in("cols", StringType).build())) {
    override def description(): String =
      "declare bloom-indexed columns (col[:ndv] comma-list) for future writes"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val cols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      MergeSink.setBloomIndex(SparkSession.active, opts("path"), cols)
      cols.size
    }
  }

  /** `CALL cat.sys.create_mv('db.mv', 'db.src', 'g1[,g2]',
    * 'total=sum:cents,n=count:*', 'algebraic'|'rescan')` — define a
    * MATERIALIZED VIEW over a catalog table and run its first
    * (full) refresh ([[MaterializedViews]]). The view is an ordinary
    * merge table keyed by the grouping columns; its definition
    * persists as `graft.mv.*` table properties.
    */
  final class CreateMvProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "create_mv", "groups_materialized",
        Seq(ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("group_cols", StringType).build(),
          ProcedureParameter.in("aggs", StringType).build(),
          ProcedureParameter.in("mode", StringType).build())) {
    override def description(): String =
      "create a materialized view (grouped aggregate) and fully refresh it"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      // the view table does not exist yet — no tableOptions resolution
      oneRow(MaterializedViews.create(
        SparkSession.active, cat,
        mvIdent = input.getUTF8String(0).toString,
        srcIdent = input.getUTF8String(1).toString,
        groupCols = input.getUTF8String(2).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        aggs = MaterializedViews.parseAggs(input.getUTF8String(3).toString),
        mode = input.getUTF8String(4).toString).toInt)
  }

  /** `CALL cat.sys.create_mv_join('db.mv', 'db.fact', 'db.dim',
    * 'fk=pk', 'g1[,g2]', 'total=sum:cents,m=avg:cents', 'algebraic')`
    * — a MATERIALIZED VIEW over fact ⋈ dim: the one-dim case of
    * [[MaterializedViews.create]], maintained by delta-join IVM
    * ([[MaterializedViews.refreshDir]] with one dim).
    */
  final class CreateMvJoinProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "create_mv_join", "groups_materialized",
        Seq(ProcedureParameter.in("fact", StringType).build(),
          ProcedureParameter.in("dim", StringType).build(),
          ProcedureParameter.in("on", StringType)
            .comment("fact_fk=dim_pk").build(),
          ProcedureParameter.in("group_cols", StringType).build(),
          ProcedureParameter.in("aggs", StringType).build(),
          ProcedureParameter.in("mode", StringType).build())) {
    override def description(): String =
      "create a materialized view over fact JOIN dim (delta-join IVM)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      oneRow(MaterializedViews.create(
        SparkSession.active, cat,
        mvIdent = input.getUTF8String(0).toString,
        srcIdent = input.getUTF8String(1).toString,
        groupCols = input.getUTF8String(4).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        aggs = MaterializedViews.parseAggs(input.getUTF8String(5).toString),
        mode = input.getUTF8String(6).toString,
        dims = MaterializedViews.parseDimsSpec(
          s"${input.getUTF8String(2)}:${input.getUTF8String(3)}")).toInt)
  }

  /** `CALL cat.sys.create_mv_star('db.mv', 'db.fact',
    * 'db.d1:fk1=pk1;db.d2:fk2=pk2', 'g1[,g2]', 'total=sum:cents',
    * 'algebraic')` — a MATERIALIZED VIEW over one fact ⋈ N dims
    * ([[MaterializedViews.create]]), maintained by per-source
    * delta-join IVM ([[MaterializedViews.refreshDir]]).
    */
  final class CreateMvStarProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "create_mv_star", "groups_materialized",
        Seq(ProcedureParameter.in("fact", StringType).build(),
          ProcedureParameter.in("dims", StringType)
            .comment("db.dim:fact_fk=dim_pk;db.dim2:fk2=pk2").build(),
          ProcedureParameter.in("group_cols", StringType).build(),
          ProcedureParameter.in("aggs", StringType).build(),
          ProcedureParameter.in("mode", StringType).build())) {
    override def description(): String =
      "create a materialized view over fact JOIN n dims (delta-join IVM)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dims = MaterializedViews.parseDimsSpec(input.getUTF8String(2).toString)
      require(dims.nonEmpty, "create_mv_star: at least one dimension")
      oneRow(MaterializedViews.create(
        SparkSession.active, cat,
        mvIdent = input.getUTF8String(0).toString,
        srcIdent = input.getUTF8String(1).toString,
        groupCols = input.getUTF8String(3).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        aggs = MaterializedViews.parseAggs(input.getUTF8String(4).toString),
        mode = input.getUTF8String(5).toString,
        dims = dims).toInt)
    }
  }

  /** `CALL cat.sys.refresh_mv('db.mv')` — advance the view to every
    * source's head ([[MaterializedViews.refreshDir]]): algebraic delta
    * fold or touched-group rescan, O(changed groups) either way; full
    * rebuild only when an applied source version fell out of retention. Returns the number
    * of view rows written (0 = already current).
    */
  final class RefreshMvProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "refresh_mv", "groups_updated",
        Seq.empty) {
    override def description(): String =
      "incrementally refresh a materialized view to its source's head"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      // resolves BOTH the view's and the source's options itself;
      // refresh recomputes from the heads on entry → retriable
      oneRow(graft.streaming.MergeSink.withCommitRetry()(
        MaterializedViews.refresh(
          SparkSession.active, cat, input.getUTF8String(0).toString).toInt))
  }

  /** `CALL cat.sys.create_tag('ns.t', 'name', version)` — pin a human
    * name to a retained version; `VERSION AS OF 'name'` resolves
    * through it ([[MergeSink.createTag]]).
    */
  final class CreateTagProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "create_tag", "tagged_version",
        Seq(ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType).build())) {
    override def description(): String =
      "pin a named tag to a retained version (VERSION AS OF 'name')"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val v = input.getLong(2)
      MergeSink.createTag(
        SparkSession.active, opts("path"),
        input.getUTF8String(1).toString, v)
      v.toInt
    }
  }

  /** `CALL cat.sys.drop_tag('ns.t', 'name')`. */
  final class DropTagProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "drop_tag", "dropped",
        Seq(ProcedureParameter.in("name", StringType).build())) {
    override def description(): String = "drop a named tag"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      if (MergeSink.dropTag(SparkSession.active, opts("path"),
        input.getUTF8String(1).toString)) 1 else 0
  }

  /** `CALL cat.sys.wap_publish('ns.t', 'wap-id')` — atomically make a
    * staged write-audit-publish commit visible
    * ([[MergeSink.wapPublish]]); returns the published version.
    */
  final class WapPublishProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "wap_publish", "published_version",
        Seq(ProcedureParameter.in("wap_id", StringType).build())) {
    override def description(): String =
      "publish a staged WAP commit (one atomic commit point)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      MergeSink.wapPublish(SparkSession.active, opts("path"),
        input.getUTF8String(1).toString).toInt
  }

  /** `CALL cat.sys.wap_abort('ns.t', 'wap-id')` — roll a staged WAP
    * commit back; the table is byte-identical to before the stage.
    */
  final class WapAbortProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "wap_abort", "aborted",
        Seq(ProcedureParameter.in("wap_id", StringType).build())) {
    override def description(): String =
      "abort a staged WAP commit (nothing was ever visible)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      MergeSink.wapAbort(SparkSession.active, opts("path"),
        input.getUTF8String(1).toString)
      1
    }
  }

  /** `CALL cat.sys.add_check('ns.t', 'positive', 'cents >= 0')` —
    * declare a CHECK constraint ([[MergeSink.setCheckConstraint]]):
    * every future admitted batch (INSERT/DML/upsert/txn/WAP stage)
    * must satisfy it or the whole commit aborts untouched.
    */
  final class AddCheckProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "add_check", "constraints_declared",
        Seq(ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("expression", StringType).build())) {
    override def description(): String =
      "declare a CHECK constraint enforced on every future write"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val spark = SparkSession.active
      MergeSink.setCheckConstraint(spark, opts("path"),
        input.getUTF8String(1).toString, input.getUTF8String(2).toString)
      MergeSink.checkConstraints(spark, opts("path")).size
    }
  }

  /** `CALL cat.sys.refresh_dependents('ns.src')` — refresh every
    * materialized view that reads the named table as its source or as
    * a dim ([[MaterializedViews.refreshDependents]]); the post-commit
    * maintenance move. Returns the number of views refreshed (views
    * already at head count too — each refresh is independently
    * exactly-once and a no-op there).
    */
  final class RefreshDependentsProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "refresh_dependents", "views_refreshed",
        Seq.empty) {
    override def description(): String =
      "refresh every materialized view defined over this table"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      // each per-view refresh is independently exactly-once and
      // recomputes from the heads — the whole sweep is retriable
      oneRow(graft.streaming.MergeSink.withCommitRetry()(
        MaterializedViews.refreshDependents(
          SparkSession.active, cat, input.getUTF8String(0).toString).size))
  }

  /** `CALL cat.sys.create_branch('db.t_dev', 'db.t')` — a ZERO-COPY
    * writable branch of `db.t`'s head snapshot: a new catalog table
    * whose data is hard-linked (server-side-copied off file://) and
    * whose first version IS the branch point
    * ([[MergeSink.branchTable]]). The branch is an ordinary table —
    * every operation works on it — and publishes back via
    * `fast_forward`. Returns the base version.
    */
  final class CreateBranchProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "create_branch", "base_version",
        Seq(ProcedureParameter.in("source", StringType).build())) {
    override def description(): String =
      "create a zero-copy writable branch of a table's head snapshot"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // the branch table does not exist yet — no tableOptions resolution
      val spark = SparkSession.active
      val branchIdent = input.getUTF8String(0).toString
      val srcIdent = input.getUTF8String(1).toString
      val srcOpts = cat.tableOptions(MaterializedViews.identOf(srcIdent))
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(srcOpts("schema")).asInstanceOf[StructType]
      val P = org.apache.spark.sql.connector.catalog.TableCatalog.OPTION_PREFIX
      val props = new java.util.HashMap[String, String]()
      props.put("key", srcOpts("key"))
      srcOpts.get("seq").foreach(props.put("seq", _))
      props.put(P + "graft.branch.source", srcIdent)
      cat.createTable(MaterializedViews.identOf(branchIdent), schema,
        Array.empty[org.apache.spark.sql.connector.expressions.Transform],
        props)
      val dst = cat.tableOptions(
        MaterializedViews.identOf(branchIdent))("path")
      val (base, _) = MergeSink.branchTable(spark, srcOpts("path"), dst)
      oneRow(base.toInt)
    }
  }

  /** `CALL cat.sys.fast_forward('db.t', 'db.t_dev')` — publish the
    * branch's commits onto the table, iff the table has not advanced
    * past the branch point ([[MergeSink.fastForward]]). Returns the
    * number of versions published (0 = already up to date). A
    * divergence surfaces as ConcurrentCommitException — the branch
    * must rebase, so this deliberately does NOT auto-retry.
    */
  final class FastForwardProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "fast_forward", "versions_published",
        Seq(ProcedureParameter.in("branch", StringType).build())) {
    override def description(): String =
      "fast-forward publish a branch's commits onto its source table"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = {
      val bOpts = cat.tableOptions(MaterializedViews.identOf(
        input.getUTF8String(1).toString))
      MergeSink.fastForward(
        SparkSession.active, opts("path"), bOpts("path")).toInt
    }
  }

  /** `CALL cat.sys.create_ann('db.ix', 'db.vecs', 'vec_id',
    * 'embedding')` — train + freeze the coarse quantizer, create the
    * postings table, first full build ([[AnnCatalog.create]]).
    */
  final class CreateAnnProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "create_ann", "postings_written",
        Seq(ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("key_col", StringType).build(),
          ProcedureParameter.in("vec_col", StringType).build(),
          ProcedureParameter.in("mode", StringType)
            .defaultValue("'ivf'")
            .comment("ivf | ivfpq (adds a frozen PQ codebook sidecar; " +
              "searches ADC-shortlist before the exact re-rank)")
            .build())) {
    override def description(): String =
      "create a maintained ANN (IVF or IVF+PQ) index over a vector table"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      // the index table does not exist yet — no tableOptions resolution
      oneRow(AnnCatalog.create(
        SparkSession.active, cat,
        ixIdent = input.getUTF8String(0).toString,
        srcIdent = input.getUTF8String(1).toString,
        keyCol = input.getUTF8String(2).toString,
        vecCol = input.getUTF8String(3).toString,
        mode =
          if (input.isNullAt(4)) "ivf"
          else input.getUTF8String(4).toString).toInt)
  }

  /** `CALL cat.sys.refresh_ann('db.ix')` — advance the postings to the
    * source's head via the change feed: O(changed keys × centroids),
    * 0 = already current ([[AnnCatalog.refresh]]).
    */
  final class RefreshAnnProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "refresh_ann", "postings_written",
        Seq.empty) {
    override def description(): String =
      "incrementally refresh an ANN index to its source's head"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      // resolves its own options; recomputes from the heads → retriable
      oneRow(graft.streaming.MergeSink.withCommitRetry()(
        AnnCatalog.refresh(
          SparkSession.active, cat, input.getUTF8String(0).toString).toInt))
  }

  /** `CALL cat.sys.ann_search('db.ix', 'db.queries', k, probes)` —
    * cosine top-k per query-panel row via multi-probe IVF over the
    * SERVED postings; returns the (query_id, rank, neighbor_id, cos)
    * relation ([[AnnCatalog.search]]). The materialized result is the
    * ANSWER itself — k × panel rows, panel capped at
    * `spark.graft.annMaxQueryPanel` — never table-sized.
    */
  final class AnnSearchProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "ann_search", "unused",
        Seq(ProcedureParameter.in("queries", StringType).build(),
          ProcedureParameter.in("k", IntegerType).build(),
          ProcedureParameter.in("probes", IntegerType).build())) {
    override def description(): String =
      "cosine top-k over a maintained ANN index (multi-probe IVF)"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int = 0 // unused
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val df = AnnCatalog.search(
        SparkSession.active, cat,
        ixIdent = input.getUTF8String(0).toString,
        queriesIdent = input.getUTF8String(1).toString,
        k = input.getInt(2),
        probes = input.getInt(3))
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(df.schema)
      val out: Scan = RelationScan(
        df.schema,
        df.collect().map(r => conv(r).asInstanceOf[InternalRow]))
      java.util.Collections.singletonList(out).iterator()
    }
  }

  /** Multi-row procedure result: a bounded, already-computed relation
    * (the heavy lifting ran as distributed jobs inside the procedure;
    * only the response rows live here).
    */
  private case class RelationScan(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }

  /** `CALL cat.sys.drop_check('ns.t', 'name')`. */
  final class DropCheckProc(cat: GraftCatalog)
      extends MaintenanceProc(cat, "drop_check", "dropped",
        Seq(ProcedureParameter.in("name", StringType).build())) {
    override def description(): String = "drop a CHECK constraint"
    override protected def run(
        opts: Map[String, String], input: InternalRow): Int =
      if (MergeSink.dropCheckConstraint(SparkSession.active, opts("path"),
        input.getUTF8String(1).toString)) 1 else 0
  }
}

/** METADATA TABLES (`SELECT * FROM cat.db.t.history` /
  * `cat.db.t.files`) — the Iceberg inspection shape: a table's commit
  * history and current file inventory served as relations, answered
  * ENTIRELY from markers + manifests (metadata-scale: O(retained
  * versions) and O(buckets) driver-resident rows via LocalScan — never
  * a data-file read, which is exactly what makes them usable against a
  * 100 TB table).
  */
object MergeMetadataTable {
  import org.apache.spark.sql.types._

  val kinds: Set[String] =
    Set("history", "files", "detail", "refs", "constraints")

  def schemaOf(kind: String): StructType = kind match {
    case "detail" =>
      StructType(Seq(
        StructField("location", StringType, nullable = false),
        StructField("version", LongType, nullable = true),
        StructField("buckets", IntegerType, nullable = true),
        StructField("total_bytes", LongType, nullable = true),
        StructField("total_rows", LongType, nullable = true),
        StructField("n_files", IntegerType, nullable = true),
        StructField("sorted_by", StringType, nullable = true),
        StructField("bloom_cols", StringType, nullable = true),
        StructField("history_keep", IntegerType, nullable = false),
        StructField("history_keep_ms", LongType, nullable = true),
        StructField("retained_versions", IntegerType, nullable = false),
        // materialized-view staleness (null on non-view tables):
        // source dir(s) and how many source versions are unapplied
        StructField("mv_sources", StringType, nullable = true),
        StructField("mv_lag_versions", LongType, nullable = true),
        // ANN-index staleness (null on non-index tables): the source
        // table and how many of its versions the postings have not
        // applied — a stale index is observable, never silent
        StructField("ann_source", StringType, nullable = true),
        StructField("ann_lag_versions", LongType, nullable = true)))
    case "history" =>
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("run_id", StringType, nullable = false),
        StructField("epoch", LongType, nullable = false),
        StructField("buckets", IntegerType, nullable = false),
        StructField("bytes", LongType, nullable = true),
        StructField("rows", LongType, nullable = true)))
    case "files" =>
      StructType(Seq(
        StructField("bucket", IntegerType, nullable = false),
        StructField("content_version", LongType, nullable = false),
        StructField("n_files", IntegerType, nullable = true),
        StructField("bytes", LongType, nullable = true),
        StructField("rows", LongType, nullable = true),
        StructField("has_tombstones", BooleanType, nullable = true),
        StructField("files", ArrayType(StringType), nullable = true)))
    case "refs" =>
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("retained", BooleanType, nullable = false)))
    case "constraints" =>
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("expression", StringType, nullable = false)))
  }
}

class MergeMetadataTable(kind: String, path: String)
    extends Table
    with SupportsRead {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.unsafe.types.UTF8String

  import graft.streaming.MergeSink

  override def name(): String = s"$path#$kind"
  override def schema(): StructType = MergeMetadataTable.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType =
          MergeMetadataTable.schemaOf(kind)
        override def rows(): Array[InternalRow] = computeRows()
      }
    }

  private def computeRows(): Array[InternalRow] = {
    val spark = SparkSession.active
    kind match {
      case "detail" =>
        // DESCRIBE DETAIL: one row of table-level operational facts,
        // answered from markers + the head manifest + the three tiny
        // knob files — O(1) metadata against any table size
        val commits = MergeSink.commits(spark, path)
        val head = commits.lastOption
        val m = head.map(c => MergeSink.manifest(spark, path, c.version))
          .getOrElse(Map.empty[Int, Long])
        val bytes = head.map(c => MergeSink.manifestBytes(spark, path, c.version))
          .getOrElse(Map.empty[Int, Long])
        val rows = head.map(c => MergeSink.manifestRows(spark, path, c.version))
          .getOrElse(Map.empty[Int, Long])
        val files = head.map(c => MergeSink.manifestFiles(spark, path, c.version))
          .getOrElse(Map.empty[Int, Seq[String]])
        val sorted = head.flatMap(c =>
          MergeSink.manifestSortedBy(spark, path, c.version))
        val blooms = MergeSink.bloomIndexCols(spark, path)
        val mvLag = MaterializedViews.viewLag(spark, path)
        val annLag = AnnCatalog.indexLag(spark, path)
        Array(new GenericInternalRow(Array[Any](
          UTF8String.fromString(path),
          head.map(_.version).orNull,
          head.map(c => MergeSink.bucketCount(spark, path, c.version)).orNull,
          if (bytes.isEmpty && m.nonEmpty) null else bytes.values.sum,
          if (rows.isEmpty && m.nonEmpty) null else rows.values.sum,
          if (files.isEmpty && m.nonEmpty) null
          else files.values.map(_.size).sum,
          sorted.map(ks => UTF8String.fromString(ks.mkString(","))).orNull,
          if (blooms.isEmpty) null
          else UTF8String.fromString(blooms.map {
            case (c, Some(ndv)) => s"$c:$ndv"
            case (c, None) => c
          }.mkString(",")),
          MergeSink.historyKeep(spark, path),
          MergeSink.historyKeepMs(spark, path).orNull,
          commits.size,
          mvLag.map(l => UTF8String.fromString(l._1)).orNull,
          mvLag.map(_._2).orNull,
          annLag.map(l => UTF8String.fromString(l._1)).orNull,
          annLag.map(_._2).orNull
        )): InternalRow)
      case "history" =>
        val times = MergeSink.commitTimes(spark, path)
        MergeSink.commits(spark, path).map { c =>
          val m = MergeSink.manifest(spark, path, c.version)
          val bytes = MergeSink.manifestBytes(spark, path, c.version)
          val rows = MergeSink.manifestRows(spark, path, c.version)
          new GenericInternalRow(Array[Any](
            c.version,
            times.getOrElse(c.version, 0L) * 1000L, // micros
            UTF8String.fromString(c.runId),
            c.epoch,
            m.size,
            if (bytes.isEmpty && m.nonEmpty) null else bytes.values.sum,
            if (rows.isEmpty && m.nonEmpty) null else rows.values.sum
          )): InternalRow
        }.toArray
      case "files" =>
        MergeSink.lastCommit(spark, path) match {
          case None => Array.empty[InternalRow]
          case Some(c) =>
            val m = MergeSink.manifest(spark, path, c.version)
            val bytes = MergeSink.manifestBytes(spark, path, c.version)
            val rows = MergeSink.manifestRows(spark, path, c.version)
            val flags = MergeSink.manifestDeletedFlags(spark, path, c.version)
            val files = MergeSink.manifestFiles(spark, path, c.version)
            m.toSeq.sortBy(_._1).map { case (b, v) =>
              val fns = files.get(b)
              new GenericInternalRow(Array[Any](
                b,
                v,
                fns.map(_.size).orNull,
                bytes.get(b).orNull,
                rows.get(b).orNull,
                flags.get(b).map(_ != 0L).orNull,
                fns.map(ns =>
                  new GenericArrayData(
                    ns.map(UTF8String.fromString).toArray[Any])).orNull
              )): InternalRow
            }.toArray
        }
      case "refs" =>
        val retained = MergeSink.commits(spark, path).map(_.version).toSet
        MergeSink.tags(spark, path).toSeq.sorted.map { case (n, v) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), v, retained.contains(v)
          )): InternalRow
        }.toArray
      case "constraints" =>
        MergeSink.checkConstraints(spark, path).map { case (n, e) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), UTF8String.fromString(e)
          )): InternalRow
        }.toArray
    }
  }
}
