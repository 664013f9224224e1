package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.MergeSink

/** WRITE side of the `graft-merge` DataSourceV2 connector: MERGE-upsert
  * semantics through the standard writer APIs —
  *
  * {{{
  *   df.write.format("graft-merge").mode("append")
  *     .option("path", dir).option("key", "k").option("seq", "v").save()
  *   df.writeStream.format("graft-merge")
  *     .option("path", dir).option("key", "k").option("seq", "v")
  *     .option("checkpointLocation", ck).start()
  * }}}
  *
  * Protocol (the two-phase shape every transactional connector uses):
  * executor tasks stream rows into per-task parquet files under an
  * uncommitted staging directory (`_staging_<queryId>/`) — no driver
  * row movement, no memory accumulation; the driver's `commit()` then
  * runs the staged data through [[MergeSink.upsertBatch]], which owns
  * the real transaction (latest-wins merge into touched buckets,
  * manifest, O(1) visibility marker — the dual of the reference's
  * log-before-page discipline,
  * /root/reference/src/opusdb/memory/buffer.clj:44-54), and
  * removes the staging dir. `abort()` (driver or task) deletes staged
  * files: an aborted write leaves the table bit-identical. A replayed
  * streaming epoch either skips on its (runId, epoch) marker or
  * re-merges the identical batch — latest-wins is idempotent under
  * replay either way.
  *
  * "append" merges rows by key (the table's semantics); INSERT
  * OVERWRITE (SupportsTruncate) replaces the table state as a new
  * version; "ignore" would silently mean something else and is not
  * accepted.
  */
class GraftMergeWriteBuilder(
    dir: String,
    key: String,
    seq: String,
    info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  MergeSink.keyCols(key).foreach(k =>
    require(
      info.schema.fieldNames.contains(k),
      s"graft-merge write: key column '$k' missing from ${info.schema.fieldNames.mkString(",")}"))
  require(
    info.schema.fieldNames.contains(seq),
    s"graft-merge write: seq column '$seq' missing from ${info.schema.fieldNames.mkString(",")}")

  /** `INSERT OVERWRITE` (SupportsTruncate): the committed batch
    * REPLACES the table state — [[graft.streaming.MergeSink
    * .overwriteBatch]] instead of the merge-upsert, same two-phase
    * staging. Conditional REPLACE WHERE is deliberately NOT offered
    * (no SupportsOverwrite): partial overwrites of a latest-wins merge
    * table are expressed as row-level DML, which already exists.
    */
  private var overwriteAll = false
  private var redefineSchema = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  /** REPLACE TABLE AS SELECT semantics (reached only through the
    * catalog's staged replace, never plain SQL INSERT): overwrite AND
    * record only the new batch's schema in the manifest — a replace
    * REDEFINES the table, unlike a truncate, which keeps its shape.
    */
  def replaceTableSemantics(): this.type = {
    overwriteAll = true; redefineSchema = true; this
  }

  override def build(): Write = new Write {
    override def description(): String =
      s"GraftMergeWrite dir=$dir key=$key seq=$seq overwrite=$overwriteAll"
    override def toBatch: BatchWrite =
      new GraftMergeBatchWrite(
        dir, key, seq, info.schema, info.queryId, overwriteAll,
        keepSchema = !redefineSchema)
    override def toStreaming: StreamingWrite = {
      require(!overwriteAll,
        "graft-merge: streaming truncate/complete-mode overwrite is not " +
          "supported — stream in update mode (merge-upsert semantics)")
      new GraftMergeStreamingWrite(dir, key, seq, info.schema, info.queryId)
    }
  }
}

private[graft] object MergeWriteUtil {

  def stagingDir(dir: String, queryId: String): String =
    s"$dir/_staging_$queryId"

  /** Parquet schema for the staged files: optional primitives plus
    * lists of primitives (vector columns — the read side's columnar
    * copy path decodes exactly this set), the exact inverse of the
    * read side's mapping.
    */
  def parquetSchema(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case ArrayType(et, _) =>
          val e = et match {
            case FloatType => PrimitiveTypeName.FLOAT
            case DoubleType => PrimitiveTypeName.DOUBLE
            case LongType => PrimitiveTypeName.INT64
            case IntegerType => PrimitiveTypeName.INT32
            case other => throw new IllegalArgumentException(
              s"graft-merge write: unsupported array element type $other " +
                s"for ${f.name} (primitive elements only)")
          }
          b.optionalList().optionalElement(e).named(f.name)
        case _ => flatField(b, f).named(f.name)
      }
    }
    b.named("graft_merge_staging")
  }

  private def flatField(
      b: Types.MessageTypeBuilder,
      f: StructField) = {
    f.dataType match {
        case LongType => b.optional(PrimitiveTypeName.INT64)
        case IntegerType => b.optional(PrimitiveTypeName.INT32)
        case DateType =>
          b.optional(PrimitiveTypeName.INT32)
            .as(LogicalTypeAnnotation.dateType())
        case DoubleType => b.optional(PrimitiveTypeName.DOUBLE)
        case FloatType => b.optional(PrimitiveTypeName.FLOAT)
        case BooleanType => b.optional(PrimitiveTypeName.BOOLEAN)
        case StringType =>
          b.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType())
        case TimestampType =>
          b.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
        case TimestampNTZType =>
          b.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS))
        case other =>
          throw new IllegalArgumentException(
            s"graft-merge write: unsupported type $other for ${f.name} " +
              "(primitives and arrays of primitives only)")
    }
  }

  /** Driver-side commit: merge EXACTLY the files the committed tasks
    * reported — never a directory listing, which would also sweep up
    * orphan partials from a task attempt that crashed before its
    * abort() ran (speculation / executor loss would double that
    * partition's rows, or read a torn file). The staging dir is then
    * dropped whole, which is what clears those orphans. Files are read
    * with the WRITER's schema (not inference — an all-null column must
    * keep its declared type).
    */
  def commitStaged(
      dir: String,
      key: String,
      seq: String,
      schema: StructType,
      queryId: String,
      epochId: Long,
      runId: String,
      messages: Array[WriterCommitMessage],
      overwriteAll: Boolean = false,
      keepSchema: Boolean = true,
      retryOnConflict: Boolean = false): Unit = {
    val spark = SparkSession.active
    val staging = stagingDir(dir, queryId)
    val p = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = messages.toSeq.collect { case StagedFileMessage(f) => f }
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(files: _*)
    // Batch statements (SQL INSERT / MERGE / UPDATE / DELETE) retry a
    // lost commit race automatically: the MERGE recomputes against the
    // winner's head (a lost claim touches nothing, so the staged task
    // files are intact). The staged rows themselves are not re-derived
    // — which is exactly this table's isolation rule: every row races
    // by (key, seq) latest-wins, so a delta staged against the old
    // snapshot loses to any winner row with a higher seq, same as it
    // would have losing the race in the opposite commit order.
    // Streaming epochs do NOT retry here: their table is single-writer
    // by contract and a claim conflict means a zombie incarnation,
    // which must fail loudly.
    // WRITE-AUDIT-PUBLISH through SQL: while spark.graft.wapId is set,
    // batch INSERT/MERGE/UPDATE/DELETE statements STAGE invisibly under
    // that id (MergeSink.wapStage) instead of committing — audit the
    // staged snapshot, then CALL cat.sys.wap_publish / wap_abort.
    // Streaming epochs never consult it (exactly-once sinks own their
    // visibility).
    val wapId =
      if (retryOnConflict)
        spark.conf.getOption("spark.graft.wapId").filter(_.nonEmpty)
      else None
    def attempt(): Unit = wapId match {
      case Some(id) =>
        if (overwriteAll) throw new UnsupportedOperationException(
          "graft-merge: INSERT OVERWRITE/REPLACE cannot stage under a " +
            "wap id (unset spark.graft.wapId)")
        MergeSink.wapStage(batch, dir, key, seq, id)
      case None =>
        if (overwriteAll)
          MergeSink.overwriteBatch(
            batch, dir, key, seq, epochId, runId, keepSchema = keepSchema,
            reRegister = retryOnConflict)
        else
          MergeSink.upsertBatch(
            batch, dir, key, seq, epochId, runId,
            reRegister = retryOnConflict)
    }
    if (retryOnConflict) {
      val attempts = spark.conf
        .getOption("spark.graft.commitRetryAttempts").map(_.toInt)
        .getOrElse(10)
      val backoff = spark.conf
        .getOption("spark.graft.commitRetryBackoffMs").map(_.toLong)
        .getOrElse(100L)
      MergeSink.withCommitRetry(attempts, backoff)(attempt())
    } else attempt()
    fs.delete(p, true)
    dropEmptyStagingParent(fs, p)
  }

  def abortStaged(dir: String, queryId: String): Unit = {
    val spark = SparkSession.active
    val p = new Path(stagingDir(dir, queryId))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    dropEmptyStagingParent(fs, p)
  }

  /** Streaming epochs stage under `_staging_<queryId>/e<epochId>`;
    * deleting only the epoch dir would leave an empty `_staging_*`
    * parent per query run accumulating under the table directory.
    * (Non-empty parents are left alone — a concurrent epoch may be
    * staging; its own commit/abort sweeps the parent when it is last.)
    */
  private def dropEmptyStagingParent(
      fs: org.apache.hadoop.fs.FileSystem,
      staged: Path): Unit = {
    val parent = staged.getParent
    if (parent != null && parent.getName.startsWith("_staging_") &&
      fs.exists(parent) && fs.listStatus(parent).isEmpty)
      fs.delete(parent, false)
  }
}

case class StagedFileMessage(file: String) extends WriterCommitMessage

/** A task that received no rows stages no file (and an all-empty
  * write — e.g. a MERGE whose arms all matched nothing — commits no
  * table version).
  */
case object NoStagedDataMessage extends WriterCommitMessage

class GraftMergeBatchWrite(
    dir: String,
    key: String,
    seq: String,
    schema: StructType,
    queryId: String,
    overwriteAll: Boolean = false,
    keepSchema: Boolean = true)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    MergeStagingWriterFactory(
      new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()),
      MergeWriteUtil.stagingDir(dir, queryId),
      schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    // one-shot batch: runId is the query id (globally unique), epoch 0 —
    // a retried commit of the same query skips on its marker
    MergeWriteUtil.commitStaged(
      dir, key, seq, schema, queryId, epochId = 0L,
      runId = s"dsv2b-$queryId", messages = messages,
      overwriteAll = overwriteAll, keepSchema = keepSchema,
      retryOnConflict = true)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MergeWriteUtil.abortStaged(dir, queryId)
}

class GraftMergeStreamingWrite(
    dir: String,
    key: String,
    seq: String,
    schema: StructType,
    queryId: String)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    MergeStagingWriterFactory(
      new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()),
      MergeWriteUtil.stagingDir(dir, queryId),
      schema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // Prefer the STABLE streaming query id (constant across restarts
    // from one checkpoint — the micro-batch thread carries it) so a
    // replayed epoch skips on its marker; fall back to the per-run id,
    // under which a replay re-merges the identical batch — latest-wins
    // makes that state-idempotent too.
    val spark = SparkSession.active
    val runId = Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(queryId)
    MergeWriteUtil.commitStaged(
      dir, key, seq, schema, s"$queryId/e$epochId", epochId,
      s"dsv2s-$runId", messages)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    MergeWriteUtil.abortStaged(dir, s"$queryId/e$epochId")
}

/** Serializable factory shipped to executors — a self-contained case
  * class (an anonymous factory would drag the non-serializable
  * BatchWrite/StreamingWrite instance into the closure). Streaming
  * epochs stage under `<staging>/e<epochId>`.
  */
case class MergeStagingWriterFactory(
    conf: SerializableConfiguration,
    staging: String,
    schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MergeStagingWriter(conf.value, staging, schema, partitionId, taskId)

  override def createWriter(
      partitionId: Int,
      taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new MergeStagingWriter(
      conf.value, s"$staging/e$epochId", schema, partitionId, taskId)
}

/** Executor-side staging writer: streams InternalRows into ONE parquet
  * file per task under the staging dir — opened LAZILY on the first
  * row, so an empty partition stages nothing. Rows go through Spark's
  * own `ParquetWriteSupport` (InternalRow straight to column writers —
  * no per-row record-object materialization; the former example-API
  * Group writer allocated and boxed every field). No buffering beyond
  * parquet's own row groups; abort deletes the file.
  */
class MergeStagingWriter(
    conf: Configuration,
    staging: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long)
    extends DataWriter[InternalRow] {

  private val file = new Path(s"$staging/part-$partitionId-$taskId.parquet")
  // fail-early type guard: the merge table stays primitives + arrays of
  // primitives (the read side's columnar copy decodes exactly this
  // set), even though Spark's write support could serialize more
  MergeWriteUtil.parquetSchema(schema)

  private var opened: ParquetWriter[InternalRow] = _

  private def writer: ParquetWriter[InternalRow] = {
    if (opened == null) {
      val c = new Configuration(conf)
      org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
        .setSchema(schema, c)
      // the write support reads these as required conf entries (Spark's
      // own write path sets them before handing the conf over)
      def dflt(k: String, v: String): Unit = if (c.get(k) == null) c.set(k, v)
      dflt("spark.sql.parquet.writeLegacyFormat", "false")
      dflt("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      dflt("spark.sql.parquet.fieldId.write.enabled", "true")
      dflt("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
      dflt("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      dflt("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      dflt("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
      opened = new MergeStagingWriter.Builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, c))
        .withConf(c)
        .build()
    }
    opened
  }

  override def write(row: InternalRow): Unit = writer.write(row)

  private var closed = false

  private def closeOnce(): Unit =
    if (!closed) { closed = true; if (opened != null) opened.close() }

  override def commit(): WriterCommitMessage = {
    closeOnce()
    if (opened == null) NoStagedDataMessage else StagedFileMessage(file.toString)
  }

  override def abort(): Unit = {
    closeOnce()
    if (opened != null) {
      val fs = file.getFileSystem(conf)
      fs.delete(file, false)
    }
  }

  // Spark always calls close() after commit/abort — and on exception
  // paths may call it after abort already closed; make it idempotent
  override def close(): Unit = closeOnce()
}

object MergeStagingWriter {
  /** parquet-mr builder bound to Spark's InternalRow write support. */
  private class Builder(file: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
  }
}
