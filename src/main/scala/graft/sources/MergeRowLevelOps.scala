package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.MergeSink

/** ROW-LEVEL SQL DML for the merge table — `MERGE INTO`, `UPDATE`, and
  * arbitrary-predicate `DELETE` — via the DSv2 delta protocol
  * (`SupportsRowLevelOperations` + `SupportsDelta`):
  *
  * {{{
  *   MERGE INTO cat.db.t USING updates s ON t.k = s.k
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  *   UPDATE cat.db.t SET v = v * 2 WHERE k % 7 = 0
  *   DELETE FROM cat.db.t WHERE v IN (SELECT ...)   -- non-translatable
  * }}}
  *
  * The DELTA write path is this table's NATIVE shape: Spark rewrites
  * the command into per-row INSERT / UPDATE / DELETE operations, and
  * every one of them is just a merge-batch row —
  *   - insert  -> the row, as given;
  *   - update  -> the new row at `seq' = max(new.seq, old.seq + 1)`:
  *               the stored copy is still in its bucket, so the update
  *               must out-seq it to win the latest-by-seq race
  *               deterministically (a SET that already raised seq
  *               keeps its value — the MERGE consumes one sequence
  *               slot otherwise, the same discipline as SQL DELETE);
  *   - delete  -> a tombstone at `old.seq + 1` (the CDC delete shape,
  *               aged out later by retention).
  * The row id is (key, seq) — the key identifies the visible row, the
  * seq rides along so executors can out-seq without a lookup. Staged
  * rows funnel through the SAME two-phase writer as INSERT INTO
  * (per-task parquet staging, commit = one MergeSink transaction,
  * abort leaves the table bit-identical); a merge that matches nothing
  * stages nothing and commits nothing.
  *
  * Translatable-predicate DELETEs never reach this path: Spark's
  * metadata-delete optimization keeps routing them through
  * [[GraftMergeTable.deleteWhere]] (cheaper — no join).
  */
class GraftMergeRowLevelOperation(
    dir: String,
    key: String,
    seq: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation
    with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftMergeRowLevelOperation $cmd dir=$dir key=$key seq=$seq"

  /** Target rows = the current visible snapshot, through the table's
    * own pruned/columnar scan (a key-equality ON clause benefits from
    * bucket pruning exactly like a point read).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMergeScanBuilder(
      SparkSession.active, dir, Some(key), cdc = false,
      versionAsOf = None, tableSchema)

  override def rowId(): Array[NamedReference] =
    (MergeSink.keyCols(key).map(Expressions.column) :+
      Expressions.column(seq)).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftMergeDeltaWrite(dir, key, seq, tableSchema, info.queryId)
    }
}

class GraftMergeDeltaWrite(
    dir: String,
    key: String,
    seq: String,
    tableSchema: StructType,
    queryId: String)
    extends DeltaWrite {

  override def description(): String =
    s"GraftMergeDeltaWrite dir=$dir key=$key seq=$seq"

  override def toBatch(): DeltaBatchWrite = new DeltaBatchWrite {
    // staged rows carry the tombstone column alongside the data
    private val stagedSchema =
      StructType(tableSchema.fields.toSeq :+
        StructField(MergeSink.DeletedCol, BooleanType))

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory =
      MergeDeltaWriterFactory(
        new SerializableConfiguration(
          SparkSession.active.sessionState.newHadoopConf()),
        MergeWriteUtil.stagingDir(dir, queryId),
        tableSchema, key, seq)

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      // an all-arms-empty MERGE (nothing matched, nothing inserted)
      // stages no files and must not mint an empty table version
      if (messages.exists {
          case StagedFileMessage(_) => true
          case _ => false
        })
        MergeWriteUtil.commitStaged(
          dir, key, seq, stagedSchema, queryId, epochId = 0L,
          runId = s"dsv2m-$queryId", messages = messages,
          retryOnConflict = true)
      else MergeWriteUtil.abortStaged(dir, queryId)

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      MergeWriteUtil.abortStaged(dir, queryId)
  }
}

/** Serializable factory (standalone case class — an anonymous one
  * would capture the non-serializable write).
  */
case class MergeDeltaWriterFactory(
    conf: SerializableConfiguration,
    staging: String,
    tableSchema: StructType,
    key: String,
    seq: String)
    extends DeltaWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new MergeDeltaWriter(
      conf.value, staging, tableSchema, key, seq, partitionId, taskId)
}

/** Executor-side delta writer: every operation becomes one staged
  * merge-batch row through the shared [[MergeStagingWriter]].
  */
class MergeDeltaWriter(
    conf: org.apache.hadoop.conf.Configuration,
    staging: String,
    tableSchema: StructType,
    key: String,
    seq: String,
    partitionId: Int,
    taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val stagedSchema =
    StructType(tableSchema.fields.toSeq :+
      StructField(MergeSink.DeletedCol, BooleanType))
  private val inner = new MergeStagingWriter(
    conf, staging, stagedSchema, partitionId, taskId)

  private val n = tableSchema.length
  // row id layout is the declared rowId() order: (k1, …, km, seq)
  private val keyIdxs = MergeSink.keyCols(key)
    .map(tableSchema.fieldIndex).toArray
  private val keyTypes = keyIdxs.map(tableSchema(_).dataType)
  private val m = keyIdxs.length
  private val seqIdx = tableSchema.fieldIndex(seq)
  private val seqType = tableSchema(seqIdx).dataType

  private def seqPlusOne(idSeq: Any): Any = (seqType, idSeq) match {
    case (LongType, v: java.lang.Long) => v + 1L
    case (IntegerType, v: java.lang.Integer) => v + 1
    case _ =>
      throw new IllegalArgumentException(
        s"graft-merge row-level DML needs an integer seq column; " +
          s"'$seq' is $seqType (value $idSeq)")
  }

  private def seqMax(a: Any, b: Any): Any = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => math.max(x, y): java.lang.Long
    case (x: java.lang.Integer, y: java.lang.Integer) =>
      math.max(x, y): java.lang.Integer
    case _ => b
  }

  private def staged(
      dataOf: Int => Any,
      seqValue: Any,
      deleted: Boolean): InternalRow = {
    val out = new Array[Any](n + 1)
    var i = 0
    while (i < n) { out(i) = dataOf(i); i += 1 }
    out(seqIdx) = seqValue
    out(n) = deleted
    new GenericInternalRow(out)
  }

  override def insert(row: InternalRow): Unit =
    inner.write(staged(
      i => row.get(i, tableSchema(i).dataType),
      row.get(seqIdx, seqType),
      deleted = false))

  /** The id row's key values (positions 0..m-1) routed back to their
    * table-schema slots; non-key data columns are null (tombstones).
    */
  private def oldKeyData(id: InternalRow): Int => Any = { i =>
    val k = keyIdxs.indexOf(i)
    if (k >= 0) id.get(k, keyTypes(k)) else null
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    val bumped = seqPlusOne(id.get(m, seqType))
    val newSeq = row.get(seqIdx, seqType)
    // A SET that reassigns any merge-key column moves the row to a new
    // identity: the stored copy under the OLD key is still visible in
    // its bucket and must be tombstoned, or both rows survive.
    val keyMoved = (0 until m).exists { k =>
      !java.util.Objects.equals(
        id.get(k, keyTypes(k)), row.get(keyIdxs(k), keyTypes(k)))
    }
    if (keyMoved)
      inner.write(staged(oldKeyData(id), bumped, deleted = true))
    inner.write(staged(
      i => row.get(i, tableSchema(i).dataType),
      if (newSeq == null) bumped else seqMax(bumped, newSeq),
      deleted = false))
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    inner.write(staged(
      oldKeyData(id), // tombstone: data columns are irrelevant once dead
      seqPlusOne(id.get(m, seqType)),
      deleted = true))

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
