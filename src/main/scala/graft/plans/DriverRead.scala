package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.sources.GraftMergeScan

/** Key-pinned reads of small `graft-merge` buckets, served on the
  * driver: the dual of opusdb's `deref` outside a transaction, a direct
  * read of the last committed value (stm.clj:160-178) — no Spark job
  * and no generated class per point read.
  *
  * Spark plans a DSv2 scan as `BatchScanExec` under whole-stage
  * codegen: the filter's literal is inlined into the generated source,
  * so every new key compiles its stage anew, and `collect` runs a job
  * to read one bucket file. This strategy plans
  * `Project(Filter(scan))` over a [[GraftMergeScan.driverReadable]]
  * scan as one leaf, [[DriverReadExec]], that reads the planned buckets
  * through the scan's own reader and applies Spark's bound filters and
  * projection in interpreted form.
  */
object DriverReadStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters,
        rel @ DataSourceV2ScanRelation(_, scan: GraftMergeScan, _, _, _))
        if (project ++ filters).forall(interpretable) && scan.driverReadable =>
      DriverReadExec(project.map(_.toAttribute), project, filters, rel.output,
        scan) :: Nil
    case _ => Nil
  }

  /** Deterministic and subquery-free (dynamic pruning included): the
    * node evaluates each expression once per row, on the driver, with
    * no subquery results to wait for.
    */
  private def interpretable(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])
}

/** See [[DriverReadStrategy]]. `executeCollect`/`executeTake` answer
  * without a job; `doExecute` parallelizes the same rows for a parent
  * operator. Reports the scan's custom metrics as `BatchScanExec` does.
  */
case class DriverReadExec(
    output: Seq[Attribute],
    project: Seq[NamedExpression],
    filters: Seq[Expression],
    scanOutput: Seq[Attribute],
    // driver-only, like BatchScanExec's: a parent's task closure may
    // capture this node, never read through it
    @transient scan: GraftMergeScan)
    extends LeafExecNode {

  override def producedAttributes: AttributeSet =
    outputSet ++ AttributeSet(scanOutput)

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows")) ++
      scan.supportedCustomMetrics().map(m =>
        m.name() -> SQLMetrics.createV2CustomMetric(sparkContext, m))

  override def simpleString(maxFields: Int): String =
    s"$nodeName${truncatedString(output, "[", ", ", "]", maxFields)} " +
      scan.description() +
      (if (filters.isEmpty) ""
       else s" filter=${filters.mkString("[", " AND ", "]")}")

  private def rows(): Array[InternalRow] = {
    val pred = filters.reduceOption(And).map(c =>
      InterpretedPredicate(BindReferences.bindReference(c, scanOutput)))
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(project, scanOutput))
    pred.foreach(_.initialize(0))
    proj.initialize(0)
    val out = ArrayBuffer.empty[InternalRow]
    scan.readOnDriver(r => if (pred.forall(_.eval(r))) out += proj(r).copy())
    val numOut = longMetric("numOutputRows")
    numOut.add(out.size.toLong)
    val driverMetrics = scan.reportDriverMetrics().toSeq.map { m =>
      val sm = metrics(m.name())
      sm.set(m.value())
      sm
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      driverMetrics :+ numOut)
    out.toArray
  }

  override def executeCollect(): Array[InternalRow] = rows()

  override def executeTake(limit: Int): Array[InternalRow] = rows().take(limit)

  override def executeTail(limit: Int): Array[InternalRow] =
    rows().takeRight(limit)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows().toSeq, 1)
}
