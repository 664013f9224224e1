package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{
  BinaryNode,
  LogicalPlan,
  Project
}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution,
  Distribution,
  Partitioning
}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}

/** Native AS-OF JOIN — a whole-operator Spark extension (SURVEY.md §7.4
  * case (c)): custom `LogicalPlan` node + `SparkStrategy` + `SparkPlan`,
  * registered via `SparkSessionExtensions` (or lazily through
  * `experimental.extraStrategies`).
  *
  * Semantics: for each left row, attach the LAST right row with the same
  * key and `rightTime <= leftTime` (inclusive), or nulls if none — the
  * exact "latest version at-or-before the read point" rule of the
  * reference's versioned deref
  * (/root/reference/src/opusdb/atomic/stm.clj:55-65), generalized from a
  * point lookup to a relational join. DuckDB's built-in ASOF LEFT JOIN
  * computes the identical result, which is what makes q_asof_native
  * oracle-checkable.
  *
  * Scale design: this is a MERGE join — both sides hash-cluster on the
  * key (one shuffle each) and sort per partition by (key, time); the
  * per-partition merge advances two pointers monotonically, so cost is
  * O(|L| + |R|) per partition with O(1) state (the last matching right
  * row). A pairwise theta-join formulation would materialize
  * |L| × |rows-per-key| intermediates; the window union-trick
  * (ops.Analytics.asofJoin) is the built-in-only fallback with the same
  * scan shape but an extra window pass.
  *
  * Key/time expressions may be ANY orderable type (long, string,
  * timestamp, decimal, struct, …) — the merge compares through
  * catalyst's natural ascending orderings, the same comparators the
  * required child sort uses, so merge order and sort order can never
  * disagree. Null keys/times sort first (per SortOrder default) and
  * compare equal to each other, matching the sort.
  */
case class AsOfJoinNode(
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    left: LogicalPlan,
    right: LogicalPlan,
    toleranceUs: Option[Long] = None,
    inner: Boolean = false,
    forward: Boolean = false,
    nearest: Boolean = false)
    extends BinaryNode {

  // inner keeps the right side's own nullability: every emitted row has
  // a real match, so the join adds no nulls of its own
  override def output: Seq[Attribute] =
    left.output ++
      (if (inner) right.output
       else right.output.map(_.withNullability(true)))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan,
      newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan,
    toleranceUs: Option[Long] = None,
    inner: Boolean = false,
    forward: Boolean = false,
    nearest: Boolean = false)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++
      (if (inner) right.output
       else right.output.map(_.withNullability(true)))

  // one shuffle per side, clustered on the join key → zipPartitions-safe
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  // per-partition (key, time) sort: the merge relies on monotone input
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val out = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // generic orderable key/time comparison: single-value rows compared
      // with catalyst's natural ascending ordering for the type (any
      // orderable type — long, string, timestamp, decimal, struct …)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val timeOrd =
        RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      def valueRow(e: Expression, row: InternalRow): InternalRow =
        InternalRow(e.eval(row))
      val rBuf = rIter.buffered
      val joiner = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val proj = UnsafeProjection.create(out, out)
      // O(1) merge state: the last right row consumed, its key and time
      var last: InternalRow = null
      var lastKey: InternalRow = null
      var lastTime: InternalRow = null
      // tolerance: matched right row must additionally satisfy
      // leftTime − rightTime <= toleranceUs (long-backed time types
      // only; AsOf.join validates). Null times never satisfy it.
      def withinTolerance(t: InternalRow): Boolean =
        toleranceUs match {
          case None => true
          case Some(tol) =>
            !t.isNullAt(0) && lastTime != null && !lastTime.isNullAt(0) &&
              t.getLong(0) - lastTime.getLong(0) <= tol
        }
      if (nearest) {
        // NEAREST merge (pandas merge_asof direction='nearest'): attach
        // the right row minimizing |rt − lt|; equal distances → the
        // BACKWARD row wins (pandas tie rule). Long-backed times only
        // (AsOf.join validates) — the distance compare is integer
        // arithmetic. One pass combining both scans: rows with rt < lt
        // are consumed, the LAST consumed (copied) is the backward
        // candidate; the forward candidate is PEEKED like the forward
        // merge. Tolerance bounds each side's distance. Null right
        // times sort first, get consumed, and are never valid
        // candidates; a null left time has no distance to anything →
        // no match. Still O(|L|+|R|) per partition, O(1) state.
        lIter.flatMap { lrow =>
          val k = valueRow(lkB, lrow)
          val t = valueRow(ltB, lrow)
          var continue = true
          while (continue && rBuf.hasNext) {
            val head = rBuf.head
            val hk = valueRow(rkB, head)
            val keyCmp = keyOrd.compare(hk, k)
            if (keyCmp < 0 ||
                (keyCmp == 0 &&
                  timeOrd.compare(valueRow(rtB, head), t) < 0)) {
              last = rBuf.next().copy() // same copy discipline as backward
              lastKey = valueRow(rkB, last)
              lastTime = valueRow(rtB, last)
            } else {
              continue = false
            }
          }
          var mrow: InternalRow = null
          if (!t.isNullAt(0)) {
            val lt0 = t.getLong(0)
            val backOk = last != null && keyOrd.compare(lastKey, k) == 0 &&
              !lastTime.isNullAt(0) &&
              toleranceUs.forall(tol => lt0 - lastTime.getLong(0) <= tol)
            // INVARIANT (shared with the forward merge): the peeked
            // head is projected within THIS iteration, before any
            // further rBuf.next()/head — it must never be retained
            // across iterations un-copied (the sort iterator reuses
            // its row buffer).
            var fwdRow: InternalRow = null
            var fwdT = 0L
            if (rBuf.hasNext) {
              val head = rBuf.head
              if (keyOrd.compare(valueRow(rkB, head), k) == 0) {
                val ht = valueRow(rtB, head)
                if (!ht.isNullAt(0) &&
                    toleranceUs.forall(tol => ht.getLong(0) - lt0 <= tol)) {
                  fwdRow = head
                  fwdT = ht.getLong(0)
                }
              }
            }
            if (backOk && (fwdRow == null ||
                lt0 - lastTime.getLong(0) <= fwdT - lt0)) mrow = last
            else if (fwdRow != null) mrow = fwdRow
          }
          if (mrow != null) Some(proj(joiner(lrow, mrow)))
          else if (inner) None
          else Some(proj(joiner(lrow, nullRight)))
        }
      } else if (forward) {
        // FORWARD merge: attach the FIRST right row with rt >= lt
        // (pandas merge_asof direction='forward'). Rows with
        // rt < lt (same key) or an earlier key are dead for every
        // later left row (both sides ascend), so they are consumed;
        // the candidate itself is PEEKED, never consumed — the next
        // left row of the key may need the same one; the peek is
        // projected within the same iteration, BEFORE any further
        // rBuf.next()/head refetch — retaining it across iterations
        // un-copied would read the sort iterator's reused buffer
        // after it turns over (the hazard the backward path's
        // .copy() guards against). Still O(|L|+|R|)
        // per partition with O(1) state.
        lIter.flatMap { lrow =>
          val k = valueRow(lkB, lrow)
          val t = valueRow(ltB, lrow)
          var continue = true
          while (continue && rBuf.hasNext) {
            val head = rBuf.head
            val hk = valueRow(rkB, head)
            val keyCmp = keyOrd.compare(hk, k)
            if (keyCmp < 0 ||
                (keyCmp == 0 &&
                  timeOrd.compare(valueRow(rtB, head), t) < 0)) {
              rBuf.next()
            } else {
              continue = false
            }
          }
          var mrow: InternalRow = null
          if (rBuf.hasNext) {
            val head = rBuf.head
            if (keyOrd.compare(valueRow(rkB, head), k) == 0) {
              val ht = valueRow(rtB, head)
              val tolOk = toleranceUs match {
                case None => true
                case Some(tol) =>
                  !ht.isNullAt(0) && !t.isNullAt(0) &&
                    ht.getLong(0) - t.getLong(0) <= tol
              }
              if (tolOk) mrow = head
            }
          }
          if (mrow != null) Some(proj(joiner(lrow, mrow)))
          else if (inner) None
          else Some(proj(joiner(lrow, nullRight)))
        }
      } else
      lIter.flatMap { lrow =>
        val k = valueRow(lkB, lrow)
        val t = valueRow(ltB, lrow)
        var continue = true
        while (continue && rBuf.hasNext) {
          val head = rBuf.head
          val hk = valueRow(rkB, head)
          val keyCmp = keyOrd.compare(hk, k)
          if (keyCmp < 0 || (keyCmp == 0 &&
              timeOrd.compare(valueRow(rtB, head), t) <= 0)) {
            last = rBuf.next().copy()
            // Re-evaluate key AND time from the COPIED row: values
            // evaluated against the sort iterator's reusable buffer
            // (UTF8String/struct) are overwritten after a spill page
            // turns over — persisting them across iterations would let
            // the match/null decision silently corrupt.
            lastKey = valueRow(rkB, last)
            lastTime = valueRow(rtB, last)
          } else {
            continue = false
          }
        }
        val matched = last != null && keyOrd.compare(lastKey, k) == 0 &&
          withinTolerance(t)
        if (matched) Some(proj(joiner(lrow, last)))
        else if (inner) None // inner: unmatched left rows are dropped
        else Some(proj(joiner(lrow, nullRight)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan,
      newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Custom optimizer rule: column pruning through [[AsOfJoinNode]].
  * Catalyst's own ColumnPruning only understands built-in nodes, so a
  * custom operator blocks pruning — without this rule,
  * `AsOf.join(events, events, …).select("user_id")` scans every column
  * of both sides. The rule computes the attributes the parent Project
  * and the join expressions actually need and inserts narrowing Projects
  * on both children; physical planning then folds those into the parquet
  * ReadSchema (asserted in AsOfJoinSpec).
  */
object AsOfJoinPruning extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, j: AsOfJoinNode)
        if (AttributeSet(j.output) -- p.references).nonEmpty =>
      val required = p.references ++
        AttributeSet(
          Seq(j.leftKey, j.leftTime, j.rightKey, j.rightTime)
            .flatMap(_.references))
      def prune(child: LogicalPlan): LogicalPlan = {
        val keep = child.output.filter(required.contains)
        if (keep.size == child.output.size) child else Project(keep, child)
      }
      p.copy(child = j.copy(left = prune(j.left), right = prune(j.right)))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, lt, rk, rt, l, r, tol, inner, fwd, near) =>
      AsOfJoinExec(
        lk, lt, rk, rt, planLater(l), planLater(r), tol, inner, fwd, near) :: Nil
    case _ => Nil
  }
}

/** Conf-based registration: `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Installs the as-of join planning and pruning, the transparent MV
  * rewrite, the SQL functions, and [[DriverReadStrategy]]: a key-pinned
  * `graft-merge` read of at most
  * [[graft.sources.GraftMergeScan.DriverReadMaxFiles]] planned files and
  * [[graft.sources.GraftMergeScan.DriverReadMaxBytes]] runs on the driver,
  * with no Spark job and no generated class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // key-pinned reads of small merge-table buckets answer on the
    // driver: no job, no generated class (see DriverReadStrategy)
    ext.injectPlannerStrategy(_ => DriverReadStrategy)
    ext.injectOptimizerRule(_ => AsOfJoinPruning)
    // opt-in transparent MV rewrite (spark.graft.mvRewrite=true):
    // fresh single-table views serve matching source aggregates
    ext.injectOptimizerRule(_ => graft.sources.MvRewrite)
    // SQL names for the custom expressions (zorder2, kmin_distinct,
    // log_histogram, minhash_union, …) — see GraftFunctions
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}

/** Public API: `AsOf.join(left, "k", "t", right, "k2", "t2")`. Lazily
  * registers the strategy on the session if the conf-based extension was
  * not installed. The right side is re-aliased to fresh attribute ids so
  * self-joins (the common as-of case: one event table against itself)
  * never produce ambiguous references.
  */
object AsOf {
  def join(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, None)

  /** As-of join with a TOLERANCE window (pandas merge_asof semantics):
    * the latest right row at-or-before the left time is attached only if
    * `leftTime − rightTime <= toleranceUs`; otherwise nulls — a stale
    * quote/version older than the horizon must not attribute. Requires a
    * long-backed time type (long µs or timestamp).
    */
  def join(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String,
      toleranceUs: Long): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, Some(toleranceUs))

  /** INNER as-of join: left rows with no at-or-before right match (or
    * none inside the tolerance horizon) are dropped instead of padded
    * with nulls — the "only attributed events" shape. Same exec, same
    * O(1) merge state; the emit branch skips instead of null-joining.
    */
  def innerJoin(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, None, inner = true)

  def innerJoin(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String,
      toleranceUs: Long): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, Some(toleranceUs), inner = true)

  /** FORWARD as-of join (pandas merge_asof direction='forward'): attach
    * the FIRST right row with the same key and `rightTime >= leftTime`
    * — next-touch attribution, "earliest version at-or-after". Same
    * one-shuffle-per-side merge exec; the forward scan peeks instead of
    * consuming its candidate.
    */
  def forwardJoin(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, None, forward = true)

  /** Forward as-of join with a tolerance horizon: the first at-or-after
    * right row attaches only if `rightTime − leftTime <= toleranceUs`.
    */
  def forwardJoin(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String,
      toleranceUs: Long): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, Some(toleranceUs), forward = true)

  /** NEAREST as-of join (pandas merge_asof direction='nearest'): attach
    * the right row with the least |rightTime − leftTime|; equal
    * distances break BACKWARD (the at-or-before row), matching pandas.
    * Requires long-backed time columns — the distance is integer µs.
    */
  def nearestJoin(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, None, nearest = true)

  /** Nearest as-of join with a tolerance horizon: a candidate on either
    * side attaches only if its distance is within `toleranceUs`.
    */
  def nearestJoin(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String,
      toleranceUs: Long): DataFrame =
    join(left, leftKey, leftTime, right, rightKey, rightTime, Some(toleranceUs), nearest = true)

  private def join(
      left: DataFrame,
      leftKey: String,
      leftTime: String,
      right: DataFrame,
      rightKey: String,
      rightTime: String,
      toleranceUs: Option[Long],
      inner: Boolean = false,
      forward: Boolean = false,
      nearest: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    // check-then-append on the experimental Seq fields is not atomic;
    // serialize first-call registration so concurrent sessions sharing a
    // SparkSession can't register duplicates or drop an update.
    AsOf.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AsOfJoinStrategy
      }
      if (!spark.experimental.extraOptimizations.contains(AsOfJoinPruning)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ AsOfJoinPruning
      }
    }
    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    val rOut = rAliases.map(_.toAttribute)
    def find(attrs: Seq[Attribute], n: String): Attribute =
      attrs
        .find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val lt = find(lPlan.output, leftTime)
    val rt = find(rOut, rightTime)
    if (toleranceUs.isDefined || nearest) {
      val longBacked = Seq(lt.dataType, rt.dataType).forall {
        case org.apache.spark.sql.types.LongType => true
        case org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
      require(
        longBacked,
        s"as-of tolerance/nearest requires long-backed time columns, got " +
          s"(${lt.dataType}, ${rt.dataType})")
    }
    val node = AsOfJoinNode(
      find(lPlan.output, leftKey),
      lt,
      find(rOut, rightKey),
      rt,
      lPlan,
      rPlan,
      toleranceUs,
      inner,
      forward,
      nearest)
    org.apache.spark.sql.graft.Exprs.ofRows(spark, node)
  }
}
