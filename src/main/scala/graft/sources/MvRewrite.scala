package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias,
  And,
  AttributeReference,
  Cast,
  EqualTo,
  Expression,
  Literal,
  NamedExpression
}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate,
  Join,
  LogicalPlan,
  Project
}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.MergeSink

/** TRANSPARENT MATERIALIZED-VIEW REWRITE (opt-in:
  * `spark.graft.mvRewrite=true`): an aggregate over graft-merge
  * table(s) routes to a maintained view when its shape is served by a
  * registered view and the view is FRESH (`mv_lag_versions == 0` at
  * optimization time — [[MaterializedViews.viewLag]], the same
  * staleness signal `.detail` surfaces). A stale view never serves
  * silently; neither does a time-travel / CDC read (those are answers
  * about OTHER versions — [[isCurrentSnapshotRead]]).
  *
  * Three servable shapes, in preference order:
  *
  *  1. EXACT: the query's grouping set equals the view's and every
  *     aggregate maps to a stored column — the aggregate becomes a
  *     PROJECTION of the view (read the answer, compute nothing).
  *  2. ROLLUP: the query's grouping set is a SUBSET of the view's
  *     (including a global aggregate) and every aggregate REFOLDS from
  *     stored partials — sum of stored sums, min of stored mins, sum
  *     of stored counts (`count(*)` refolds the group-liveness counter
  *     `__n` every view carries). The fact is never read: the rollup
  *     aggregates the O(view groups) answer table.
  *  3. JOIN/STAR: the query is an aggregate over the exact inner
  *     equi-join graph a maintained view was declared on (fact ⋈
  *     dim(s) on fk = pk) — served exact or rolled up, same as above.
  *     The join itself disappears along with the scan.
  *
  * At 100 TB the difference is O(groups) read vs O(fact) scan +
  * shuffle (+ join) + aggregate. Every check is metadata-only (sidecar
  * reads + commit listings), paid only when the conf is on and the
  * plan has a matching aggregate shape.
  *
  * The analytic dual of the reference's derived-ref discipline
  * (/root/reference/src/opusdb/core/stm.clj:42 `apply-writes!` keeps
  * derived structures at the committed head so readers use THEM, not a
  * re-fold of history).
  */
object MvRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val on = SparkSession.getActiveSession.exists(
      _.conf.get("spark.graft.mvRewrite", "false").toBoolean)
    if (!on) plan
    else plan.transform {
      case agg @ Aggregate(groups, results, child, _) =>
        rewrite(agg, groups, results, child).getOrElse(agg)
    }
  }

  /** Read options/properties that make a scan something OTHER than the
    * table's current snapshot. A time-travel / CDC / replay read must
    * NEVER be served from the (head-version) view — the freshness gate
    * guards staleness, this guards the opposite direction (a historical
    * query silently answered with head data).
    */
  private val NonCurrentReadKeys =
    Seq("versionAsOf", "timestampAsOf", "startingVersion", "cdc")

  private def isCurrentSnapshotRead(rel: DataSourceV2Relation): Boolean = {
    def clean(m: java.util.Map[String, String]): Boolean =
      NonCurrentReadKeys.forall { k =>
        val v = m.get(k)
        v == null || (k == "cdc" && v.equalsIgnoreCase("false"))
      }
    clean(rel.options) && clean(rel.table.properties())
  }

  private def dirOf(rel: DataSourceV2Relation): Option[String] =
    if (!rel.table.isInstanceOf[GraftMergeTable]) None
    else Option(rel.table.properties().get("path"))

  // ------------------------------------------------------------------
  // Source-shape matching: peel column-pruning Projects, flatten an
  // inner equi-join tree to (relations, equality pairs). Any other
  // node (a filter, an outer join, a non-equi condition) bails — the
  // view's maintained answer doesn't cover it.
  // ------------------------------------------------------------------

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def flatten(p: LogicalPlan): Option[(
      Seq[DataSourceV2Relation],
      Seq[(AttributeReference, AttributeReference)])] = p match {
    case r: DataSourceV2Relation => Some((Seq(r), Seq.empty))
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      flatten(child)
    case Join(l, r, Inner, Some(cond), _) =>
      val pairs = conjuncts(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
        case _ => return None
      }
      for ((lr, lc) <- flatten(l); (rr, rc) <- flatten(r))
        yield (lr ++ rr, lc ++ rc ++ pairs)
    case _ => None
  }

  private final case class MvDef(
      mvDir: String, groupCols: Seq[String],
      aggs: Seq[MaterializedViews.Agg])

  /** Views whose DECLARED source shape matches the query's: same
    * relations, same join graph. Registration lines ride every
    * participant's `_dependents` sidecar, so reading each dir and
    * deduplicating sees every candidate exactly once. Bails on
    * self-joins and cross-relation name collisions — the view's
    * by-name column record can't disambiguate those.
    */
  private def candidatesFor(
      spark: SparkSession,
      rels: Seq[DataSourceV2Relation],
      dirs: Seq[String],
      conds: Seq[(AttributeReference, AttributeReference)]): Seq[MvDef] = {
    if (dirs.distinct.size != dirs.size) return Seq.empty
    val names = rels.flatMap(_.output.map(_.name))
    if (names.distinct.size != names.size) return Seq.empty
    def relOf(d: String) = rels(dirs.indexOf(d))
    def owns(rel: DataSourceV2Relation, a: AttributeReference): Boolean =
      rel.outputSet.contains(a)
    // fact.fk = dim.pk present among the query's equality pairs
    // (either orientation)?
    def hasCond(f: DataSourceV2Relation, fk: String,
        d: DataSourceV2Relation, pk: String): Boolean =
      conds.exists { case (a, b) =>
        (owns(f, a) && a.name == fk && owns(d, b) && b.name == pk) ||
        (owns(f, b) && b.name == fk && owns(d, a) && a.name == pk)
      }
    val lines = dirs.flatMap(d =>
      MaterializedViews.dependentLines(spark, d)).distinct
    lines.flatMap { line =>
      scala.util.Try(line.split('\t') match {
        case Array("star", mvDir, fDir, _, dimsSpec,
            groupCsv, aggsSpec, _) =>
          val dims = MaterializedViews.parseStarDims(dimsSpec)
          if (rels.size == 1 + dims.size && conds.size == dims.size &&
            dirs.toSet == (fDir +: dims.map(_.dir)).toSet &&
            dims.forall(dm =>
              hasCond(relOf(fDir), dm.fk, relOf(dm.dir), dm.pk)))
            Some(MvDef(
              mvDir,
              groupCsv.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
              MaterializedViews.parseAggs(aggsSpec)))
          else None
        case _ => None
      }).toOption.flatten
    }
  }

  /** The view's relation + its attribute lookup, minted only after the
    * freshness gate passes.
    */
  private def freshViewRel(
      spark: SparkSession, mv: MvDef): Option[DataSourceV2Relation] = {
    // FRESHNESS GATE: serve only a view at ALL its sources' heads
    MaterializedViews.viewLag(spark, mv.mvDir) match {
      case Some((_, 0L)) => ()
      case _ => return None
    }
    val head = MergeSink.lastCommit(spark, mv.mvDir)
      .getOrElse(return None)
    val schema = MergeSink.manifestSchema(spark, mv.mvDir, head.version)
      .getOrElse(return None)
    val props = Map(
      "path" -> mv.mvDir,
      "key" -> mv.groupCols.mkString(","),
      "seq" -> MaterializedViews.RefreshCol)
    Some(DataSourceV2Relation.create(
      new GraftMergeTable(schema, props), None, None,
      new CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(props).asJava)))
  }

  /** The stored view column holding an aggregate call's value (the
    * EXACT-match mapping: the call's value is read, not recomputed).
    */
  private def storedColumnFor(
      mv: MvDef, fn: AggregateFunction): Option[String] = fn match {
    case Sum(a: AttributeReference, _) =>
      mv.aggs.collectFirst {
        case MaterializedViews.Agg(al, "sum", c) if c == a.name => al
      }
    case Min(a: AttributeReference) =>
      mv.aggs.collectFirst {
        case MaterializedViews.Agg(al, "min", c) if c == a.name => al
      }
    case Max(a: AttributeReference) =>
      mv.aggs.collectFirst {
        case MaterializedViews.Agg(al, "max", c) if c == a.name => al
      }
    case Average(a: AttributeReference, _) =>
      mv.aggs.collectFirst {
        case MaterializedViews.Agg(al, "avg", c) if c == a.name => al
      }
    case Count(Seq(Literal(1, _))) =>
      // count(*): every view maintains the group-liveness counter
      mv.aggs.collectFirst {
        case MaterializedViews.Agg(al, "count", "*") => al
      }.orElse(Some(MaterializedViews.RowCountCol))
    case Count(Seq(a: AttributeReference)) =>
      mv.aggs.collectFirst {
        case MaterializedViews.Agg(al, "count", c) if c == a.name => al
      }
    case _ => None
  }

  /** EXACT serve: the aggregate becomes a projection of the view. */
  private def serveExact(
      spark: SparkSession,
      mv: MvDef,
      groupNames: Seq[String],
      results: Seq[NamedExpression]): Option[LogicalPlan] = {
    val mvRel = freshViewRel(spark, mv).getOrElse(return None)
    def mvAttr(name: String): Option[AttributeReference] =
      mvRel.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
    val outputs: Seq[NamedExpression] = results.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        val src = mvAttr(a.name).getOrElse(return None)
        Alias(src, a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, n)
          if groupNames.contains(a.name) =>
        val src = mvAttr(a.name).getOrElse(return None)
        Alias(src, n)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, n)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val stored = storedColumnFor(mv, ae.aggregateFunction)
          .getOrElse(return None)
        val src = mvAttr(stored).getOrElse(return None)
        val e: Expression =
          if (src.dataType == ae.dataType) src
          else Cast(src, ae.dataType)
        Alias(e, n)(exprId = al.exprId)
      case _ => return None
    }
    Some(Project(outputs, mvRel))
  }

  /** ROLLUP serve: re-aggregate the view's stored partials over the
    * query's (strictly coarser, possibly empty) grouping set. Only
    * refoldable aggregates qualify — sum/min/max/count refold; avg
    * does not (an average of averages is wrong; a view serving avg
    * rollups should store sum + count and let the query derive).
    */
  private def serveRollup(
      spark: SparkSession,
      mv: MvDef,
      groupNames: Seq[String],
      results: Seq[NamedExpression]): Option[LogicalPlan] = {
    val mvRel = freshViewRel(spark, mv).getOrElse(return None)
    def mvAttr(name: String): Option[AttributeReference] =
      mvRel.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
    def refold(fn: AggregateFunction): Option[Expression] = {
      def agg(make: AttributeReference => AggregateFunction,
          stored: String): Option[Expression] =
        mvAttr(stored).map(c => AggregateExpression(make(c), Complete,
          isDistinct = false))
      fn match {
        case Sum(a: AttributeReference, _) =>
          mv.aggs.collectFirst {
            case MaterializedViews.Agg(al, "sum", c) if c == a.name => al
          }.flatMap(agg(Sum(_), _))
        case Min(a: AttributeReference) =>
          mv.aggs.collectFirst {
            case MaterializedViews.Agg(al, "min", c) if c == a.name => al
          }.flatMap(agg(Min(_), _))
        case Max(a: AttributeReference) =>
          mv.aggs.collectFirst {
            case MaterializedViews.Agg(al, "max", c) if c == a.name => al
          }.flatMap(agg(Max(_), _))
        case Count(Seq(Literal(1, _))) =>
          // total rows = sum of the per-group liveness counters
          mv.aggs.collectFirst {
            case MaterializedViews.Agg(al, "count", "*") => al
          }.orElse(Some(MaterializedViews.RowCountCol))
            .flatMap(agg(Sum(_), _))
        case Count(Seq(a: AttributeReference)) =>
          mv.aggs.collectFirst {
            case MaterializedViews.Agg(al, "count", c) if c == a.name => al
          }.flatMap(agg(Sum(_), _))
        case _ => None
      }
    }
    val outputs: Seq[NamedExpression] = results.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        val src = mvAttr(a.name).getOrElse(return None)
        Alias(src, a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, n)
          if groupNames.contains(a.name) =>
        val src = mvAttr(a.name).getOrElse(return None)
        Alias(src, n)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, n)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val folded = refold(ae.aggregateFunction).getOrElse(return None)
        val e: Expression =
          if (folded.dataType == ae.dataType) folded
          else Cast(folded, ae.dataType)
        Alias(e, n)(exprId = al.exprId)
      case _ => return None
    }
    val groupExprs: Seq[Expression] =
      groupNames.map(n => mvAttr(n).getOrElse(return None))
    Some(Aggregate(groupExprs, outputs, mvRel))
  }

  private def rewrite(
      agg: Aggregate,
      groups: Seq[Expression],
      results: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val (rels, conds) = flatten(child).getOrElse(return None)
    val dirs = rels.map(r => dirOf(r).getOrElse(return None))
    if (!rels.forall(isCurrentSnapshotRead)) return None
    // grouping must be bare source columns
    val groupAttrs = groups.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val groupNames = groupAttrs.map(_.name)
    val cands = candidatesFor(spark, rels, dirs, conds)
    if (cands.isEmpty) return None
    val gset = groupNames.toSet
    cands.view
      .filter(_.groupCols.toSet == gset)
      .filter(_.groupCols.nonEmpty) // a keyless view can't exist; guard
      .flatMap(mv => serveExact(spark, mv, groupNames, results))
      .headOption
      .orElse(cands.view
        .filter(mv => gset.subsetOf(mv.groupCols.toSet) &&
          mv.groupCols.toSet != gset)
        .flatMap(mv => serveRollup(spark, mv, groupNames, results))
        .headOption)
  }
}
