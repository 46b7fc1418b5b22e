package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.operators.CatalogStats
import graft.sources.dsv2.{JsonlScan, JsonlTable}

/** Shared uniqueness reasoning for the stats-proven rewrites
  * ([[EagerAggregation]], [[DistinctCollapse]]).
  *
  * Two strengths of claim:
  *   - [[uniqueOn]]: a BASE-RELATION column is verified duplicate-free
  *     (the engine's own exact ANALYZE probes, served fingerprint-
  *     fresh), chased through the row-preserving operators ([[chase]]).
  *   - [[outputUnique]]: an attribute is duplicate-free across the
  *     OUTPUT ROWS of an arbitrary plan — derivable through grouping
  *     (the attr keys the Aggregate and functionally determines its
  *     co-keys) and through N:1 joins (the other side matches at most
  *     one row per verified-unique key).
  *
  * Everything here is conservative: any shape the reasoning does not
  * cover answers `false` and the callers stand down. */
object UniquenessEvidence {

  /** Maps `attrs` down through every operator that keeps each row's
    * values of them: Filter (drops rows, changes none), pass-through
    * Project/Alias, and repartitions (move rows between partitions,
    * change none). Returns the first other operator with
    * the attributes as it outputs them, or None when a Project
    * computes one of them. */
  @annotation.tailrec
  private def chase(p: LogicalPlan, attrs: Seq[AttributeReference])
      : Option[(LogicalPlan, Seq[AttributeReference])] =
    p match {
      case Filter(_, c) => chase(c, attrs)
      case r: RepartitionOperation => chase(r.child, attrs)
      case Project(exprs, c) =>
        val mapped = attrs.flatMap(a =>
          exprs.find(_.toAttribute.exprId == a.exprId).collect {
            case x: AttributeReference => x
            case Alias(x: AttributeReference, _) => x
          })
        if (mapped.size == attrs.size) chase(c, mapped) else None
      case _ => Some((p, attrs))
    }

  /** The join-key attribute chases down to a relation whose column is
    * fingerprint-fresh verified-unique — a graft scan ([[JsonlTable]]
    * ANALYZE channel) or a path-based file relation ([[CatalogStats]]
    * channel). */
  def uniqueOn(session: SparkSession, p: LogicalPlan,
               attr: AttributeReference): Boolean =
    chase(p, Seq(attr)) match {
      // rules run in the operator-optimization batch, BEFORE
      // V2ScanRelationPushDown — the relation is still table-shaped;
      // the scan-shaped match covers any later re-optimization pass
      case Some((r: DataSourceV2Relation, Seq(a))) =>
        r.table match {
          case t: JsonlTable if r.output.exists(_.exprId == a.exprId) =>
            t.freshUniqueColumns.contains(a.name)
          case _ => false
        }
      case Some((r: DataSourceV2ScanRelation, Seq(a))) =>
        r.scan match {
          case js: JsonlScan if r.output.exists(_.exprId == a.exprId) =>
            js.freshUniqueColumns.contains(a.name)
          case _ => false
        }
      // v1 path-based relations (spark.read.parquet temp views — the
      // suite's SQL-text twins): the CatalogStats exact-verification
      // registry, keyed by root paths, gated on the live file-set
      // fingerprint (never-verified relations cost zero I/O here)
      case Some((lr: LogicalRelation, Seq(a))) =>
        lr.relation match {
          case fsRel: HadoopFsRelation
              if lr.output.exists(_.exprId == a.exprId) =>
            CatalogStats.freshUniqueColumns(session,
              fsRel.location.rootPaths.map(_.toString))
              .contains(a.name)
          case _ => false
        }
      case _ => false
    }

  /** Does every value of `attr` appear in AT MOST ONE output row of
    * `p`? Derivations, below the row-preserving operators ([[chase]]):
    *   - Aggregate: `attr` is one of the grouping attributes and every
    *     OTHER grouping attribute is functionally determined by it in
    *     the aggregate input ([[funcDetermined]]) — then distinct
    *     group tuples are distinct `attr` values;
    *   - inner equi-join: `attr`'s own side is output-unique on it AND
    *     the other side matches at most one row (verified-unique join
    *     key) — N:1 preserves the left multiplicity;
    *   - base relation: [[uniqueOn]]. */
  def outputUnique(session: SparkSession, p: LogicalPlan,
                   attr: AttributeReference): Boolean =
    chase(p, Seq(attr)) match {
      case Some((Aggregate(gs, _, c, _), Seq(a))) =>
        gs.forall(_.isInstanceOf[AttributeReference]) && {
          val attrs = gs.map(_.asInstanceOf[AttributeReference])
          attrs.exists(_.exprId == a.exprId) &&
            funcDetermined(session, c, a,
              attrs.filterNot(_.exprId == a.exprId))
        }
      // outer joins included: null-extension introduces NULLs of the
      // attr, never duplicate VALUES — and with both keys unique the
      // row multiplicities are one-to-at-most-one in each direction
      case Some((Join(l, r, Inner | LeftOuter | RightOuter,
          Some(EqualTo(x: AttributeReference, y: AttributeReference)), _),
          Seq(a))) =>
        val (lk, rk) =
          if (l.outputSet.contains(x) && r.outputSet.contains(y)) (x, y)
          else if (l.outputSet.contains(y) && r.outputSet.contains(x)) (y, x)
          else return false
        if (l.outputSet.contains(a))
          outputUnique(session, l, a) && uniqueOn(session, r, rk)
        else if (r.outputSet.contains(a))
          outputUnique(session, r, a) && uniqueOn(session, l, lk)
        else false
      case Some((rel @ (_: DataSourceV2Relation | _: DataSourceV2ScanRelation |
          _: LogicalRelation), Seq(a))) =>
        uniqueOn(session, rel, a)
      case _ => false
    }

  /** Is every attribute in `others` functionally determined by `attr`
    * across the output rows of `p`? Conservative sufficient
    * conditions, below the row-preserving operators ([[chase]]): all
    * of them live on one side of a join (any type — the other side
    * cannot break a within-side dependence), and at the base, the
    * carrying relation is verified-unique on `attr` (a unique key
    * determines the whole row). */
  private def funcDetermined(session: SparkSession, p: LogicalPlan,
                             attr: AttributeReference,
                             others: Seq[AttributeReference]): Boolean =
    others.isEmpty || (chase(p, attr +: others) match {
      case Some((Join(l, _, _, _, _), a +: os))
          if l.outputSet.contains(a) && os.forall(l.outputSet.contains) =>
        funcDetermined(session, l, a, os)
      case Some((Join(_, r, _, _, _), a +: os))
          if r.outputSet.contains(a) && os.forall(r.outputSet.contains) =>
        funcDetermined(session, r, a, os)
      case Some((q, a +: os)) =>
        os.forall(q.outputSet.contains) && uniqueOn(session, q, a)
      case _ => false
    })
}
