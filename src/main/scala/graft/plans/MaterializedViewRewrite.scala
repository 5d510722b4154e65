package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** MATERIALIZED-VIEW REWRITE (aggregate navigation): queries written
  * against the raw fact table are transparently answered from a
  * registered finer-grain rollup when that is provably equivalent — the
  * optimization BigQuery (the reference's warehouse,
  * `core/utility/dataset_utils.py`'s destination tables are exactly such
  * rollup targets), Snowflake, and Oracle all ship as "materialized view
  * rewrite" / "aggregate navigation". At 100 TB the difference is a
  * dashboard rollup scanning a |dims|-sized MV instead of the fact
  * table: the query text stays fact-shaped, the scan does not.
  *
  * Soundness rules, all enforced structurally (anything else DECLINES —
  * the query then runs against the base, correct just slower):
  *
  *  - the aggregate's child must be a plain scan of a REGISTERED base
  *    (optionally a column-pruning Project and/or a Filter over MV
  *    dimension columns only — the filter is rebased onto the MV, every
  *    base group being one MV row makes dim-filter pushdown exact);
  *  - every grouping key must be an MV dimension (the MV's grain or
  *    coarser — re-aggregation handles the coarsening);
  *  - only DISTRIBUTIVE aggregates rewrite: `COUNT(*)` → `SUM(mv.n)`,
  *    `SUM(x)` → `SUM(mv.sum_x)`, `MIN(x)`/`MAX(x)` → over the MV's
  *    min/max columns. Algebraic forms (avg, stddev) and DISTINCT
  *    aggregates decline — a correct rewrite would need decomposition
  *    this tier-(b) rule deliberately keeps out of scope;
  *  - FRESHNESS: the MV registration records a fingerprint of the base's
  *    file listing (name, length, mtime per file); the rule re-lists at
  *    plan time and declines on ANY drift, so a stale MV can never serve
  *    a query — the "MV staleness" contract warehouses enforce via
  *    refresh metadata, here at the only boundary this engine owns.
  *
  * Output attribute ids are PRESERVED (each rewritten output keeps the
  * original exprId), so parent operators' references stay valid. The MV
  * relation is spliced via `newInstance()` per match — two rewrites in
  * one tree never share attribute ids. Installed on every session by
  * [[graft.GraftSession.install]], beside [[NanosTimestampPushdown]]; it
  * fires only on bases present in [[MvCatalog]], so it is inert for every
  * other query in the session.
  */
object MaterializedViewRewrite extends Rule[LogicalPlan] {

  /** One registered rollup: the MV holds one row per `dims` group of the
    * base, with `countCol` = COUNT(*) of the group and per-base-column
    * SUM/MIN/MAX columns as mapped.
    */
  case class MvDef(baseRootPaths: Set[String], mv: LogicalRelation,
                   dims: Set[String], countCol: String,
                   sumMap: Map[String, String], minMap: Map[String, String],
                   maxMap: Map[String, String], baseFingerprint: String)

  /** Session-wide MV registry, keyed by the base's root paths. Explicit
    * registration only — nothing is ever rewritten that a caller did not
    * declare, which is also what keeps this rule inert across the rest
    * of the session.
    */
  object MvCatalog {
    private val defs =
      new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

    /** Fingerprint of a base directory's current file listing. */
    def fingerprint(s: SparkSession, basePath: String): String = {
      val p = new org.apache.hadoop.fs.Path(basePath)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(p).filter(_.isFile)
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted.mkString("\n")
    }

    def register(s: SparkSession, basePath: String, mvPath: String,
                 dims: Seq[String], countCol: String,
                 sumMap: Map[String, String],
                 minMap: Map[String, String] = Map.empty,
                 maxMap: Map[String, String] = Map.empty): Unit = {
      val baseRel = s.read.parquet(basePath).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l
      }.getOrElse(throw new IllegalArgumentException(
        s"mv-rewrite: $basePath did not analyze to a file relation"))
      val mvRel = s.read.parquet(mvPath).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l
      }.get
      val roots = rootPaths(baseRel)
      defs.put(roots.toSeq.sorted.mkString(";"),
        MvDef(roots, mvRel, dims.toSet, countCol, sumMap, minMap, maxMap,
          fingerprint(s, basePath)))
    }

    def lookup(roots: Set[String]): Option[MvDef] =
      Option(defs.get(roots.toSeq.sorted.mkString(";")))

    def clear(): Unit = defs.clear()
  }

  private def rootPaths(l: LogicalRelation): Set[String] = l.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
    case _ => Set.empty
  }

  /** The shapes between the Aggregate and the base relation this rule
    * sees through: column-pruning Projects (plain attributes only) and
    * at most one Filter. Returns (relation, dim-only filter condition).
    */
  private def unwrap(plan: LogicalPlan): Option[(LogicalRelation, Option[Expression])] =
    plan match {
      case l: LogicalRelation => Some((l, None))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case Filter(cond, child) =>
        unwrap(child).flatMap {
          case (l, None) => Some((l, Some(cond)))
          case _ => None // one filter is the supported shape
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
      rewrite(agg, groupExprs, aggExprs, child).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, groupExprs: Seq[Expression],
                      aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val (baseRel, filterCond) = unwrap(child) match {
      case Some(x) => x
      case None => return None
    }
    val mvDef = MvCatalog.lookup(rootPaths(baseRel)) match {
      case Some(d) => d
      case None => return None
    }
    // FRESHNESS: any drift in the base listing and the MV must not serve
    val basePath = rootPaths(baseRel).head
    if (MvCatalog.fingerprint(SparkSession.active, basePath) != mvDef.baseFingerprint)
      return None

    // grouping keys: plain attributes, all MV dimensions
    val groupNames = groupExprs.map {
      case a: AttributeReference if mvDef.dims.contains(a.name) => a.name
      case _ => return None
    }
    // the filter may only touch MV dimensions
    filterCond.foreach { c =>
      if (!c.references.forall(a => mvDef.dims.contains(a.name))) return None
    }

    val mvRel = mvDef.mv.newInstance()
    def mvAttr(name: String): AttributeReference =
      mvRel.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.getOrElse(throw new IllegalStateException(
        s"mv-rewrite: registered MV lacks column $name"))

    // each output keeps its ORIGINAL exprId so parents stay resolved
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if mvDef.dims.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(AggregateExpression(f, Complete, false, None, _), name) =>
        def agg(fn: AggregateFunction): Expression =
          AggregateExpression(fn, Complete, isDistinct = false)
        val rewritten: Option[Expression] = f match {
          // COUNT(*) is non-nullable and returns 0 over an empty group-set
          // (a GLOBAL aggregate whose dim filter matches zero MV rows);
          // SUM over the same returns NULL. Coalesce restores both the
          // value and the non-nullability the original exprId advertises —
          // without it parents that elided null checks would read garbage.
          case Count(Seq(Literal(1, _))) =>
            Some(Coalesce(Seq(agg(Sum(mvAttr(mvDef.countCol))), Literal(0L))))
          case Sum(a: AttributeReference, _) =>
            mvDef.sumMap.get(a.name).map(c => agg(Sum(mvAttr(c))))
          case Min(a: AttributeReference) =>
            mvDef.minMap.get(a.name).map(c => agg(Min(mvAttr(c))))
          case Max(a: AttributeReference) =>
            mvDef.maxMap.get(a.name).map(c => agg(Max(mvAttr(c))))
          case _ => None
        }
        rewritten match {
          case Some(e) => Alias(e, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val newGroup = groupNames.map(mvAttr)
    val newChild = filterCond match {
      case Some(c) =>
        Filter(c.transform {
          case a: AttributeReference => mvAttr(a.name)
        }, mvRel)
      case None => mvRel
    }
    Some(Aggregate(newGroup, newAggExprs, newChild))
  }
}
