package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Aggregate navigation: a Catalyst optimizer rule that rewrites an
  * aggregate over a registered base table to a re-aggregation of a much
  * smaller materialized summary table — the classic OLAP summary-table
  * rewrite (Goldstein & Larson, SIGMOD 2001 "Optimizing queries using
  * materialized views"). The reference engine (like most OLAP engines)
  * answers repeated roll-up queries by scanning the fact table; at 100 TB
  * the same query family should be answered from a pre-aggregated MV whose
  * size is the GROUP-KEY cardinality, not the corpus — the rewrite turns a
  * full fact scan into a scan of (typically) a few thousand rows, and the
  * MV itself is maintainable incrementally (see
  * [[graft.operators.IncrementalAgg]] — the same merge algebra keeps the
  * summary fresh from deltas without a base rescan).
  *
  * A query rewrites iff, against one registered [[MvDef]]:
  *   - its grouping keys are a SUBSET of the MV's grouping columns (the MV
  *     is a finer roll-up, so re-aggregating its partials is exact);
  *   - every `Filter` between the aggregate and the scan references only
  *     MV grouping columns (the predicate transfers to the MV verbatim —
  *     partial groups are never split by such a filter);
  *   - every aggregate call matches a registered measure by CANONICAL SQL
  *     (derived from the analyzed MV definition at registration, so
  *     arbitrary input expressions — e.g. `sum(cast(x as decimal))` — key
  *     exactly, with zero name-mangling drift) and is neither DISTINCT nor
  *     FILTERed (partials cannot serve either).
  *
  * Re-aggregation: sum→sum, count→sum, min→min, max→max of the stored
  * partial, cast back to the original aggregate's result type (a widened
  * decimal sum-of-sums narrows losslessly — the value is the same sum).
  * Expressions AROUND the aggregates (final casts, sum/count ratios) are
  * preserved by replacing each aggregate node in place, so derived
  * measures rewrite for free. Exactness requires an associative partial —
  * which is why callers register decimal (not double) sums; min/max/count
  * are exact on any type.
  *
  * Grouping-only (`groupings.nonEmpty`) by design: a global aggregate over
  * an empty base yields one row (`count = 0`) while the empty MV would
  * yield none — the guard sidesteps the classic empty-roll-up bug.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** One registered summary table.
    *
    * @param mvPath    path of the MV parquet (re-registration key: a second
    *                  register with the same path replaces, not duplicates)
    * @param mvRel     analyzed relation of the MV parquet (re-instanced per
    *                  rewrite so exprIds never collide across matches)
    * @param groupCols MV grouping columns (stored under base-table names)
    * @param measures  canonical-SQL aggregate key → (rollup fn, mv column)
    * @param bytes     measured on-disk size of the MV parquet at register
    *                  time — the lattice-navigation cost (re-registration
    *                  after a refresh re-measures)
    */
  final case class MvDef(
      basePath: String,
      mvPath: String,
      mvRel: LogicalRelation,
      groupCols: Set[String],
      measures: Map[String, (String, String)],
      bytes: Long)

  /** base path → ALL registered summary tables over that base. Real OLAP
    * serving layers hold several roll-ups per fact table (a lattice of
    * summary tables, Harinarayan/Rajaraman/Ullman SIGMOD'96); the rule
    * navigates to the cheapest one that can answer. */
  private val registry = new ConcurrentHashMap[String, Vector[MvDef]]()

  /** Registers `mvPath` (already written) as the materialization of the
    * aggregate `mvDef` (aliases = MV column names) over the single-path
    * base table at `basePath`. `rollups` maps each MV measure column to
    * its re-aggregation function ("sum" | "min" | "max" — count partials
    * roll up via "sum"). A second call for a (basePath, mvPath) that this
    * session already registered is a no-op: it neither builds `mvDef` nor
    * re-reads and re-measures the MV. After [[clear]] or [[unregister]],
    * or from another session, the call registers again. Every call also
    * installs this rule into the session's `experimental.extraOptimizations`
    * (the user-provided batch that runs after pushdown/pruning, where the
    * scan shape is final). */
  def register(
      spark: SparkSession, basePath: String, mvDef: => DataFrame, mvPath: String,
      groupCols: Seq[String], rollups: Map[String, String]): Unit = {
    if (!registered(spark, basePath, mvPath)) {
      val aggPlan = mvDef.queryExecution.analyzed.collectFirst {
        case a: Aggregate => a
      }.getOrElse(throw new IllegalArgumentException(
        s"MV definition for $basePath is not an aggregate"))
      val measures = aggPlan.aggregateExpressions.collect {
        case Alias(ae: AggregateExpression, name) if rollups.contains(name) =>
          ae.aggregateFunction.sql(isDistinct = false) -> (rollups(name), name)
      }.toMap
      require(measures.size == rollups.size,
        s"MV definition for $basePath: ${rollups.keySet -- measures.values.map(_._2)} not found as aggregate aliases")
      val mvRel = spark.read.parquet(mvPath).queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation => lr
      }.getOrElse(throw new IllegalStateException(s"$mvPath is not a file relation"))
      val defn = MvDef(basePath, mvPath, mvRel, groupCols.toSet, measures,
        graft.sources.Sinks.dirBytes(spark, mvPath))
      registry.compute(basePath, (_, prev) =>
        Option(prev).getOrElse(Vector.empty).filterNot(_.mvPath == mvPath) :+ defn)
    }
    if (!spark.experimental.extraOptimizations.contains(MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite
    ()
  }

  /** Whether `mvPath` is registered over `basePath` with a relation bound to
    * `spark`: a relation bound to another session (the test suites stop and
    * rebuild theirs) must be re-read before it serves. */
  private def registered(spark: SparkSession, basePath: String, mvPath: String): Boolean =
    Option(registry.get(basePath)).exists(_.exists(mv => mv.mvPath == mvPath &&
      (mv.mvRel.relation match {
        case fs: HadoopFsRelation => fs.sparkSession eq spark
        case _ => false
      })))

  /** Test/benchmark hook: forget every registered MV. */
  def clear(): Unit = registry.clear()

  /** Drop every MV registered over `basePath` — the serving-layer "replace
    * the summary table" operation: an incrementally-maintained MV commits
    * a NEW immutable version dir per refresh (the old one is pruned), so
    * the maintainer unregisters the stale version and registers the fresh
    * one; a stale def left behind would serve a deleted directory. */
  def unregister(basePath: String): Unit = { registry.remove(basePath); () }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(groupings, aggExprs, child, _) if groupings.nonEmpty =>
        rewrite(groupings, aggExprs, child).getOrElse(agg)
    }

  /** Peels attribute-only Projects and Filters down to a single-path file
    * scan; anything else (joins, expressions in projections) disqualifies. */
  private def scanOf(plan: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => Some((lr, Nil))
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        scanOf(c)
      case Filter(cond, c) =>
        scanOf(c).map { case (lr, fs) => (lr, cond +: fs) }
      case _ => None
    }

  private def pathOf(lr: LogicalRelation): Option[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.toList match {
      case p :: Nil => Some(p.toUri.getPath)
      case _        => None
    }
    case _ => None
  }

  private def rewrite(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val scan = scanOf(child)
    scan match {
      case Some((lr, filters)) =>
        val defs =
          pathOf(lr).flatMap(p => Option(registry.get(p))).getOrElse(return None)
        // Navigate the summary lattice by MEASURED bytes, not grouping
        // arity: fewer grouping columns usually means fewer rows, but a
        // coarse MV carrying many wide measure columns can out-weigh a
        // finer-but-narrower one — and every candidate that can answer
        // re-aggregates exactly, so the only cost difference is the scan.
        // Bytes are measured once at register time (ties: coarsest first,
        // then path, for determinism).
        defs.sortBy(mv => (mv.bytes, mv.groupCols.size, mv.mvPath))
          .iterator
          .map(mv => rewriteWith(mv, groupings, aggExprs, filters))
          .collectFirst { case Some(plan) => plan }
      case None => joinBack(groupings, aggExprs, child)
    }
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Flattens a tree of INNER equi-joins (attribute-only Projects and
    * Filters interleaved) into its leaf subplans, every join conjunct,
    * and the hoisted filters. A Filter directly over a non-join fragment
    * stays inside its leaf (the fact scan's own filters are judged by
    * [[scanOf]]; dim leaves keep theirs verbatim); a non-inner or
    * condition-less join becomes an opaque leaf. */
  private def flattenJoins(
      plan: LogicalPlan): (Seq[LogicalPlan], Seq[Expression], Seq[Expression]) =
    plan match {
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        val (ll, lc, lf) = flattenJoins(j.left)
        val (rl, rc, rf) = flattenJoins(j.right)
        (ll ++ rl, lc ++ rc ++ conjunctsOf(j.condition.get), lf ++ rf)
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        flattenJoins(c)
      case Filter(cond, c) =>
        val (ls, cs, fs) = flattenJoins(c)
        if (ls.length > 1) (ls, cs, cond +: fs) else (Seq(plan), Nil, Nil)
      case p => (Seq(p), Nil, Nil)
    }

  /** The JOIN-BACK case (Goldstein & Larson §2.2), N-ary: an aggregate
    * over fact ⋈ dim₁ ⋈ … ⋈ dimₙ (the star/snowflake shape) rewrites to
    * MV ⋈ dims when the MV groups by every fact-side join key — each MV
    * group row joins to exactly the dim rows its underlying fact rows
    * joined to, so sum/count/min/max partials re-aggregate exactly (key
    * multiplicity multiplies partials and raw rows identically, across
    * any number of dims). Dim subplans are reused verbatim; only the
    * fact scan disappears. */
  private def joinBack(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (leaves, conjuncts, aboveFilters) = flattenJoins(child)
    if (leaves.length < 2) return None
    val factIdx = leaves.indexWhere(l =>
      scanOf(l).flatMap(s => pathOf(s._1))
        .exists(p => registry.containsKey(p)))
    if (factIdx < 0) return None
    rewriteJoinBack(groupings, aggExprs, aboveFilters, conjuncts,
      leaves(factIdx), leaves.patch(factIdx, Nil, 1))
  }

  private def rewriteJoinBack(
      groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      aboveFilters: Seq[Expression], conjuncts: Seq[Expression],
      factSide: LogicalPlan, dims: Seq[LogicalPlan]): Option[LogicalPlan] = {
    val (factLr, scanFilters) = scanOf(factSide).getOrElse(return None)
    val defs = pathOf(factLr)
      .flatMap(p => Option(registry.get(p))).getOrElse(return None)
    val factAttrs = factLr.outputSet
    val dimAttrs = AttributeSet(dims.flatMap(_.output))
    // classify each conjunct: fact.key = dim.key (either orientation —
    // collect the fact key), dim-only (reused verbatim), fact-only (a
    // fact filter — must transfer to the MV); anything else disqualifies
    val factKeys = scala.collection.mutable.ArrayBuffer[AttributeReference]()
    val joinConjs = scala.collection.mutable.ArrayBuffer[Expression]()
    val factConjs = scala.collection.mutable.ArrayBuffer[Expression]()
    conjuncts.foreach {
      case eq @ EqualTo(a: AttributeReference, b: AttributeReference)
        if factAttrs.contains(a) && dimAttrs.contains(b) =>
        factKeys += a; joinConjs += eq
      case eq @ EqualTo(a: AttributeReference, b: AttributeReference)
        if factAttrs.contains(b) && dimAttrs.contains(a) =>
        factKeys += b; joinConjs += eq
      case c if c.references.subsetOf(dimAttrs) => joinConjs += c
      case c if c.references.subsetOf(factAttrs) => factConjs += c
      case _ => return None
    }
    val factFilters = scanFilters ++ factConjs.toSeq
    // same measured-bytes lattice navigation as the scan path
    defs.sortBy(mv => (mv.bytes, mv.groupCols.size, mv.mvPath)).iterator
      .map { mv =>
        if (!factKeys.forall(k => mv.groupCols(k.name))) None
        else if (!factFilters.forall(
            _.references.forall(r => mv.groupCols(r.name)))) None
        else if (!aboveFilters.forall(_.references.forall(r =>
            dimAttrs.contains(r) || (factAttrs.contains(r) && mv.groupCols(r.name))))) None
        else buildJoinBack(mv, groupings, aggExprs, aboveFilters,
          joinConjs.toSeq, factFilters, factAttrs, dims)
      }
      .collectFirst { case Some(plan) => plan }
  }

  private def buildJoinBack(
      mv: MvDef, groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      aboveFilters: Seq[Expression], conjuncts: Seq[Expression],
      factFilters: Seq[Expression], factAttrs: AttributeSet,
      dims: Seq[LogicalPlan]): Option[LogicalPlan] = {
    val rel = mv.mvRel.newInstance()
    val byName = rel.output.map(a => a.name -> a).toMap
    val dimAttrs = AttributeSet(dims.flatMap(_.output))
    def isFact(a: Attribute) = factAttrs.contains(a)

    // groupings: dim attrs pass through; fact attrs must be MV group cols
    val newGroupings: Seq[Expression] = groupings.map {
      case a: AttributeReference if isFact(a) && mv.groupCols(a.name) =>
        byName(a.name)
      case a: AttributeReference if dimAttrs.contains(a) => a
      case _ => return None
    }

    def reagg(ae: AggregateExpression): Option[Expression] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else if (!ae.references.forall(isFact)) None
      else mv.measures.get(ae.aggregateFunction.sql(isDistinct = false)).map {
        case (rollup, mvCol) =>
          val fn: AggregateFunction = rollup match {
            case "sum" => Sum(byName(mvCol))
            case "min" => Min(byName(mvCol))
            case "max" => Max(byName(mvCol))
          }
          val re = AggregateExpression(fn, Complete, isDistinct = false)
          if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
      }

    var ok = true
    val inserted = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Expression, java.lang.Boolean]())
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if isFact(a) && mv.groupCols(a.name) =>
        Alias(byName(a.name), a.name)(exprId = a.exprId)
      case a: AttributeReference if dimAttrs.contains(a) => a
      case al @ Alias(body, name) =>
        val newBody = body.transform {
          case ae: AggregateExpression if !inserted.contains(ae) =>
            reagg(ae) match {
              case Some(e) =>
                e.foreach { case x: AggregateExpression => inserted.add(x); () case _ => }
                e
              case None => ok = false; ae
            }
          case a: AttributeReference if isFact(a) =>
            byName.get(a.name) match {
              case Some(m) if mv.groupCols(a.name) => m
              case _ => ok = false; a
            }
        }
        Alias(newBody, name)(exprId = al.exprId)
      case _ => ok = false; aggExprs.head
    }
    if (!ok) return None

    def remapFact(e: Expression): Expression = e.transform {
      case a: AttributeReference if isFact(a) => byName(a.name)
    }
    // fact-side filters transfer onto the MV, below the joins
    val mvFiltered = factFilters.map(remapFact)
      .reduceOption(And)
      .map(Filter(_, rel): LogicalPlan)
      .getOrElse(rel)
    val mappedConjs = conjuncts.map(remapFact)
    // prune the MV to the columns the plan actually touches (the
    // column-pruning batch already ran)
    val refs = AttributeSet(
      mappedConjs.flatMap(_.references) ++ newGroupings.flatMap(_.references) ++
        newAggs.flatMap(_.references))
    val pruned = Project(rel.output.filter(refs.contains), mvFiltered)
    // rebuild left-deep, ordering dims GREEDILY BY CONNECTIVITY: the next
    // dim must bind at least one remaining conjunct against what's built
    // so far (flatten order is not enough — a bushy source like
    // fact ⋈ (dimA ⋈ dimB) with the fact key into dimB would hand dimA a
    // condition-less join, i.e. a cartesian). Every conjunct (and hoisted
    // filter) attaches at the first level its references are in scope; if
    // some dim never binds, the rewrite is skipped rather than emitting
    // an unconditioned Inner join.
    var remaining = mappedConjs ++ aboveFilters.map(remapFact)
    var acc: LogicalPlan = pruned
    var pending = dims
    while (pending.nonEmpty) {
      val accOut = AttributeSet(acc.output)
      val pick = pending.find { dim =>
        val scope = accOut ++ dim.outputSet
        remaining.exists(c =>
          c.references.subsetOf(scope) && !c.references.subsetOf(accOut))
      }
      pick match {
        // no dim binds a conjunct (bushy/cross source): skip the rewrite
        case None => return None
        case Some(dim) =>
          val scope = accOut ++ dim.outputSet
          val (now, later) = remaining.partition(_.references.subsetOf(scope))
          acc = Join(acc, dim, Inner, now.reduceOption(And), JoinHint.NONE)
          remaining = later
          pending = pending.filterNot(_ eq dim)
      }
    }
    val filtered = remaining
      .reduceOption(And)
      .map(Filter(_, acc): LogicalPlan)
      .getOrElse(acc)
    Some(Aggregate(newGroupings, newAggs, filtered))
  }

  /** Attempts the rewrite against ONE registered summary table; None if any
    * grouping, filter, or aggregate disqualifies it. */
  private def rewriteWith(
      mv: MvDef, groupings: Seq[Expression], aggExprs: Seq[NamedExpression],
      filters: Seq[Expression]): Option[LogicalPlan] = {
    val groupAttrs = groupings.map {
      case a: AttributeReference if mv.groupCols(a.name) => a
      case _ => return None
    }
    if (!filters.forall(_.references.forall(r => mv.groupCols(r.name)))) return None

    val rel = mv.mvRel.newInstance()
    val byName = rel.output.map(a => a.name -> a).toMap
    val groupNames = groupAttrs.map(_.name).toSet

    def reagg(ae: AggregateExpression): Option[Expression] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else mv.measures.get(ae.aggregateFunction.sql(isDistinct = false)).map {
        case (rollup, mvCol) =>
          val fn: AggregateFunction = rollup match {
            case "sum" => Sum(byName(mvCol))
            case "min" => Min(byName(mvCol))
            case "max" => Max(byName(mvCol))
          }
          val re = AggregateExpression(fn, Complete, isDistinct = false)
          if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
      }

    // Rebuild each output expression over the MV: aggregate nodes swap for
    // their re-aggregation (wrapping casts/ratios survive untouched);
    // remaining references remap by name — outside an aggregate the
    // analyzer only admits grouping columns, and transform's descent into
    // a just-inserted replacement sees MV attributes, which byName maps to
    // themselves. Anything unmappable disqualifies the whole aggregate.
    var ok = true
    // transform descends into just-inserted replacements, whose inner
    // aggregate would re-match (and fail the measure lookup) — track the
    // inserted nodes by IDENTITY and pass them through untouched.
    val inserted = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Expression, java.lang.Boolean]())
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if groupNames(a.name) =>
        Alias(byName(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(body, name) =>
        val newBody = body.transform {
          case ae: AggregateExpression if !inserted.contains(ae) =>
            reagg(ae) match {
              case Some(e) =>
                e.foreach { case x: AggregateExpression => inserted.add(x); () case _ => }
                e
              case None => ok = false; ae
            }
          case a: AttributeReference =>
            byName.get(a.name) match {
              case Some(m) => m
              case None    => ok = false; a
            }
        }
        Alias(newBody, name)(exprId = al.exprId)
      case _ => ok = false; aggExprs.head
    }
    if (!ok) return None

    val newGroupings = groupAttrs.map(a => byName(a.name))
    val filtered = filters
      .map(_.transform { case a: AttributeReference => byName(a.name) })
      .reduceOption(And)
      .map(Filter(_, rel): LogicalPlan)
      .getOrElse(rel)
    // Explicit pruning projection: the column-pruning batch already ran.
    val refs = AttributeSet(newGroupings ++ newAggs.flatMap(_.references))
    val pruned = Project(rel.output.filter(refs.contains), filtered)
    Some(Aggregate(newGroupings, newAggs, pruned))
  }
}
