package graft.plans

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.lake.{DistinctMv, IncrementalJoinMv, IncrementalMv, LakeTable, MaterializedView}
import graft.sources.GraftLakeTable

/** AUTOMATIC QUERY REWRITE over materialized views — the read-side
  * half of the MV contract (the refresh laws are the write side): an
  * aggregate over a fact table (or a fact ⋈ dimensions star) is
  * answered from an MV built on it when the MV provably holds the
  * identical answer, without the query mentioning the MV at all. At
  * 100 TB this turns a full fact scan + shuffle into a scan of a
  * table the size of the group-key domain — the reason warehouses
  * build rollups in the first place.
  *
  * Soundness gates (ALL must hold, else the query runs as written):
  *  - the MV's recorded basis VECTOR equals the EXACT snapshots this
  *    scan set would read ([[GraftLakeTable.resolvedSnapshot]] per
  *    relation — a stale MV never serves; a time-travel read rewrites
  *    only when the MV reflects precisely that version; a rewire of
  *    ANY star dimension falls back until refresh); the MV scan
  *    itself is PINNED to the snapshot the basis was read at, so a
  *    concurrent refresh mid-planning cannot smuggle newer data in;
  *  - the aggregate's shape maps onto stored measures — COUNT(*) →
  *    `n`, SUM/AVG by semantic equality of the argument against the
  *    stored definition text (bound under the DEFINITION's session
  *    timezone, so a tz-sensitive measure read under a different
  *    session zone fails the match instead of serving wrong-zone
  *    data, and under the DEFINITION's recorded ANSI regime — a
  *    mode mismatch or a try_sum/try_avg never serves stored sums),
  *    MIN/MAX against the minmax kind's value column; no DISTINCT,
  *    no FILTER clauses; the single kind's derived AVG never maps
  *    (its stored SUM/COUNT(*) law is not bit-identical to Average's
  *    double accumulation) — only the minmax kind's recomputed AVG
  *    does; a join-kind SUM maps only for non-nullable arguments
  *    (the signed fold drives an all-NULL-backed group to 0 where
  *    the defining query yields NULL);
  *  - result types match the stored column types exactly (the single
  *    kind stores bigint sums — a double SUM never maps); output
  *    nullability is repaired with KnownNotNull where the original
  *    was non-nullable (COUNT) and the stored column reads nullable;
  *  - join structure decomposes exactly: the conjunct pool (WHERE
  *    conjuncts wherever the optimizer pushed them + join conditions)
  *    must be expected key equalities, implied IsNotNull(key) terms,
  *    and a residual over group columns only (such predicates commute
  *    with the grouping, so they apply to MV rows unchanged);
  *  - a column name appearing on multiple sides of the star without
  *    being equated by the join vetoes name-based remapping.
  *
  * Two tiers:
  *  - EXACT: query groups = MV groups → a projection of MV rows
  *    (the aggregate disappears entirely);
  *  - ROLLUP: query groups ⊂ MV groups → re-aggregate the MV
  *    (COUNT(*) → SUM(n), SUM → SUM, MIN → MIN, MAX → MAX — the
  *    distributive laws; AVG does not roll up from stored state).
  *    The GLOBAL (no-group) aggregate serves too: SUM/MIN/MAX are
  *    NULL over zero rows on BOTH sides, and COUNT(*)'s zero-row 0
  *    vs SUM(n)'s empty-NULL closes with a Coalesce — the same rule
  *    the fresh state tiers apply.
  *
  * Candidates come from the fact-side `meta/_mv_refs.json` registry
  * ([[MaterializedView.refsOf]]) — O(1) from the scan's own root, no
  * catalog walk on the query path; definition/basis reads are cached
  * by MV head snapshot and the analyzed MV relation by (dir, snap)
  * so fixed-point optimizer iterations cost a head-pointer read, not
  * repeated metadata IO. Disable with `spark.graft.mv.rewrite=false`.
  */
case class MvRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get("spark.graft.mv.rewrite", "true").toBoolean) plan
    else plan.transformDown {
      // metadata races (concurrent DROP of the MV mid-planning) fall
      // back to the plan as written, never fail the query
      case agg: Aggregate => Try(tryRewrite(agg)).toOption.flatten.getOrElse(agg)
    }
  }

  /** One MV that provably answers this scan set: its definition, the
    * residual predicate to commute onto MV rows, the combined
    * fact-first attribute list stored-measure texts bind against,
    * the names a remap must refuse, and the PINNED MV snapshot.
    * `deltaFrom`/`deltaTo` describe a STALE candidate's append-only
    * compensation range ((basis, scanned snapshot]); (-1, -1) marks a
    * fresh candidate (exact/rollup tiers).
    */
  private case class Candidate(mvDir: String, d: MaterializedView.MvDef,
      residual: Option[Expression], bindOut: Seq[Attribute],
      unsafe: Set[String], mvSnap: Int, mvMtime: Long,
      deltaFrom: Int = -1, deltaTo: Int = -1,
      // the join kind's fact relation INSTANCE inside the aggregate's
      // child — the node the compensated tier substitutes with the
      // delta scan (reference identity; self-joins are bailed out)
      factRel: Option[DataSourceV2Relation] = None,
      // the join kind's full axis vector (fact first, dims in
      // definition order) for the delta-join STAIRCASE: one union
      // term per axis whose (basis, snap] gap is append-only
      axes: Seq[JoinAxis] = Nil,
      // the DISTINCT kind's hidden-state pins, captured at
      // VALIDATION time — one (state snapshot, fact basis that
      // snapshot reflects) pair PER distinct measure, aligned with
      // d.distincts; empty when unavailable. State-serving tiers
      // require the used state's basis to equal the candidate's
      // validated fact snapshot and scan it AT the pinned snapshot —
      // re-reading live heads at serve time is a TOCTOU window (see
      // MvBasis.pinned)
      stateInfo: Seq[(Int, Int)] = Nil,
      // the VALIDATED visible basis (single-table kinds: basis.head
      // at candidate creation; == the scanned fact snapshot for a
      // fresh candidate) — what the state pin must match
      factBasis: Int = -1)

  /** One relation of a star scan set: its in-plan instance, lake
    * root, the MV's recorded basis snapshot and the snapshot the
    * query would scan.
    */
  private case class JoinAxis(rel: DataSourceV2Relation, root: String,
      basis: Int, snap: Int)

  /** Peel column-pruning Projects, deterministic Filters and INNER
    * equi-join structure off the aggregate's child down to graft
    * lake scans: every predicate — WHERE conjuncts wherever the
    * optimizer pushed them AND join conditions — lands in one
    * conjunct pool, every relation in one list. Projects may also
    * carry deterministic ALIASED expressions (PullOutGroupingExpressions
    * rewrites `GROUP BY date_trunc(ts)` into a `_groupingexpression`
    * alias below the Aggregate) — those land in the SUBSTITUTION map
    * (alias exprId → its fully-inlined defining expression) so the
    * caller can compare grouping/predicates in base-attribute terms.
    * Anything else (outer joins, non-graft sources, non-deterministic
    * projections/filters) vetoes the rewrite.
    */
  private def flatten(p: LogicalPlan): Option[(Seq[Expression],
      Seq[DataSourceV2Relation], Map[ExprId, Expression])] = p match {
    case Project(pl, c) if pl.forall(e => e.isInstanceOf[AttributeReference] ||
        (e.isInstanceOf[Alias] && e.deterministic)) =>
      flatten(c).map { case (cs, rs, sub) =>
        val sub2 = pl.collect { case al: Alias =>
          al.exprId -> al.child.transformUp {
            case a: AttributeReference if sub.contains(a.exprId) => sub(a.exprId)
          }
        }.toMap
        (cs, rs, sub ++ sub2)
      }
    case Filter(cond, c) if cond.deterministic =>
      flatten(c).map { case (cs, rs, sub) =>
        (cs ++ splitConjunctivePredicates(cond), rs, sub)
      }
    case Join(l, r, org.apache.spark.sql.catalyst.plans.Inner, cond, _) =>
      for { (lc, lr, ls) <- flatten(l); (rc, rr, rs2) <- flatten(r) }
        yield (lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates),
          lr ++ rr, ls ++ rs2)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftLakeTable if t.mvRewritable =>
        Some((Nil, Seq(r), Map.empty))
      case _ => None
    }
    case _ => None
  }

  /** Parse a stored measure-argument text and ANALYZE it against the
    * scan set's own attributes (a LocalRelation carrying the exact
    * exprIds, fact-first — matching how the defining query resolved),
    * so functions, coercions and literals land exactly as the user's
    * analyzed argument did and `semanticEquals` is apples-to-apples.
    * Timezone-SENSITIVE nodes are then re-stamped with the
    * DEFINITION's recorded session zone: a pre-tz definition never
    * matches a tz-sensitive measure, and a zone mismatch fails the
    * comparison instead of serving data materialized under a
    * different clock (tz-neutral casts keep the session stamp so
    * they still match across zones).
    */
  private def resolveStored(text: String, out: Seq[Attribute],
      d: MaterializedView.MvDef): Option[Expression] =
    Try {
      val parsed = spark.sessionState.sqlParser.parseExpression(text)
      val analyzed = spark.sessionState.analyzer.execute(
        Project(Seq(Alias(parsed, "_graft_measure")()), LocalRelation(out)))
      val e = analyzed.asInstanceOf[Project]
        .projectList.head.asInstanceOf[Alias].child
      val tzSensitive = e.exists {
        case c: Cast => c.needsTimeZone
        case _: TimeZoneAwareExpression => true
        case _ => false
      }
      if (!tzSensitive) Some(e)
      else if (d.tz.isEmpty) None
      else Some(e.transformUp {
        case c: Cast if !c.needsTimeZone => c
        case t: TimeZoneAwareExpression => t.withTimeZone(d.tz)
      })
    }.toOption.flatten.filter(_.resolved)

  // the expression simplifications the operator-optimization batch
  // applies inside aggregate arguments — the user's expression may
  // reach the rule in SIMPLIFIED form (coalesce over a non-nullable
  // column elided, literal casts folded), so the stored text must be
  // comparable at the same fixed point
  private val exprSimplifyRules: Seq[Rule[LogicalPlan]] = Seq(
    org.apache.spark.sql.catalyst.optimizer.NullPropagation,
    org.apache.spark.sql.catalyst.optimizer.ConstantFolding,
    org.apache.spark.sql.catalyst.optimizer.SimplifyConditionals,
    org.apache.spark.sql.catalyst.optimizer.SimplifyCasts,
    org.apache.spark.sql.catalyst.optimizer.BooleanSimplification,
    org.apache.spark.sql.catalyst.optimizer.ReorderAssociativeOperator)

  /** The expression-simplification fixed point of `e` over the scan
    * attributes — what the optimizer would have rewritten the user's
    * copy of the same expression into.
    */
  private def simplified(e: Expression, out: Seq[Attribute]): Expression = {
    var p: LogicalPlan = Project(Seq(Alias(e, "_graft_simplified")()),
      LocalRelation(out))
    var changed = true
    var i = 0
    while (changed && i < 5) {
      val n = exprSimplifyRules.foldLeft(p)((acc, r) =>
        Try(r(acc)).getOrElse(acc))
      changed = !(n fastEquals p); p = n; i += 1
    }
    p match {
      case Project(Seq(a: Alias), _) => a.child
      case _ => e
    }
  }

  /** Stored-vs-user measure-argument equality: the analyzed stored
    * form OR its simplification fixed point must match (the rule
    * runs inside the fixed-point batch, so the user's copy may be
    * seen in either state).
    */
  private def storedMatches(txt: String, userChild: Expression,
      bindOut: Seq[Attribute], d: MaterializedView.MvDef)
      (extraGate: Expression => Boolean = _ => true): Boolean =
    resolveStored(txt, bindOut, d).exists { se =>
      extraGate(se) && (se.semanticEquals(userChild) ||
        simplified(se, bindOut).semanticEquals(userChild))
    }

  /** Session-aware name equality (spark.sql.caseSensitive): a
    * case-insensitive match under a case-sensitive session could
    * silently rebind a predicate or group to a DIFFERENT column.
    */
  private def sameName(a: String, b: String): Boolean =
    spark.sessionState.conf.resolver(a, b)

  /** The session-aware canonical form for name-keyed sets. */
  private def canon(n: String): String =
    if (spark.sessionState.conf.caseSensitiveAnalysis) n else n.toLowerCase

  /** Whether the reading session's SUM/AVG regime matches the one the
    * MV was materialized under — overflow/error semantics differ by
    * ANSI mode, so a regime mismatch (or a pre-ansi definition) never
    * serves stored sums/averages.
    */
  private def ansiMatches(d: MaterializedView.MvDef): Boolean =
    d.ansi == spark.sessionState.conf.ansiEnabled.toString

  /** The MV column a user aggregate function maps to, or None.
    * Only the DEFAULT `sum` function maps (try_sum carries different
    * overflow semantics than the stored fold); the single kind's
    * derived AVG never maps (stored exact-bigint-sum / n is not
    * bit-identical to Average's double accumulation at precision
    * edges) — only the minmax kind's avg(expr)-recomputed column is.
    */
  private def measureCol(fn: AggregateFunction, d: MaterializedView.MvDef,
      bindOut: Seq[Attribute]): Option[String] = fn match {
    case Count(Seq(Literal(v, _))) if v != null =>
      Some(IncrementalJoinMv.CountCol) // COUNT(*) analyzes to COUNT(1)
    case s: Sum if s.prettyName == "sum" && ansiMatches(d) =>
      d.sums.collectFirst {
        // the JOIN and DISTINCT kinds' signed folds drive a group's
        // sum to 0 where the defining query yields NULL (all remaining
        // values NULL) — provably identical only for non-nullable
        // arguments there (SUM(COALESCE(x, 0)) is the sound shape)
        case (nm, txt) if storedMatches(txt, s.child, bindOut, d)(se =>
          (d.kind != "join" && d.kind != "distinct") || !se.nullable) => nm
      }
    case a: Average if a.prettyName == "avg" && d.kind == "minmax" &&
        ansiMatches(d) =>
      d.avgs.collectFirst {
        case (nm, txt) if storedMatches(txt, a.child, bindOut, d)() => nm
      }
    case m: Min => m.child match {
      case ar: AttributeReference
          if d.kind == "minmax" && sameName(ar.name, d.value) =>
        Some(d.minName)
      case _ => None
    }
    case m: Max => m.child match {
      case ar: AttributeReference
          if d.kind == "minmax" && sameName(ar.name, d.value) =>
        Some(d.maxName)
      case _ => None
    }
    case _ => None
  }

  // (mvDir, head snapshot, definition-file mtime) → (definition,
  // basis vector): immutable once a head exists FOR ONE INCARNATION
  // of the MV — the mtime fingerprint keeps a DROP + re-CREATE at
  // the same path (same small snapshot ids!) from serving the old
  // definition. Fixed-point iterations and repeated queries pay one
  // head-pointer read + one stat instead of note walks.
  private val stateCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long),
    (MaterializedView.MvDef, Seq[Int], Seq[(Int, Int)])]

  /** The MV's (head, incarnation, definition, basis vector, distinct
    * state pin) read atomically: the head is re-checked after the
    * derivation, so the returned basis describes exactly the snapshot
    * [[mvScan]] will pin — a refresh committing mid-read makes the
    * candidate drop out, never serve data newer than the fact scan it
    * was validated against. The distinct kind's state pin is its own
    * consistent (state snapshot → fact basis) pair; caching it is
    * sound because manifests are immutable — the pinned state
    * snapshot's CONTENT reflects that basis forever, regardless of
    * later state commits.
    */
  private def defBasisAt(mvDir: String)
      : Option[(Int, Long, MaterializedView.MvDef, Seq[Int],
        Seq[(Int, Int)])] = Try {
    val head = LakeTable.currentSnapshot(mvDir)
    val mtime = MaterializedView.defMtime(mvDir)
    val cached = stateCache.get((mvDir, head, mtime))
    val (d, basis, stInfo) =
      if (cached != null) cached
      else {
        val d0 = MaterializedView.readDef(mvDir)
        // HLL distinct MVs are NEVER rewrite candidates: their
        // distinct column is an ESTIMATE, and every tier here
        // substitutes for an exact aggregate — the sketch view
        // answers only when queried by name (the warehouse
        // sketch-table contract)
        if (d0.kind == "distinct" && d0.distinctKind == "hll") return None
        val b = MaterializedView.basisOf(d0, mvDir)._1
        val si =
          if (d0.kind == "distinct" && d0.distinctKind == "bitmap")
            graft.lake.BitmapDistinctMv.stateBasisPinned(mvDir).toSeq
          else if (d0.kind == "distinct")
            DistinctMv.stateBasisPinnedAll(mvDir, d0.distincts.size)
              .getOrElse(Nil)
          else Nil
        if (LakeTable.currentSnapshot(mvDir) != head ||
          MaterializedView.defMtime(mvDir) != mtime) return None
        if (stateCache.size > 256) stateCache.clear()
        stateCache.put((mvDir, head, mtime), (d0, b, si))
        (d0, b, si)
      }
    (head, mtime, d, basis, stInfo)
  }.toOption

  /** The NamedExpression with pulled-out aliases inlined, top-level
    * name/exprId preserved (output pinning must survive the inline).
    */
  private def substituteNamed(subst: Map[ExprId, Expression],
      ne: NamedExpression): NamedExpression =
    if (subst.isEmpty) ne
    else ne match {
      case a: AttributeReference if subst.contains(a.exprId) =>
        Alias(subst(a.exprId), a.name)(exprId = a.exprId,
          qualifier = a.qualifier)
      case al: Alias =>
        val c2 = al.child.transformUp {
          case a: AttributeReference if subst.contains(a.exprId) =>
            subst(a.exprId)
        }
        Alias(c2, al.name)(exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata,
          nonInheritableMetadataKeys = al.nonInheritableMetadataKeys)
      case other => other
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (conds0, rels, subst) = flatten(agg.child).getOrElse(return None)
    if (rels.isEmpty) return None
    if (agg.groupingExpressions.exists(!_.deterministic)) return None
    // inline pulled-out aliases so grouping/predicates compare in
    // base-attribute terms (identity when the subtree had none)
    def substitute(e: Expression): Expression =
      if (subst.isEmpty) e
      else e.transformUp {
        case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
      }
    val conds = conds0.map(substitute)
    val groupSub = agg.groupingExpressions.map(substitute)
    // plain-attribute grouping feeds the column-mapped tiers; an
    // EXPRESSION grouping (GROUP BY date_trunc(ts)) can still be
    // served by an expression-group MV below
    val groupAttrsOpt: Option[Seq[AttributeReference]] = {
      val as = groupSub.collect { case a: AttributeReference => a }
      if (as.size == groupSub.size &&
        as.map(_.exprId).distinct.size == as.size) Some(as) else None
    }
    val roots = rels.map(_.table.asInstanceOf[GraftLakeTable].root)
    if (roots.distinct.size != roots.size) return None // self-joins: bail
    val refs = roots.flatMap(MaterializedView.refsOf).distinct
    if (refs.isEmpty) return None
    // outer-reference guard: every attribute the aggregate's outputs,
    // grouping and predicates mention must belong to the flattened
    // scan set — a correlated/outer attribute that merely SHARES A
    // NAME with an MV column must never be rebound to it
    val availIds = rels.flatMap(_.output).map(_.exprId).toSet
    // the substituted output list is shared by the reference guard
    // and every tier — build it ONCE per rule invocation
    val outs = agg.aggregateExpressions.map(substituteNamed(subst, _))
    val referenced = (outs.flatMap(_.references) ++
      groupSub.flatMap(_.references) ++
      conds.flatMap(_.references)).map(_.exprId)
    if (!referenced.forall(availIds.contains)) return None
    val staleOk =
      spark.conf.get("spark.graft.mv.rewrite.stale", "true").toBoolean
    // EXPRESSION-GROUP candidates (single-kind MVs whose group
    // includes derived bucket columns) — fresh, or append-only stale
    val exprCands: Seq[Candidate] =
      if (rels.size != 1) Nil
      else {
        val table = rels.head.table.asInstanceOf[GraftLakeTable]
        val snap = table.resolvedSnapshot
        refs.flatMap { mvDir =>
          defBasisAt(mvDir).flatMap {
            case (head, mtime, d, basis, si)
                if (d.kind == "single" || d.kind == "minmax" ||
                  d.kind == "distinct") &&
                  d.groupExprs.nonEmpty && d.fact == table.root =>
              if (basis == Seq(snap))
                Some(Candidate(mvDir, d, conds.reduceOption(And),
                  rels.head.output, Set.empty, head, mtime,
                  stateInfo = si, factBasis = basis.head))
              else if (staleOk &&
                  (d.kind != "distinct" ||
                    (si.nonEmpty && si.forall(_._2 == basis.head))) &&
                  basis.head < snap &&
                  appendOnlyCached(d.fact, basis.head, snap))
                // the daily rollup right after an ingest batch: the
                // bucket re-derives over the delta rows at read time
                // (the distinct kind additionally needs its state
                // pins aligned — it compensates from the state)
                Some(Candidate(mvDir, d, conds.reduceOption(And),
                  rels.head.output, Set.empty, head, mtime,
                  deltaFrom = basis.head, deltaTo = snap,
                  stateInfo = si, factBasis = basis.head))
              else None
            case _ => None
          }
        }
      }
    // expression-group JOIN MVs (time-bucketed stars): FRESH-basis
    // candidates for the dedicated expression tier — the stored
    // bucket text matches the query's grouping expression whole-node
    // over the flattened star output; never the column-mapped tiers
    val exprJoinCands: Seq[Candidate] =
      if (rels.size == 1) Nil
      else refs.flatMap { mvDir =>
        defBasisAt(mvDir).filter(x =>
          x._3.kind == "join" && x._3.groupExprs.nonEmpty).flatMap {
          case (head, mtime, d, basis, _) =>
            matchJoin(d, conds, rels).flatMap {
              case (residual, bindOut, unsafe, factRel, dimRels, snaps) =>
                lazy val roots = d.fact +: d.joinDims.map(_.root)
                if (basis == snaps)
                  Some(Candidate(mvDir, d, residual, bindOut, unsafe,
                    head, mtime))
                else if (staleOk && basis.size == snaps.size &&
                    basis.zip(snaps).forall { case (b, sn) =>
                      b >= 1 && b <= sn } &&
                    roots.zip(basis.zip(snaps)).forall {
                      case (r, (b, sn)) =>
                        b == sn || appendOnlyCached(r, b, sn) })
                  // the time-bucketed star right after an ingest batch
                  // (on ANY axis subset): the staircase terms re-derive
                  // the bucket over the joined delta rows at read time
                  Some(Candidate(mvDir, d, residual, bindOut, unsafe,
                    head, mtime, factRel = Some(factRel),
                    axes = (factRel +: dimRels).zip(roots)
                      .zip(basis.zip(snaps)).map {
                        case ((rel, r), (b, sn)) => JoinAxis(rel, r, b, sn)
                      }))
                else None
            }
        }
      }
    // every tier maps the SUBSTITUTED outputs: a renamed subquery
    // output (Alias over a different base column) must bind to the MV
    // column of its MEANING, never of its surface name — the top-level
    // alias keeps the original name/exprId so parents resolve
    def exprServed: Option[LogicalPlan] =
      (exprCands ++ exprJoinCands)
        .sortBy(c => if (c.deltaFrom >= 0 || c.axes.nonEmpty) 1 else 0)
        .view.flatMap(rewriteExprGroup(agg, _, groupSub, outs)).headOption
    val groupAttrs = groupAttrsOpt.getOrElse(return exprServed)
    val matched: Seq[Candidate] =
      if (rels.size == 1) {
        val table = rels.head.table.asInstanceOf[GraftLakeTable]
        val snap = table.resolvedSnapshot
        refs.flatMap { mvDir =>
          defBasisAt(mvDir).flatMap {
            case (head, mtime, d, basis, si)
                if (d.kind == "single" || d.kind == "minmax" ||
                  d.kind == "distinct") &&
                  // the registry is advisory: verify the DEFINITION
                  // really names this fact (a re-created MV at the
                  // same path may cover a different table)
                  d.fact == table.root &&
                  // expression-group MVs never serve: their group
                  // aliases are not fact columns, and a fact column
                  // that merely shares an alias's name must not bind
                  d.groupExprs.isEmpty =>
              if (basis == Seq(snap))
                Some(Candidate(mvDir, d, conds.reduceOption(And),
                  rels.head.output, Set.empty, head, mtime,
                  stateInfo = si, factBasis = basis.head))
              else if (staleOk &&
                  (d.kind != "distinct" ||
                    (si.nonEmpty && si.forall(_._2 == basis.head))) &&
                  basis.head < snap &&
                  appendOnlyCached(d.fact, basis.head, snap))
                // STALE but compensable: the gap is pure appends, so
                // MV rows ⊎ the tail's per-row contributions fold to
                // exactly the head answer (the refresh law, at read).
                // The distinct kind cannot fold from its VISIBLE
                // per-group counts (a delta key may already be
                // counted) — but it compensates EXACTLY from the
                // hidden (group, key) state: distinct keys of
                // state@basis ∪ Δ-file keys per group. Admitted only
                // when the state pin reflects the basis exactly (a
                // crash between the two refresh commits leaves it
                // ahead — serving it would leak).
                Some(Candidate(mvDir, d, conds.reduceOption(And),
                  rels.head.output, Set.empty, head, mtime,
                  deltaFrom = basis.head, deltaTo = snap,
                  stateInfo = si, factBasis = basis.head))
              else None
            case _ => None
          }
        }
      } else {
        refs.flatMap { mvDir =>
          // expression-group join MVs never serve the COLUMN-MAPPED
          // tiers (their group aliases are not base columns, and a
          // base column merely sharing an alias's name must not
          // bind) — they serve the dedicated expression tier above
          defBasisAt(mvDir).filter(x =>
            x._3.kind == "join" && x._3.groupExprs.isEmpty).flatMap {
            case (head, mtime, d, basis, _) =>
              matchJoin(d, conds, rels).flatMap {
                case (residual, bindOut, unsafe, factRel, dimRels, snaps) =>
                  lazy val roots = d.fact +: d.joinDims.map(_.root)
                  if (basis == snaps)
                    Some(Candidate(mvDir, d, residual, bindOut, unsafe,
                      head, mtime))
                  else if (staleOk && basis.size == snaps.size &&
                      basis.zip(snaps).forall { case (b, sn) =>
                        b >= 1 && b <= sn } &&
                      roots.zip(basis.zip(snaps)).forall {
                        case (r, (b, sn)) =>
                          b == sn || appendOnlyCached(r, b, sn) })
                    // append-only star staleness on ANY axis set
                    // (fact ingest, late-arriving dimension rows, or
                    // both): the delta-join STAIRCASE folds MV rows
                    // with one term per moved axis at read time
                    Some(Candidate(mvDir, d, residual, bindOut, unsafe,
                      head, mtime, factRel = Some(factRel),
                      axes = (factRel +: dimRels).zip(roots)
                        .zip(basis.zip(snaps)).map {
                          case ((rel, r), (b, sn)) => JoinAxis(rel, r, b, sn)
                        }))
                  else None
              }
          }
        }
      }
    if (matched.isEmpty && exprCands.isEmpty && exprJoinCands.isEmpty)
      return None
    val (stale, fresh) = matched.partition(c => c.deltaFrom >= 0 || c.axes.nonEmpty)
    fresh.view.flatMap(rewriteExact(outs, groupAttrs, _)).headOption
      .orElse(fresh.view.flatMap(rewriteRollup(outs, groupAttrs, _)).headOption)
      // a group-SUBSET COUNT(DISTINCT) cannot roll up from per-group
      // counts — but it CAN re-aggregate the distinct kind's hidden
      // (group, key) STATE table (state-sized, not fact-sized)
      .orElse(fresh.view.flatMap(
        rewriteDistinctStateRollup(outs, groupAttrs, _)).headOption)
      // … and the BITMAP kind's words OR across grouped-away values
      .orElse(fresh.view.flatMap(
        rewriteBitmapStateRollup(outs, groupAttrs, _)).headOption)
      // a plain-column subset of an expression-group MV's grouping
      // still rolls up from it (GROUP BY site over the (day, site) MV)
      .orElse(exprServed)
      .orElse(stale.view.flatMap { c =>
        if (c.d.kind == "join")
          rewriteCompensatedJoin(agg, outs, groupAttrs, c)
        else if (c.d.kind == "distinct" && c.d.distinctKind == "bitmap")
          rewriteBitmapCompensated(outs, groupAttrs, c)
        else if (c.d.kind == "distinct")
          rewriteDistinctCompensated(outs, groupAttrs, c)
        else rewriteCompensated(outs, groupAttrs, c)
      }.headOption)
  }

  /** Match a join-kind MV against the flattened scan set: exactly
    * one relation is the MV's fact, the rest biject onto its
    * dimensions by root, and the conjunct pool decomposes into
    *  (a) the expected key equalities (every (fact.k = dim.k) pair
    *      of every dimension, either orientation, all present),
    *  (b) IsNotNull on join-key attributes (implied by the inner
    *      equi-join — tautological on MV rows), and
    *  (c) a residual the caller must commute onto group columns.
    * Returns (residual, fact-first binding output, unsafe names,
    * fact relation, resolved snapshot vector fact-first) — the
    * CALLER pins freshness against the snapshot vector (equal to the
    * basis → fresh; fact-behind with every dim equal over an
    * append-only gap → compensable). A name is UNSAFE when it appears on more than one side and any holder is
    * NOT equated to the fact by its own dimension's keys (a dim
    * column that merely shares a name with another dim's join key is
    * still vetoed — the exemption is per equated pair, not global).
    */
  private def matchJoin(d: MaterializedView.MvDef,
      conds: Seq[Expression], rels: Seq[DataSourceV2Relation])
      : Option[(Option[Expression], Seq[Attribute], Set[String],
        DataSourceV2Relation, Seq[DataSourceV2Relation], Seq[Int])] = {
    val byRoot = rels.map(r =>
      r.table.asInstanceOf[GraftLakeTable].root -> r).toMap
    val factRel = byRoot.getOrElse(d.fact, return None)
    val dimSpecs = d.joinDims
    if (dimSpecs.map(_.root).distinct.size != dimSpecs.size) return None
    val dimRels = dimSpecs.map(ds => byRoot.getOrElse(ds.root, return None))
    if (rels.size != 1 + dimSpecs.size) return None
    val snaps = (factRel +: dimRels)
      .map(_.table.asInstanceOf[GraftLakeTable].resolvedSnapshot)
    // expected key-equality pairs, by exprId
    def attrOf(rel: DataSourceV2Relation, name: String): Option[Attribute] =
      rel.output.find(a => sameName(a.name, name))
    val pairs: Seq[(Attribute, Attribute)] = dimSpecs.zip(dimRels).flatMap {
      case (ds, dr) => ds.keys.map { k =>
        (attrOf(factRel, k).getOrElse(return None),
          attrOf(dr, k).getOrElse(return None))
      }
    }
    val pairIds = pairs.map { case (a, b) => Set(a.exprId, b.exprId) }
    val keyIds = pairIds.flatten.toSet
    val covered = scala.collection.mutable.Set.empty[Set[ExprId]]
    val residual = Seq.newBuilder[Expression]
    conds.foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if pairIds.contains(Set(a.exprId, b.exprId)) =>
        covered += Set(a.exprId, b.exprId)
      case IsNotNull(a: AttributeReference) if keyIds.contains(a.exprId) =>
        () // implied by the inner equi-join
      case other => residual += other
    }
    if (covered.size != pairIds.distinct.size) return None // a key missing
    // per-holder equation audit for name-based remapping
    val holders: Seq[(String, Boolean)] =
      factRel.output.map(a => canon(a.name) -> true) ++
        dimSpecs.zip(dimRels).flatMap { case (ds, dr) =>
          val ks = ds.keys.map(canon).toSet
          dr.output.map(a => canon(a.name) -> ks.contains(canon(a.name)))
        }
    val unsafe = holders.groupBy(_._1).collect {
      case (nm, hs) if hs.size > 1 && !hs.forall(_._2) => nm
    }.toSet
    Some((residual.result().reduceOption(And),
      factRel.output ++ dimRels.flatMap(_.output), unsafe, factRel,
      dimRels, snaps))
  }

  // (mvDir, snapshot, definition-file mtime) → analyzed DSv2
  // relation (the mtime guards against a re-created MV at the same
  // path); each use gets a newInstance() so exprIds never collide
  // across (or within) plans
  private val scanCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long), DataSourceV2Relation]

  /** An analyzed DSv2 scan of the MV PINNED at the basis-validated
    * snapshot — the same relation a catalog read resolves to
    * (manifest-stats pushdown, reported statistics for broadcast
    * decisions). ExprIds are fresh per use; the rewrite's output
    * aliases pin the ORIGINAL ids, so parents — HAVING, ORDER BY —
    * resolve unchanged.
    */
  private def mvScan(mvDir: String, snap: Int, mtime: Long): Option[LogicalPlan] = {
    val cached = scanCache.get((mvDir, snap, mtime))
    if (cached != null) Some(cached.newInstance())
    else Try(spark.read.format("graft-lake").option("snapshot", snap.toString)
        .load(mvDir).queryExecution.analyzed).toOption.map {
      case r: DataSourceV2Relation =>
        if (scanCache.size > 64) scanCache.clear()
        scanCache.put((mvDir, snap, mtime), r)
        r.newInstance()
      case other => other // unexpected shape: usable once, uncached
    }
  }

  /** Remap a base-attribute predicate onto MV attributes, iff every
    * referenced column is an MV group column of identical type and
    * unambiguous in the scan set.
    */
  private def remapCond(cond: Option[Expression], d: MaterializedView.MvDef,
      mvOut: Seq[Attribute], unsafe: Set[String],
      extraGroups: Set[String] = Set.empty): Option[Option[Expression]] = {
    val groupSet = d.group.map(canon).toSet ++ extraGroups
    cond match {
      case None => Some(None)
      case Some(c) =>
        if (!c.references.forall(a => groupSet.contains(canon(a.name)) &&
            !unsafe.contains(canon(a.name))))
          return None
        var ok = true
        val mapped = c.transformUp {
          case a: AttributeReference =>
            mvOut.find(m => sameName(m.name, a.name) &&
              m.dataType == a.dataType) match {
              case Some(m) => m
              case None => ok = false; a
            }
        }
        if (ok) Some(Some(mapped)) else None
    }
  }

  /** Map an aggregate-output expression onto the MV: aggregate
    * functions via `mapAgg`, grouping attributes via `mapAttr`,
    * scalar structure (casts, arithmetic, string ops over either)
    * preserved around them. Any leaf neither handler accepts — a
    * non-group base column outside an aggregate, a DISTINCT/FILTER
    * aggregate, an unstored measure — vetoes the whole rewrite.
    */
  private def mapExpr(e: Expression,
      mapAgg: AggregateExpression => Option[Expression],
      mapAttr: AttributeReference => Option[Expression],
      mapNode: Expression => Option[Expression] = _ => None): Option[Expression] =
    mapNode(e).map(Some(_)).getOrElse(e match {
      case ae: AggregateExpression => mapAgg(ae)
      case a: AttributeReference => mapAttr(a)
      case other =>
        val kids = other.children.map(mapExpr(_, mapAgg, mapAttr, mapNode))
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    })

  /** The full output list mapped via [[mapExpr]], original exprIds
    * pinned so parents (HAVING, ORDER BY) resolve unchanged. Where
    * the original output was non-nullable (COUNT) but the stored
    * column reads nullable (parquet), the mapped expression is
    * wrapped in KnownNotNull — the refresh laws keep those columns
    * populated, and parents hold attribute copies whose nullability
    * must stay truthful.
    */
  private def mapOutputs(outs: Seq[NamedExpression],
      mapAgg: AggregateExpression => Option[Expression],
      mapAttr: AttributeReference => Option[Expression],
      mapNode: Expression => Option[Expression] = _ => None)
      : Option[Seq[NamedExpression]] = {
    def pin(m: Expression, origNullable: Boolean): Expression =
      if (m.nullable && !origNullable) KnownNotNull(m) else m
    val mapped = outs.map {
      case a: AttributeReference =>
        mapAttr(a).map(m => Alias(pin(m, a.nullable), a.name)(
          exprId = a.exprId, qualifier = a.qualifier))
      case al: Alias =>
        mapExpr(al.child, mapAgg, mapAttr, mapNode)
          .map(m => Alias(pin(m, al.child.nullable), al.name)(
            exprId = al.exprId, qualifier = al.qualifier))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None else Some(mapped.map(_.get))
  }

  /** EXACT tier: same grouping → project MV rows 1:1. */
  private def rewriteExact(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    val qg = groupAttrs.map(a => canon(a.name))
    if (qg.toSet != c.d.group.map(canon).toSet ||
      qg.size != c.d.group.size) return None
    if (qg.exists(c.unsafe.contains)) return None
    val mv = mvScan(c.mvDir, c.mvSnap, c.mvMtime).getOrElse(return None)
    def mvAttr(n: String) = mv.output.find(m => sameName(m.name, n))
    val cond2 = remapCond(c.residual, c.d, mv.output, c.unsafe)
      .getOrElse(return None)
    val groupSet = qg.toSet
    val projList = mapOutputs(outs,
      mapAgg = {
        // the DISTINCT kind's headline measure: COUNT(DISTINCT x)
        // over the fact maps to the stored live-key count exactly
        // when x IS the definition's distinct column — the one
        // aggregate shape every other tier must veto
        case ae @ AggregateExpression(
            Count(Seq(ar: AttributeReference)), Complete, true, None, _)
            if c.d.kind == "distinct" &&
              c.d.distincts.exists(x => sameName(ar.name, x._1)) =>
          c.d.distincts.collectFirst {
            case (col0, nm) if sameName(ar.name, col0) => nm
          }.flatMap(mvAttr).filter(_.dataType == ae.dataType)
        case ae @ AggregateExpression(fn, Complete, false, None, _) =>
          measureCol(fn, c.d, c.bindOut).flatMap(mvAttr)
            .filter(_.dataType == ae.dataType)
        case _ => None
      },
      mapAttr = a =>
        if (groupSet.contains(canon(a.name)) &&
            !c.unsafe.contains(canon(a.name)))
          mvAttr(a.name).filter(_.dataType == a.dataType)
        else None).getOrElse(return None)
    Some(Project(projList, cond2.map(Filter(_, mv)).getOrElse(mv)))
  }

  /** ROLLUP tier: group subset → re-aggregate the MV by the
    * distributive laws. The filter may reference ANY MV group column
    * (grouped-away dimensions included — `WHERE ub = 1 GROUP BY
    * event_type` over an (event_type, ub) MV is the classic slice).
    * The GLOBAL (no-group) aggregate serves too (r18): SUM/MIN/MAX
    * over zero rows are NULL on the fact and NULL over an empty MV —
    * the semantics already match — and the one mismatch, COUNT(*)'s
    * zero-row 0 vs SUM(n)'s NULL, closes with a Coalesce.
    */
  private def rewriteRollup(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = c.d.group.map(canon).toSet
    if (!qg.forall(mg.contains) || qg.toSet == mg) return None
    if (qg.exists(c.unsafe.contains)) return None
    val mv = mvScan(c.mvDir, c.mvSnap, c.mvMtime).getOrElse(return None)
    def mvAttr(n: String) = mv.output.find(m => sameName(m.name, n))
    val cond2 = remapCond(c.residual, c.d, mv.output, c.unsafe)
      .getOrElse(return None)
    val groupMv = groupAttrs.map(a =>
      mvAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val groupSet = qg.toSet
    val aggExprs = mapOutputs(outs,
      mapAgg = {
        case ae @ AggregateExpression(fn, Complete, false, None, _) =>
          val rolled: Option[AggregateFunction] = fn match {
            case Count(Seq(Literal(v, _))) if v != null =>
              mvAttr(IncrementalJoinMv.CountCol).map(new Sum(_))
            case s: Sum =>
              measureCol(s, c.d, c.bindOut).flatMap(mvAttr).map(new Sum(_))
            case m: Min =>
              measureCol(m, c.d, c.bindOut).flatMap(mvAttr).map(Min(_))
            case m: Max =>
              measureCol(m, c.d, c.bindOut).flatMap(mvAttr).map(Max(_))
            case _ => None // AVG does not roll up from stored state
          }
          rolled.filter(_.dataType == ae.dataType)
            .map(f => ae.copy(aggregateFunction = f))
            .map { agg =>
              fn match {
                // global COUNT(*) over zero rows is 0, never NULL
                case Count(_) if qg.isEmpty =>
                  Coalesce(Seq(agg, Literal(0L)))
                case _ => agg
              }
            }
        case _ => None
      },
      mapAttr = a =>
        if (groupSet.contains(canon(a.name)) &&
            !c.unsafe.contains(canon(a.name)))
          mvAttr(a.name).filter(_.dataType == a.dataType)
        else None).getOrElse(return None)
    Some(Aggregate(groupMv, aggExprs,
      cond2.map(Filter(_, mv)).getOrElse(mv), None))
  }

  /** STATE-ROLLUP tier for the DISTINCT kind — the hidden
    * (group, key) state served as a relation in its own right, two
    * query shapes:
    *
    *  - GROUP SUBSET: a strict group-subset query with
    *    COUNT(DISTINCT x) cannot roll up from the visible per-group
    *    counts (a key may live under several grouped-away values) —
    *    but it re-aggregates EXACTLY from the state: state rows are
    *    distinct (groups, x) tuples, so `COUNT(DISTINCT x) GROUP BY
    *    g₁` = Count(DISTINCT x) over state rows, `COUNT(*)` =
    *    SUM(multiplicity), `SUM(e)` = SUM(partial).
    *  - STATE GRAIN (r18): a query grouping BY the distinct key
    *    itself (`GROUP BY g…, x` with the non-key groups ⊆ MV
    *    groups — per-user event counts/sums being the canonical
    *    shape) is answered by the state DIRECTLY: the state IS the
    *    (groups, key) rollup the view's maintenance already pays
    *    for. COUNT(*) = SUM(multiplicity), SUM(e) = SUM(partial),
    *    and a COUNT(DISTINCT x) output degenerates to the grouped
    *    key's own 1/0.
    *
    * At 100 TB both run over the (group × key)-domain-sized state —
    * the dedup'd key space — never the fact. Soundness gates: the
    * candidate is FRESH (visible basis == scanned snapshot) AND its
    * VALIDATION-TIME state pin reflects exactly that basis, with the
    * state scan pinned at the pin's snapshot — comparing LIVE heads
    * here instead would be a TOCTOU (a refresh committing between
    * candidate validation and this tier advances both bases
    * together; the live comparison passes and newer state rows leak
    * into a read pinned at the older fact snapshot).
    */
  private def rewriteDistinctStateRollup(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.types.LongType
    val d = c.d
    if (d.kind != "distinct" || d.distinctKind == "bitmap") return None
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = d.group.map(canon).toSet
    if (qg.distinct.size != qg.size) return None
    if (qg.exists(c.unsafe.contains)) return None
    // the state to serve from: a distinct KEY named in the grouping
    // OR the residual picks its state (the state-grain shape — the
    // key is a state grouping column, so grouping and filtering by
    // it both commute); otherwise the ONE distinct measure the query
    // uses (n/SUM-only subsets are the plain rollup tier's job; two
    // different distinct columns would need two states in one plan)
    val resRefs: Set[String] = c.residual
      .map(_.references.map(a => canon(a.name)).toSet).getOrElse(Set.empty)
    val keyIdxs = d.distincts.zipWithIndex.collect {
      case ((c0, _), i)
          if qg.contains(canon(c0)) || resRefs.contains(canon(c0)) => i
    }
    val dIdx = keyIdxs match {
      case Seq(i) =>
        if (!qg.filterNot(_ == canon(d.distincts(i)._1))
          .forall(mg.contains)) return None
        i
      case Seq() =>
        if (!qg.forall(mg.contains) || qg.toSet == mg) return None
        usedDistinctIndex(outs, d).getOrElse(return None)
      case _ => return None
    }
    val stRoot = graft.lake.DistinctMv.stateRoot(c.mvDir, dIdx)
    val (stSnap, stBasis) = c.stateInfo.lift(dIdx).getOrElse(return None)
    if (c.factBasis < 0 || stBasis != c.factBasis) return None
    val dCol = d.distincts(dIdx)._1
    val st = mvScan(stRoot, stSnap, c.mvMtime).getOrElse(return None)
    def stAttr(n: String) = st.output.find(m => sameName(m.name, n))
    // the key is a state GROUPING column: filters on it commute
    // through the (groups, key)-grain aggregation like group filters
    val cond2 = remapCond(c.residual, d, st.output, c.unsafe,
      extraGroups = Set(canon(dCol))).getOrElse(return None)
    val groupSt = groupAttrs.map(a =>
      stAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val groupSet = qg.toSet
    val cnt = stAttr(graft.lake.DistinctMv.CntCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    val aggExprs = mapOutputs(outs,
      mapAgg = {
        case ae @ AggregateExpression(fn, Complete, isDistinct, None, _) =>
          val rolled: Option[AggregateFunction] = fn match {
            // COUNT(DISTINCT x) over the fact = COUNT(DISTINCT x)
            // over state rows (distinct tuples by construction)
            case Count(Seq(ar: AttributeReference))
                if isDistinct && sameName(ar.name, dCol) =>
              stAttr(dCol).map(sa => Count(Seq(sa)))
            case Count(Seq(Literal(v, _))) if !isDistinct && v != null =>
              Some(new Sum(cnt))
            case s: Sum if !isDistinct =>
              measureCol(s, d, c.bindOut).flatMap(stAttr).map(new Sum(_))
            case _ => None
          }
          rolled.filter(_.dataType == ae.dataType)
            .map(f => ae.copy(aggregateFunction = f))
            .map { agg =>
              fn match {
                // the GLOBAL COUNT(*) is 0 over zero rows, but
                // Sum(cnt) over an empty state is NULL — Coalesce
                // closes the one mismatch (COUNT(DISTINCT) maps to a
                // real Count, which is already 0 on empty; SUM's
                // empty-NULL matches the fact's)
                case Count(Seq(Literal(_, _))) if qg.isEmpty =>
                  Coalesce(Seq(agg, Literal(0L)))
                case _ => agg
              }
            }
        case _ => None
      },
      mapAttr = a =>
        if (groupSet.contains(canon(a.name)) &&
            !c.unsafe.contains(canon(a.name)))
          stAttr(a.name).filter(_.dataType == a.dataType)
        else None).getOrElse(return None)
    Some(Aggregate(groupSt.map(a => a: Expression), aggExprs,
      cond2.map(Filter(_, st)).getOrElse(st), None))
  }

  /** The shared tail of the BITMAP tiers: a two-level aggregate over
    * (group…, widx, word) rows. Inner, per (query groups, widx):
    * sentinel counts SUM, bit words OR — bit_or is ASSOCIATIVE ACROSS
    * GROUPED-AWAY DIMENSIONS and across state ∪ delta sides, which is
    * what makes both subset rollup and append compensation EXACT for
    * this kind. Outer, per query group: `COUNT(DISTINCT x)` =
    * Σ bit_count(or-word) over word rows, `COUNT(*)` = Σ sentinel.
    * At 100 TB both aggregates run over O(groups × domain/64) word
    * rows (+ the delta), never the fact.
    */
  private def bitmapTwoLevel(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate,
      groupIn: Seq[Attribute], widx: Attribute, word: Attribute,
      child: LogicalPlan): Option[LogicalPlan] = {
    val d = c.d
    val groupSet = groupAttrs.map(a => canon(a.name)).toSet
    // GLOBAL (no-group) shape: both counts are 0 over zero rows on
    // the fact, but the outer Sum over an empty inner is NULL —
    // Coalesce closes the one mismatch (grouped shapes never see an
    // empty group)
    def zeroOnEmpty(e: Expression): Expression =
      if (groupAttrs.isEmpty) Coalesce(Seq(e, Literal(0L))) else e
    // split BEFORE aggregating so the SUM never touches a bitset word
    // (a high bit summed twice would overflow long under ANSI) and
    // the OR never touches a sentinel — the fold's own discipline
    val sentinelOnly = CaseWhen(Seq((EqualTo(widx, Literal(-1L)),
      word: Expression)), Some(Literal(0L)))
    val wordOnly = CaseWhen(Seq((GreaterThanOrEqual(widx, Literal(0L)),
      word: Expression)), Some(Literal(0L)))
    val innerS = Alias(AggregateExpression(
      new Sum(sentinelOnly), Complete, isDistinct = false), "_s")()
    val innerO = Alias(AggregateExpression(
      BitOrAgg(wordOnly), Complete, isDistinct = false), "_o")()
    val inner = Aggregate((groupIn :+ widx).map(a => a: Expression),
      (groupIn :+ widx).map(a => a: NamedExpression) ++ Seq(innerS, innerO),
      child, None)
    val sA = innerS.toAttribute
    val oA = innerO.toAttribute
    val aggExprs = mapOutputs(outs,
      mapAgg = {
        case ae @ AggregateExpression(
            Count(Seq(ar: AttributeReference)), Complete, true, None, _)
            if sameName(ar.name, d.distinctCol) =>
          val uniq = CaseWhen(Seq((GreaterThanOrEqual(widx, Literal(0L)),
            BitwiseCount(oA): Expression)), Some(Literal(0)))
          // the query's DISTINCT became the per-cell OR — the outer
          // Sum itself is plain (ae.copy would carry isDistinct over)
          Some(ae.copy(aggregateFunction = new Sum(uniq),
            isDistinct = false)).filter(_.dataType == ae.dataType)
            .map(zeroOnEmpty)
        case ae @ AggregateExpression(
            Count(Seq(Literal(v, _))), Complete, false, None, _) if v != null =>
          val nC = CaseWhen(Seq((EqualTo(widx, Literal(-1L)),
            sA: Expression)), Some(Literal(0L)))
          Some(ae.copy(aggregateFunction = new Sum(nC)))
            .filter(_.dataType == ae.dataType)
            .map(zeroOnEmpty)
        case _ => None
      },
      mapAttr = a =>
        if (groupSet.contains(canon(a.name)) &&
            !c.unsafe.contains(canon(a.name)))
          groupIn.find(g => sameName(g.name, a.name))
            .filter(_.dataType == a.dataType)
        else None).getOrElse(return None)
    Some(Aggregate(groupIn.map(a => a: Expression), aggExprs, inner, None))
  }

  /** STATE-ROLLUP tier for the BITMAP distinct kind: a strict
    * group-subset `COUNT(DISTINCT x)` cannot roll up from the visible
    * per-group counts (a key may live under several grouped-away
    * values) — but bitset words OR exactly across those values, so it
    * re-aggregates from the hidden (group, widx, word) state. Same
    * soundness gates as the exact kind's state-rollup: fresh
    * candidate, VALIDATION-TIME state pin equal to the scanned basis,
    * state scan pinned at the pin's snapshot (live-head re-validation
    * would be the TOCTOU documented there).
    */
  private def rewriteBitmapStateRollup(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.types.LongType
    val d = c.d
    if (d.kind != "distinct" || d.distinctKind != "bitmap") return None
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = d.group.map(canon).toSet
    // subset OR global — the two-level builder zero-coalesces the
    // empty-relation edge of the no-group shape
    if (!qg.forall(mg.contains) || qg.toSet == mg) return None
    if (qg.distinct.size != qg.size) return None
    if (qg.exists(c.unsafe.contains)) return None
    val (stSnap, stBasis) = c.stateInfo.headOption.getOrElse(return None)
    if (c.factBasis < 0 || stBasis != c.factBasis) return None
    val st = mvScan(graft.lake.BitmapDistinctMv.stateRoot(c.mvDir), stSnap,
      c.mvMtime).getOrElse(return None)
    def stAttr(n: String) = st.output.find(m => sameName(m.name, n))
    val cond2 = remapCond(c.residual, d, st.output, c.unsafe)
      .getOrElse(return None)
    val groupSt = groupAttrs.map(a =>
      stAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val widx = stAttr(graft.lake.BitmapDistinctMv.WidxCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    val word = stAttr(graft.lake.BitmapDistinctMv.WordCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    bitmapTwoLevel(outs, groupAttrs, c, groupSt, widx, word,
      cond2.map(Filter(_, st)).getOrElse(st))
  }

  /** COMPENSATED tier for the BITMAP distinct kind — a STALE bitmap
    * MV over an append-only gap answers EXACTLY without refreshing:
    * the delta rows' bits OR into the state's words (bit_or is the
    * fold law appends already take), so `COUNT(DISTINCT x)`@snap =
    * Σ bit_count(state words | Δ bits) and `COUNT(*)` = sentinel + |Δ
    * rows|. Shape: a three-way union — state rows at the pin, Δ rows
    * as (group, x div 64, 1 << (x mod 64)) word rows, Δ rows again as
    * (-1, 1) sentinel rows — into [[bitmapTwoLevel]]. Exact grain and
    * group-subset both land here. Soundness: the validation-time
    * state pin must equal the stale basis; and the word mapping is
    * injective only for NONNEGATIVE keys (an out-of-domain POSITIVE
    * key still counts exactly — distinct keys ↔ distinct bits at any
    * magnitude — but a negative one would alias another cell or the
    * sentinel), so the delta files' manifest stats must prove
    * min ≥ 0 — metadata-sized, missing stats veto conservatively.
    */
  private def rewriteBitmapCompensated(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val d = c.d
    if (d.kind != "distinct" || d.distinctKind != "bitmap") return None
    val (stSnap, stBasis) = c.stateInfo.headOption.getOrElse(return None)
    if (c.deltaFrom < 0 || stBasis != c.deltaFrom) return None
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = d.group.map(canon).toSet
    if (qg.isEmpty || !qg.forall(mg.contains)) return None
    if (qg.distinct.size != qg.size) return None
    if (qg.exists(c.unsafe.contains)) return None
    if (!deltaKeyStatsNonNegative(d.fact, d.distinctCol, c.deltaFrom,
      c.deltaTo)) return None
    val st = mvScan(graft.lake.BitmapDistinctMv.stateRoot(c.mvDir), stSnap,
      c.mvMtime).getOrElse(return None)
    def stAttr(n: String) = st.output.find(m => sameName(m.name, n))
    val delta = deltaScan(d.fact, c.deltaFrom, c.deltaTo).getOrElse(return None)
    def dAttr(n: String) = delta.output.find(m => sameName(m.name, n))
    val stG = groupAttrs.map(a =>
      stAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val dG = groupAttrs.map(a =>
      dAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val stCond = remapCond(c.residual, d, st.output, c.unsafe)
      .getOrElse(return None)
    val dCond = remapCond(c.residual, d, delta.output, c.unsafe)
      .getOrElse(return None)
    val widx = stAttr(graft.lake.BitmapDistinctMv.WidxCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    val word = stAttr(graft.lake.BitmapDistinctMv.WordCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    val xD = dAttr(d.distinctCol).filter(a => integral(a.dataType))
      .getOrElse(return None)
    // Δ word rows: the fold's own bit math, per row
    val xL = Cast(xD, LongType)
    val dWord = Project(
      dG.map(a => a: NamedExpression) ++ Seq(
        Alias(IntegralDivide(xL, Literal(64L)),
          graft.lake.BitmapDistinctMv.WidxCol)(),
        Alias(ShiftLeft(Literal(1L),
          Cast(Remainder(xL, Literal(64L)), IntegerType)),
          graft.lake.BitmapDistinctMv.WordCol)()),
      Filter(dCond.map(And(_, IsNotNull(xD))).getOrElse(IsNotNull(xD)),
        delta))
    // Δ sentinel rows: 1 per row (null keys included — COUNT(*))
    val dSent = Project(
      dG.map(a => a: NamedExpression) ++ Seq(
        Alias(Literal(-1L), graft.lake.BitmapDistinctMv.WidxCol)(),
        Alias(Literal(1L), graft.lake.BitmapDistinctMv.WordCol)()),
      dCond.map(Filter(_, delta)).getOrElse(delta))
    val stSide = Project((stG :+ widx :+ word).map(a => a: NamedExpression),
      stCond.map(Filter(_, st)).getOrElse(st))
    val union = Union(Seq(stSide, dWord, dSent))
    val uOut = union.output
    bitmapTwoLevel(outs, groupAttrs, c, uOut.take(groupAttrs.size),
      uOut(groupAttrs.size), uOut(groupAttrs.size + 1), union)
  }

  /** Append-range key-stats guard for [[rewriteBitmapCompensated]]:
    * every delta file's manifest stats must prove the distinct key
    * nonnegative (integral-kind stats, min ≥ 0). Metadata-sized; any
    * file without usable stats for the key column vetoes. (The
    * refresh itself will later fail such rows pointedly via
    * checkDomain — this guard keeps the read-side exact in the gap.)
    */
  private def deltaKeyStatsNonNegative(fact: String, keyCol: String,
      from: Int, to: Int): Boolean =
    Try {
      LakeTable.manifest(fact, to).files.filter(_.seq > from).forall(
        _.stats.get(keyCol).exists(cs => cs.kind == "i" && cs.min >= 0L))
    }.getOrElse(false)

  /** COMPENSATED tier for the DISTINCT kind — a STALE distinct MV
    * over an append-only gap answers EXACTLY from its hidden state:
    *
    * `COUNT(DISTINCT x)`@snap per group = |keys(state@basis) ∪
    * keys(Δ files)| — a union of key SETS, exact even when a delta
    * key was already counted at the basis (the algebra the VISIBLE
    * per-group counts cannot express, which is why the plain
    * compensated tier must veto this kind). `COUNT(*)` =
    * SUM(multiplicities) + |Δ rows|; stored SUMs fold per-row under
    * the same exactness gates as [[rewriteCompensated]] (integral
    * argument, bigint stored column, matching ANSI regime —
    * measureCol adds the distinct kind's non-nullable gate). Shape:
    *
    * {{{
    * Aggregate(query groups — COUNT(DISTINCT ux), SUM(n), SUM(p…),
    *   Union(
    *     Project(g…, x, _cnt, partials — Filter(residual, state@pin)),
    *     Project(g…, x, 1L,   per-row  — Filter(residual, Δ files))))
    * }}}
    *
    * Cost: state-sized + delta-sized, never a fact scan — the
    * query-right-after-ingest shape the other kinds already serve.
    * Exact grain and group-subset rollup both land here (the final
    * aggregate groups by the QUERY's groups). Soundness: the
    * candidate carries its VALIDATION-TIME state pin; the pin's
    * basis must equal the stale basis (deltaFrom) and the state scan
    * pins to the pin's snapshot — live-head re-validation would be
    * the TOCTOU the state-rollup tier documents.
    */
  private def rewriteDistinctCompensated(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.types.LongType
    val d = c.d
    if (d.kind != "distinct" || d.distinctKind == "bitmap") return None
    val dIdx = usedDistinctIndex(outs, d).getOrElse(return None)
    val (stSnap, stBasis) = c.stateInfo.lift(dIdx).getOrElse(return None)
    if (c.deltaFrom < 0 || stBasis != c.deltaFrom) return None
    val dCol = d.distincts(dIdx)._1
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = d.group.map(canon).toSet
    if (qg.isEmpty || !qg.forall(mg.contains)) return None
    if (qg.distinct.size != qg.size) return None
    if (qg.exists(c.unsafe.contains)) return None
    val stRoot = graft.lake.DistinctMv.stateRoot(c.mvDir, dIdx)
    val st = mvScan(stRoot, stSnap, c.mvMtime).getOrElse(return None)
    def stAttr(n: String) = st.output.find(m => sameName(m.name, n))
    val delta = deltaScan(d.fact, c.deltaFrom, c.deltaTo).getOrElse(return None)
    def dAttr(n: String) = delta.output.find(m => sameName(m.name, n))
    val stG = groupAttrs.map(a =>
      stAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val dG = groupAttrs.map(a =>
      dAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val stCond = remapCond(c.residual, d, st.output, c.unsafe)
      .getOrElse(return None)
    val dCond = remapCond(c.residual, d, delta.output, c.unsafe)
      .getOrElse(return None)
    // the distinct key column on both sides, identical type
    val xSt = stAttr(dCol).getOrElse(return None)
    val xD = dAttr(dCol).filter(_.dataType == xSt.dataType)
      .getOrElse(return None)
    val cnt = stAttr(graft.lake.DistinctMv.CntCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    // stored SUM partials on the state side, per-row contributions on
    // the delta side
    val sums: Seq[(Attribute, Expression, String)] = d.sums.map {
      case (nm, txt) =>
        val scol = stAttr(nm).filter(_.dataType == LongType)
          .getOrElse(return None)
        val se = resolveStored(txt, delta.output, d).getOrElse(return None)
        if (!integral(se.dataType) || !ansiMatches(d)) return None
        (scol, Cast(se, LongType): Expression, nm)
    }
    val stSide = Project(
      (stG ++ Seq(xSt, cnt) ++ sums.map(_._1)).map(a => a: NamedExpression),
      stCond.map(Filter(_, st)).getOrElse(st))
    val dSide = Project(
      dG.map(a => a: NamedExpression) ++
        (Alias(xD, dCol)() +:
          Alias(Literal(1L), graft.lake.DistinctMv.CntCol)() +:
          sums.map { case (_, e, nm) => Alias(e, nm)() }),
      dCond.map(Filter(_, delta)).getOrElse(delta))
    val union = Union(Seq(stSide, dSide))
    val uOut = union.output
    val uG = uOut.take(groupAttrs.size)
    val uX = uOut(groupAttrs.size)
    val uN = uOut(groupAttrs.size + 1)
    val uM: Map[String, Attribute] =
      sums.map(x => canon(x._3)).zip(uOut.drop(groupAttrs.size + 2)).toMap
    val gMap = groupAttrs.map(_.exprId).zip(uG).toMap
    val aggExprs = mapOutputs(outs,
      mapAgg = {
        case ae @ AggregateExpression(
            Count(Seq(ar: AttributeReference)), Complete, true, None, _)
            if sameName(ar.name, dCol) =>
          Some(ae.copy(aggregateFunction = Count(Seq(uX: Expression))))
            .filter(_.dataType == ae.dataType)
        case ae @ AggregateExpression(fn, Complete, false, None, _) =>
          val folded: Option[AggregateFunction] = fn match {
            case Count(Seq(Literal(v, _))) if v != null =>
              Some(new Sum(uN))
            case s: Sum =>
              measureCol(s, d, c.bindOut).map(canon).flatMap(uM.get)
                .map(new Sum(_))
            case _ => None
          }
          folded.filter(_.dataType == ae.dataType)
            .map(f => ae.copy(aggregateFunction = f))
        case _ => None
      },
      mapAttr = a => gMap.get(a.exprId)).getOrElse(return None)
    Some(Aggregate(uG.map(a => a: Expression), aggExprs, union, None))
  }

  /** The index (into d.distincts) of the ONE distinct column the
    * output list aggregates COUNT(DISTINCT) over — None when zero or
    * more than one distinct column is used (a state-serving plan
    * reads exactly one state table).
    */
  private def usedDistinctIndex(outs: Seq[NamedExpression],
      d: MaterializedView.MvDef): Option[Int] = {
    val used = outs.flatMap(_.collect {
      case AggregateExpression(
          Count(Seq(ar: AttributeReference)), Complete, true, None, _) =>
        d.distincts.zipWithIndex.collectFirst {
          case ((c0, _), i) if sameName(ar.name, c0) => i
        }
    }.flatten).distinct
    if (used.size == 1) Some(used.head) else None
  }

  // (root, from, to) → append-only verdict; manifests are immutable,
  // so the verdict never changes and the O(Δ commits) metadata walk
  // runs once per range instead of once per optimizer iteration
  private val appendOnlyCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), java.lang.Boolean]
  private def appendOnlyCached(root: String, from: Int, to: Int): Boolean = {
    val k = (root, from, to)
    val cached = appendOnlyCache.get(k)
    if (cached != null) cached.booleanValue()
    else Try(IncrementalMv.appendOnlyRange(root, from, to)).toOption match {
      case Some(v) =>
        // cache only a COMPLETED walk — manifests are immutable so a
        // real verdict never changes, but a transient IO failure must
        // not pin `false` for the session lifetime
        if (appendOnlyCache.size > 256) appendOnlyCache.clear()
        appendOnlyCache.put(k, v)
        v
      case None => false
    }
  }

  /** An analyzed scan of EXACTLY the fact files appended in (from,
    * to] — [[LakeTable.incrementalRead]]'s plan. Built fresh per
    * rewrite (a successful compensation happens once per query; the
    * manifest resolution is metadata-cheap) so its exprIds never
    * collide across rewritten aggregates in one plan.
    */
  private def deltaScan(fact: String, from: Int, to: Int): Option[LogicalPlan] =
    Try(LakeTable.incrementalRead(spark, fact, from, to)
      .queryExecution.analyzed).toOption

  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** COMPENSATED tier — a STALE single-table MV still answers when
    * the gap between its basis and the scanned fact snapshot is
    * append-only: the refresh fold applied AT READ TIME. The plan
    * becomes
    *
    * {{{
    * Aggregate(query groups,
    *   Union(
    *     Project(groups ++ stored measures, Filter(residual, MV@basis)),
    *     Project(groups ++ per-row partials, Filter(residual, Δ files))))
    * }}}
    *
    * where the Δ side reads ONLY the files appended in (basis, snap]
    * (manifest-resolved — never the fact head) and contributes 1 per
    * row to `n`, the stored measure argument per row to each SUM
    * (admitted only for INTEGRAL arguments whose stored column is
    * bigint — the fold law's exactness condition; a fractional SUM
    * casts per-total in the stored state but would cast per-row
    * here), and the raw value column to the minmax kind's MIN/MAX
    * (distributive under pure appends). Because SUM/MIN/MAX/COUNT
    * are associative, grouping the union directly by the QUERY's
    * groups folds and rolls up in one aggregate — exact grouping and
    * strict-subset rollup both land here. The residual (group-column
    * predicates only, same commuting argument as the fresh tiers)
    * applies to both sides. At 100 TB this means a rollup query
    * right after an ingest batch costs |MV| + |new files| — no
    * refresh, no fact scan. Derived/stored AVG never compensates
    * (non-distributive from stored state); a global (no-group)
    * aggregate is excluded for the same empty-state reason as the
    * rollup tier. Disable with `spark.graft.mv.rewrite.stale=false`.
    */
  private def rewriteCompensated(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.types.LongType
    val d = c.d
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = d.group.map(canon).toSet
    if (qg.isEmpty || !qg.forall(mg.contains)) return None
    if (qg.distinct.size != qg.size) return None
    val mv = mvScan(c.mvDir, c.mvSnap, c.mvMtime).getOrElse(return None)
    def mvAttr(n: String) = mv.output.find(m => sameName(m.name, n))
    val delta = deltaScan(d.fact, c.deltaFrom, c.deltaTo).getOrElse(return None)
    def dAttr(n: String) = delta.output.find(m => sameName(m.name, n))
    // group columns on both sides, by name + identical type
    val mvG = groupAttrs.map(a =>
      mvAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val dG = groupAttrs.map(a =>
      dAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    // residual commutes onto both sides (group-column refs only)
    val mvCond = remapCond(c.residual, d, mv.output, c.unsafe).getOrElse(return None)
    val dCond = remapCond(c.residual, d, delta.output, c.unsafe).getOrElse(return None)
    // measure columns, positionally aligned: stored on the MV side,
    // per-row contributions on the delta side
    val nMv = mvAttr(IncrementalJoinMv.CountCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    val minmax: Seq[(Attribute, Expression, String)] =
      if (d.kind != "minmax") Nil
      else {
        val vD = dAttr(d.value).getOrElse(return None)
        val mn = mvAttr(d.minName).filter(_.dataType == vD.dataType)
          .getOrElse(return None)
        val mx = mvAttr(d.maxName).filter(_.dataType == vD.dataType)
          .getOrElse(return None)
        Seq((mn, vD, d.minName), (mx, vD, d.maxName))
      }
    val sums: Seq[(Attribute, Expression, String)] = d.sums.map {
      case (nm, txt) =>
        val mcol = mvAttr(nm).filter(_.dataType == LongType).getOrElse(return None)
        val se = resolveStored(txt, delta.output, d).getOrElse(return None)
        if (!integral(se.dataType) || !ansiMatches(d)) return None
        (mcol, Cast(se, LongType): Expression, nm)
    }
    val measures = (nMv, Literal(1L): Expression,
      IncrementalJoinMv.CountCol) +: (minmax ++ sums)
    val mvSide = Project((mvG ++ measures.map(_._1)).map(a => a: NamedExpression),
      mvCond.map(Filter(_, mv)).getOrElse(mv))
    val dSide = Project(
      dG.map(a => a: NamedExpression) ++
        measures.map { case (_, e, nm) => Alias(e, nm)() },
      dCond.map(Filter(_, delta)).getOrElse(delta))
    foldedAggregate(outs, groupAttrs, c, mvSide, Seq(dSide), measures.map(_._3))
  }

  /** EXPRESSION-GROUP tier — serve a FRESH single-kind MV whose
    * grouping includes DERIVED bucket columns (`date_trunc('DAY', ts)
    * AS d`): a query grouping by the SAME expression (semantic
    * equality against the stored text, tz-stamped under the
    * definition's zone, matched at the optimizer's simplification
    * fixed point too) maps that whole expression onto the MV's
    * stored alias column; plain group columns map by name as usual;
    * an alias NAME is never bound from a fact attribute (the
    * collision an alias invites — only expression matching reaches
    * it). Exact grouping projects MV rows, a strict subset
    * re-aggregates by the distributive laws (a plain-column slice of
    * the (day, site) MV included). Residual predicates must
    * reference plain group columns only; derived AVG never maps.
    */
  private def rewriteExprGroup(agg: Aggregate, c: Candidate,
      groupSub: Seq[Expression],
      outs: Seq[NamedExpression]): Option[LogicalPlan] = {
    val d = c.d
    val aliasSet = d.groupExprs.map(x => canon(x._1)).toSet
    val plainG = d.group.map(canon).filterNot(aliasSet.contains).toSet
    // c.bindOut: the scan output for the single kind, the flattened
    // fact-first star output for the join kind (stored texts resolve
    // over it by the analyzer — ambiguous names fail resolution and
    // bail, same as stored measures)
    val storedG: Seq[(String, Expression)] = d.groupExprs.map {
      case (alias, txt) =>
        (canon(alias), resolveStored(txt, c.bindOut, d).getOrElse(return None))
    }
    def groupColOf(e: Expression): Option[String] = e match {
      case a: AttributeReference =>
        // unsafe names (multi-side star columns not equated by the
        // join) must never bind by name
        if (plainG.contains(canon(a.name)) &&
          !c.unsafe.contains(canon(a.name))) Some(canon(a.name)) else None
      case other =>
        storedG.collectFirst {
          case (alias, se) if se.semanticEquals(other) ||
            simplified(se, c.bindOut).semanticEquals(other) => alias
        }
    }
    val qg: Seq[String] = groupSub
      .map(e => groupColOf(e).getOrElse(return None))
    if (qg.isEmpty || qg.distinct.size != qg.size) return None
    val mg = d.group.map(canon)
    if (!qg.forall(mg.contains)) return None
    val mv = mvScan(c.mvDir, c.mvSnap, c.mvMtime).getOrElse(return None)
    def mvAttr(n: String) = mv.output.find(m => sameName(m.name, n))
    // residual remap: a predicate commutes with the grouping when
    // every leaf resolves to a group column — a PLAIN group attribute
    // by name, or a whole SUBTREE matching a stored bucket expression
    // (`WHERE date_trunc('DAY', ts) = X` slices the daily MV on its
    // alias column); any grouped-away MV group column qualifies (the
    // rollup-slice shape). An unmapped base attribute vetoes.
    def remapResidual(e: Expression): Option[Expression] =
      groupColOf(e) match {
        case Some(nm) => mvAttr(nm).filter(_.dataType == e.dataType)
        case None => e match {
          case _: AttributeReference => None
          case other =>
            val kids = other.children.map(remapResidual)
            if (kids.exists(_.isEmpty)) None
            else Some(other.withNewChildren(kids.map(_.get)))
        }
      }
    val cond2: Option[Expression] = c.residual match {
      case None => None
      case Some(cnd) => Some(remapResidual(cnd).getOrElse(return None))
    }
    // whole-node mapping: a matched group expression or plain group
    // attribute → its MV column, type-checked
    def nodeMap(e: Expression): Option[Expression] =
      groupColOf(e).filter(qg.contains)
        .flatMap(mvAttr).filter(_.dataType == e.dataType)
    val mapNode: Expression => Option[Expression] = {
      case _: AttributeReference => None // the mapAttr path pins those
      case e => nodeMap(e)
    }
    if (c.axes.exists(ax => ax.basis < ax.snap)) {
      // STALE expression-group STAR (join kind) over an append-only
      // gap on any axis subset: the delta-join STAIRCASE evaluated at
      // read time, with the bucket RE-DERIVED per term — each term
      // re-runs the user's own join subtree (the term's axis
      // substituted by its delta scan, earlier moved axes basis-
      // pinned, non-delta axes manifest-stats-pruned on the join
      // keys) and projects the user's OWN grouping expressions, so
      // the bucket derives over exactly the joined change rows the
      // term folds. SUM admission mirrors the plain join staircase
      // (measureCol's non-nullable + ANSI gates, integral argument,
      // bigint stored column).
      import org.apache.spark.sql.types.LongType
      val mvG2 = qg.map(nm => mvAttr(nm).getOrElse(return None))
      groupSub.zip(mvG2).foreach { case (e, m) =>
        if (e.dataType != m.dataType) return None }
      val nMv = mvAttr(IncrementalJoinMv.CountCol)
        .filter(_.dataType == LongType).getOrElse(return None)
      val userSums: Seq[(String, Expression)] =
        outs.flatMap(_.collect {
          case AggregateExpression(fn: Sum, Complete, false, None, _) =>
            measureCol(fn, d, c.bindOut).map(nm => (canon(nm), fn.child))
        }.flatten).distinctBy(_._1)
      val sums: Seq[(Attribute, Expression, String)] =
        d.sums.flatMap { case (nm, _) =>
          userSums.find(_._1 == canon(nm)).map { case (_, ue) =>
            val mcol = mvAttr(nm).filter(_.dataType == LongType)
              .getOrElse(return None)
            if (!integral(ue.dataType)) return None
            (mcol, Cast(ue, LongType): Expression, nm)
          }
        }
      val measures = (nMv, Literal(1L): Expression,
        IncrementalJoinMv.CountCol) +: sums
      // the copied subtrees expose only their own output: grouping
      // expressions / measure references hidden behind a renaming
      // Project are unreachable — fall back before paying the delta
      // scans' manifest resolution
      val childOut = agg.child.outputSet
      if (!agg.groupingExpressions.flatMap(_.references)
          .forall(childOut.contains) ||
        !sums.flatMap(_._2.references).forall(childOut.contains))
        return None
      val dSides: Seq[LogicalPlan] = staircaseChildren(agg, c)
        .getOrElse(return None)
        .map { newChild =>
          Project(
            agg.groupingExpressions.zip(qg).map { case (e, nm) =>
              Alias(e, nm)(): NamedExpression
            } ++ measures.map { case (_, e, nm) => Alias(e, nm)() },
            newChild)
        }
      val mvSide = Project(
        (mvG2 ++ measures.map(_._1)).map(a => a: NamedExpression),
        cond2.map(Filter(_, mv)).getOrElse(mv))
      val union = Union(mvSide +: dSides)
      val uOut = union.output
      val uG = uOut.take(qg.size)
      val uM: Map[String, Attribute] =
        measures.map(_._3).map(canon).zip(uOut.drop(qg.size)).toMap
      val posOf: Map[String, Attribute] = qg.zip(uG).toMap
      def uNodeMap(e: Expression): Option[Expression] =
        groupColOf(e).filter(qg.contains).flatMap(posOf.get)
          .filter(_.dataType == e.dataType)
      val aggExprs = mapOutputs(outs,
        mapAgg = {
          case ae @ AggregateExpression(fn, Complete, false, None, _) =>
            val folded: Option[AggregateFunction] = fn match {
              case Count(Seq(Literal(v, _))) if v != null =>
                uM.get(canon(IncrementalJoinMv.CountCol)).map(new Sum(_))
              case su: Sum =>
                measureCol(su, d, c.bindOut).map(canon)
                  .flatMap(uM.get).map(new Sum(_))
              case _ => None
            }
            folded.filter(_.dataType == ae.dataType)
              .map(f => ae.copy(aggregateFunction = f))
          case _ => None
        },
        mapAttr = a => uNodeMap(a),
        mapNode = { case _: AttributeReference => None; case e => uNodeMap(e) })
        .getOrElse(return None)
      return Some(Aggregate(uG.map(a => a: Expression), aggExprs, union, None))
    }
    if (c.deltaFrom >= 0 && d.kind == "distinct") {
      // STALE DISTINCT + append-only, bucketed grouping — the
      // daily-uniques query right after an ingest batch: the VISIBLE
      // counts cannot fold (a delta key may already be counted), so
      // serve from the hidden state ∪ the delta rows with the bucket
      // RE-DERIVED per delta row (the stored expression text — the
      // state side needs no derivation: it STORES the bucket alias
      // as a group column). COUNT(DISTINCT x) = distinct keys of the
      // union per group, COUNT(*) = SUM(multiplicity) + Δ rows,
      // SUMs fold per-row under rewriteCompensated's gates. The
      // state scan pins to the candidate's VALIDATION-TIME pin whose
      // basis must equal the stale basis (the TOCTOU discipline). A
      // query referencing NO distinct measure falls through to the
      // visible-side fold below (n/SUM compensate from MV rows like
      // the single kind); two different distinct columns veto.
      import org.apache.spark.sql.types.LongType
      val usedD = outs.flatMap(_.collect {
        case AggregateExpression(
            Count(Seq(ar: AttributeReference)), Complete, true, None, _) =>
          d.distincts.zipWithIndex.collectFirst {
            case ((c0, _), i) if sameName(ar.name, c0) => i
          }
      }.flatten).distinct
      val anyDistinctAgg = outs.exists(_.exists {
        case AggregateExpression(_, _, true, _, _) => true
        case _ => false
      })
      if (usedD.size == 1) {
        val dIdx = usedD.head
        val (stSnap, stBasis) = c.stateInfo.lift(dIdx).getOrElse(return None)
        if (stBasis != c.deltaFrom) return None
        val dCol = d.distincts(dIdx)._1
        val stRoot = graft.lake.DistinctMv.stateRoot(c.mvDir, dIdx)
        val st = mvScan(stRoot, stSnap, c.mvMtime).getOrElse(return None)
        def stAttr(n: String) = st.output.find(m => sameName(m.name, n))
        val delta = deltaScan(d.fact, c.deltaFrom, c.deltaTo)
          .getOrElse(return None)
        def dAttr(n: String) = delta.output.find(m => sameName(m.name, n))
        val stG: Seq[Attribute] =
          qg.map(nm => stAttr(nm).getOrElse(return None))
        val dG: Seq[NamedExpression] = qg.zip(stG).map { case (nm, scol) =>
          if (plainG.contains(nm))
            dAttr(nm).filter(_.dataType == scol.dataType)
              .getOrElse(return None): NamedExpression
          else {
            val txt = d.groupExprs.find(x => canon(x._1) == nm)
              .map(_._2).getOrElse(return None)
            val se = resolveStored(txt, delta.output, d).getOrElse(return None)
            if (se.dataType != scol.dataType) return None
            Alias(se, nm)()
          }
        }
        // residual per side: whole-subtree group mapping onto the
        // state's stored columns; raw re-evaluation over delta rows
        def remapResidualSt(e: Expression): Option[Expression] =
          groupColOf(e) match {
            case Some(nm) => stAttr(nm).filter(_.dataType == e.dataType)
            case None => e match {
              case _: AttributeReference => None
              case other =>
                val kids = other.children.map(remapResidualSt)
                if (kids.exists(_.isEmpty)) None
                else Some(other.withNewChildren(kids.map(_.get)))
            }
          }
        val stCond: Option[Expression] = c.residual match {
          case None => None
          case Some(cnd) => Some(remapResidualSt(cnd).getOrElse(return None))
        }
        val dCond: Option[Expression] = c.residual match {
          case None => None
          case Some(cnd) =>
            var ok = true
            val m = cnd.transformUp {
              case a: AttributeReference =>
                dAttr(a.name).filter(_.dataType == a.dataType) match {
                  case Some(x) => x
                  case None => ok = false; a
                }
            }
            if (!ok) return None
            Some(m)
        }
        val xSt = stAttr(dCol).getOrElse(return None)
        val xD = dAttr(dCol).filter(_.dataType == xSt.dataType)
          .getOrElse(return None)
        val cnt = stAttr(graft.lake.DistinctMv.CntCol)
          .filter(_.dataType == LongType).getOrElse(return None)
        val sums: Seq[(Attribute, Expression, String)] = d.sums.map {
          case (nm, txt) =>
            val scol = stAttr(nm).filter(_.dataType == LongType)
              .getOrElse(return None)
            val se = resolveStored(txt, delta.output, d).getOrElse(return None)
            if (!integral(se.dataType) || !ansiMatches(d)) return None
            (scol, Cast(se, LongType): Expression, nm)
        }
        val stSide = Project(
          (stG ++ Seq(xSt, cnt) ++ sums.map(_._1))
            .map(a => a: NamedExpression),
          stCond.map(Filter(_, st)).getOrElse(st))
        val dSide = Project(
          dG ++ (Alias(xD, dCol)() +:
            Alias(Literal(1L), graft.lake.DistinctMv.CntCol)() +:
            sums.map { case (_, e, nm) => Alias(e, nm)() }),
          dCond.map(Filter(_, delta)).getOrElse(delta))
        val union = Union(Seq(stSide, dSide))
        val uOut = union.output
        val uG = uOut.take(qg.size)
        val uX = uOut(qg.size)
        val uN = uOut(qg.size + 1)
        val uM: Map[String, Attribute] =
          sums.map(x => canon(x._3)).zip(uOut.drop(qg.size + 2)).toMap
        val posOf: Map[String, Attribute] = qg.zip(uG).toMap
        def uNodeMap(e: Expression): Option[Expression] =
          groupColOf(e).filter(qg.contains).flatMap(posOf.get)
            .filter(_.dataType == e.dataType)
        val aggExprs = mapOutputs(outs,
          mapAgg = {
            case ae @ AggregateExpression(
                Count(Seq(ar: AttributeReference)), Complete, true, None, _)
                if sameName(ar.name, dCol) =>
              Some(ae.copy(aggregateFunction = Count(Seq(uX: Expression))))
                .filter(_.dataType == ae.dataType)
            case ae @ AggregateExpression(fn, Complete, false, None, _) =>
              val folded: Option[AggregateFunction] = fn match {
                case Count(Seq(Literal(v, _))) if v != null =>
                  Some(new Sum(uN))
                case su: Sum =>
                  measureCol(su, d, c.bindOut).map(canon).flatMap(uM.get)
                    .map(new Sum(_))
                case _ => None
              }
              folded.filter(_.dataType == ae.dataType)
                .map(f => ae.copy(aggregateFunction = f))
            case _ => None
          },
          mapAttr = a => uNodeMap(a),
          mapNode = { case _: AttributeReference => None; case e => uNodeMap(e) })
          .getOrElse(return None)
        return Some(Aggregate(uG.map(a => a: Expression), aggExprs, union,
          None))
      }
      if (anyDistinctAgg) return None
      // zero distinct measures referenced: the visible fold below is
      // sound for COUNT(*)/SUM (the same algebra as the single kind)
    }
    if (c.deltaFrom >= 0) {
      // STALE + append-only: MV rows ⊎ the delta rows with the bucket
      // RE-DERIVED per row (the stored expression text over the delta
      // scan — exactly what a refresh would compute), folded by one
      // aggregate at the query's grain. Admission mirrors
      // rewriteCompensated: integral SUM arguments, bigint stored
      // columns, matching ANSI regime (measureCol's gates).
      import org.apache.spark.sql.types.LongType
      val delta = deltaScan(d.fact, c.deltaFrom, c.deltaTo).getOrElse(return None)
      def dAttr(n: String) = delta.output.find(m => sameName(m.name, n))
      val mvG2 = qg.map(nm => mvAttr(nm).getOrElse(return None))
      val dG: Seq[NamedExpression] = qg.zip(mvG2).map { case (nm, mcol) =>
        if (plainG.contains(nm))
          dAttr(nm).filter(_.dataType == mcol.dataType)
            .getOrElse(return None): NamedExpression
        else {
          val txt = d.groupExprs.find(x => canon(x._1) == nm)
            .map(_._2).getOrElse(return None)
          val se = resolveStored(txt, delta.output, d).getOrElse(return None)
          if (se.dataType != mcol.dataType) return None
          Alias(se, nm)()
        }
      }
      val dCond: Option[Expression] = c.residual match {
        case None => None
        case Some(cnd) =>
          var ok = true
          val m = cnd.transformUp {
            case a: AttributeReference =>
              dAttr(a.name).filter(_.dataType == a.dataType) match {
                case Some(x) => x
                case None => ok = false; a
              }
          }
          if (!ok) return None
          Some(m)
      }
      val nMv = mvAttr(IncrementalJoinMv.CountCol)
        .filter(_.dataType == LongType).getOrElse(return None)
      val sums: Seq[(Attribute, Expression, String)] = d.sums.map {
        case (nm, txt) =>
          val mcol = mvAttr(nm).filter(_.dataType == LongType)
            .getOrElse(return None)
          val se = resolveStored(txt, delta.output, d).getOrElse(return None)
          if (!integral(se.dataType) || !ansiMatches(d)) return None
          (mcol, Cast(se, LongType): Expression, nm)
      }
      val measures = (nMv, Literal(1L): Expression,
        IncrementalJoinMv.CountCol) +: sums
      val mvSide = Project(
        (mvG2 ++ measures.map(_._1)).map(a => a: NamedExpression),
        cond2.map(Filter(_, mv)).getOrElse(mv))
      val dSide = Project(
        dG ++ measures.map { case (_, e, nm) => Alias(e, nm)() },
        dCond.map(Filter(_, delta)).getOrElse(delta))
      val union = Union(Seq(mvSide, dSide))
      val uOut = union.output
      val uG = uOut.take(qg.size)
      val uM: Map[String, Attribute] =
        measures.map(_._3).map(canon).zip(uOut.drop(qg.size)).toMap
      val posOf: Map[String, Attribute] = qg.zip(uG).toMap
      def uNodeMap(e: Expression): Option[Expression] =
        groupColOf(e).filter(qg.contains).flatMap(posOf.get)
          .filter(_.dataType == e.dataType)
      val aggExprs = mapOutputs(outs,
        mapAgg = {
          case ae @ AggregateExpression(fn, Complete, false, None, _) =>
            val folded: Option[AggregateFunction] = fn match {
              case Count(Seq(Literal(v, _))) if v != null =>
                uM.get(canon(IncrementalJoinMv.CountCol)).map(new Sum(_))
              case su: Sum =>
                measureCol(su, d, c.bindOut).map(canon)
                  .flatMap(uM.get).map(new Sum(_))
              case _ => None
            }
            folded.filter(_.dataType == ae.dataType)
              .map(f => ae.copy(aggregateFunction = f))
          case _ => None
        },
        mapAttr = a => uNodeMap(a),
        mapNode = { case _: AttributeReference => None; case e => uNodeMap(e) })
        .getOrElse(return None)
      return Some(Aggregate(uG.map(a => a: Expression), aggExprs, union, None))
    }
    if (qg.toSet == mg.toSet && qg.size == mg.size) {
      val projList = mapOutputs(outs,
        mapAgg = {
          // the distinct kind's measure over a bucketed grouping —
          // "daily unique users" (same mapping as the plain exact
          // tier: exact group match only)
          case ae @ AggregateExpression(
              Count(Seq(ar: AttributeReference)), Complete, true, None, _)
              if d.kind == "distinct" &&
                d.distincts.exists(x => sameName(ar.name, x._1)) =>
            d.distincts.collectFirst {
              case (col0, nm) if sameName(ar.name, col0) => nm
            }.flatMap(mvAttr).filter(_.dataType == ae.dataType)
          case ae @ AggregateExpression(fn, Complete, false, None, _) =>
            measureCol(fn, d, c.bindOut).flatMap(mvAttr)
              .filter(_.dataType == ae.dataType)
          case _ => None
        },
        mapAttr = a => nodeMap(a),
        mapNode = mapNode).getOrElse(return None)
      Some(Project(projList, cond2.map(Filter(_, mv)).getOrElse(mv)))
    } else {
      val groupMv = groupSub.zip(qg).map { case (e, nm) =>
        mvAttr(nm).filter(_.dataType == e.dataType).getOrElse(return None)
      }
      val aggExprs = mapOutputs(outs,
        mapAgg = {
          case ae @ AggregateExpression(fn, Complete, false, None, _) =>
            val rolled: Option[AggregateFunction] = fn match {
              case Count(Seq(Literal(v, _))) if v != null =>
                mvAttr(IncrementalJoinMv.CountCol).map(new Sum(_))
              case su: Sum =>
                measureCol(su, d, c.bindOut).flatMap(mvAttr).map(new Sum(_))
              case _ => None // AVG does not roll up from stored state
            }
            rolled.filter(_.dataType == ae.dataType)
              .map(f => ae.copy(aggregateFunction = f))
          case _ => None
        },
        mapAttr = a => nodeMap(a),
        mapNode = mapNode).getOrElse(return None)
      Some(Aggregate(groupMv.map(a => a: Expression), aggExprs,
        cond2.map(Filter(_, mv)).getOrElse(mv), None))
    }
  }

  /** The shared tail of both compensated tiers: Union the MV side
    * and the delta side (positionally aligned: group columns first,
    * then measure columns in `measureNames` order), then re-aggregate
    * by the QUERY's groups with the distributive fold laws
    * (COUNT(*) → SUM(n), SUM → SUM, MIN → MIN, MAX → MAX), original
    * output exprIds pinned so parents resolve unchanged.
    */
  private def foldedAggregate(outs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference], c: Candidate,
      mvSide: LogicalPlan, dSides: Seq[LogicalPlan],
      measureNames: Seq[String]): Option[LogicalPlan] = {
    val union = Union(mvSide +: dSides)
    val uOut = union.output
    val uG = uOut.take(groupAttrs.size)
    val uM: Map[String, Attribute] =
      measureNames.map(canon).zip(uOut.drop(groupAttrs.size)).toMap
    val gMap = groupAttrs.map(_.exprId).zip(uG).toMap
    val aggExprs = mapOutputs(outs,
      mapAgg = {
        case ae @ AggregateExpression(fn, Complete, false, None, _) =>
          val folded: Option[AggregateFunction] = fn match {
            case Count(Seq(Literal(v, _))) if v != null =>
              uM.get(canon(IncrementalJoinMv.CountCol)).map(new Sum(_))
            case s: Sum =>
              measureCol(s, c.d, c.bindOut).map(canon).flatMap(uM.get).map(new Sum(_))
            case m: Min =>
              measureCol(m, c.d, c.bindOut).map(canon).flatMap(uM.get).map(Min(_))
            case m: Max =>
              measureCol(m, c.d, c.bindOut).map(canon).flatMap(uM.get).map(Max(_))
            case _ => None // AVG is non-distributive from stored state
          }
          folded.filter(_.dataType == ae.dataType)
            .map(f => ae.copy(aggregateFunction = f))
        case _ => None
      },
      mapAttr = a => gMap.get(a.exprId)).getOrElse(return None)
    Some(Aggregate(uG.map(a => a: Expression), aggExprs, union, None))
  }

  /** COMPENSATED tier for the JOIN kind — a star MV stale over an
    * APPEND-ONLY gap on any subset of its axes (a fact ingest,
    * late-arriving dimension rows, or both) still answers via the
    * delta-join STAIRCASE evaluated at read time:
    *
    * {{{
    * F₁ ⋈ D₁ ⋈ E₁ = F₀⋈D₀⋈E₀            (the MV rows)
    *              ⊎ ΔF ⋈ D₁ ⋈ E₁          (one term per MOVED axis:
    *              ⊎ F₀ ⋈ ΔD ⋈ E₁           earlier axes at BASIS,
    *              ⊎ F₀ ⋈ D₀ ⋈ ΔE           later axes as scanned)
    * }}}
    *
    * Each term re-runs the user's own join subtree (join conditions,
    * pushed filters and all) with the term's axis substituted by its
    * delta files' scan and every EARLIER moved axis substituted by a
    * basis-pinned scan — all rebound to the original relations'
    * exprIds, so the copied subtree resolves unchanged. Each joined
    * row contributes 1 to `n` and the user's own aggregate argument
    * to each SUM; MV rows ⊎ all terms fold in ONE aggregate.
    *
    * Scale shape: the delta of the term's axis is small by
    * construction, and the OTHER axes' scans are pruned at plan time
    * by a range predicate synthesized from the delta's MANIFEST
    * STATS on the join keys (metadata-only): a late-arriving
    * dimension batch whose keys are new re-reads ZERO fact files —
    * the fact-side scan prunes every file whose key range misses the
    * delta's. Only measures the query actually uses ride the union;
    * SUM admission mirrors the fresh join tier (non-nullable
    * integral argument, bigint stored column, matching ANSI regime).
    * At 100 TB: the star rollup right after a fact ingest costs
    * |MV| + (new files ⋈ dims); right after a dim append it costs
    * |MV| + (stats-pruned fact slice ⋈ new dim rows).
    */
  private def rewriteCompensatedJoin(agg: Aggregate,
      outs: Seq[NamedExpression], groupAttrs: Seq[AttributeReference],
      c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.types.LongType
    val d = c.d
    if (c.axes.isEmpty) return None
    val moved = c.axes.filter(ax => ax.basis < ax.snap)
    if (moved.isEmpty) return None
    val qg = groupAttrs.map(a => canon(a.name))
    val mg = d.group.map(canon).toSet
    if (qg.isEmpty || !qg.forall(mg.contains)) return None
    if (qg.distinct.size != qg.size) return None
    if (qg.exists(c.unsafe.contains)) return None
    val mv = mvScan(c.mvDir, c.mvSnap, c.mvMtime).getOrElse(return None)
    def mvAttr(n: String) = mv.output.find(m => sameName(m.name, n))
    val mvG = groupAttrs.map(a =>
      mvAttr(a.name).filter(_.dataType == a.dataType).getOrElse(return None))
    val mvCond = remapCond(c.residual, d, mv.output, c.unsafe).getOrElse(return None)
    val nMv = mvAttr(IncrementalJoinMv.CountCol)
      .filter(_.dataType == LongType).getOrElse(return None)
    // only the measures the aggregate actually maps onto, and as the
    // USER'S OWN argument expression (semantically equal to the
    // stored text by measureCol's match, and — unlike a re-resolved
    // stored text — guaranteed to reference only attributes the
    // pruned subtree still exposes). measureCol has already applied
    // the join kind's non-nullable gate; integral argument + bigint
    // stored column are this tier's per-row-cast exactness gates.
    val userSums: Seq[(String, Expression)] =
      outs.flatMap(_.collect {
        case AggregateExpression(fn: Sum, Complete, false, None, _) =>
          measureCol(fn, d, c.bindOut).map(nm => (canon(nm), fn.child))
      }.flatten).distinctBy(_._1)
    val sums: Seq[(Attribute, Expression, String)] =
      d.sums.flatMap { case (nm, _) =>
        userSums.find(_._1 == canon(nm)).map { case (_, ue) =>
          val mcol = mvAttr(nm).filter(_.dataType == LongType)
            .getOrElse(return None)
          if (!integral(ue.dataType)) return None
          (mcol, Cast(ue, LongType): Expression, nm)
        }
      }
    val measures = (nMv, Literal(1L): Expression,
      IncrementalJoinMv.CountCol) +: sums
    // the copied subtree only exposes ITS OWN output: substituted
    // grouping attrs / measure references hidden behind a renaming
    // Project in the user's query are unreachable — fall back (the
    // pre-widening behavior for aliasing subtrees) BEFORE paying the
    // delta scans' manifest resolution
    val childOut = agg.child.outputSet
    if (!groupAttrs.forall(childOut.contains) ||
      !sums.flatMap(_._2.references).forall(childOut.contains))
      return None
    val dSides: Seq[LogicalPlan] = staircaseChildren(agg, c)
      .getOrElse(return None)
      .map { newChild =>
        Project(
          groupAttrs.map(a => a: NamedExpression) ++
            measures.map { case (_, e, nm) => Alias(e, nm)() },
          newChild)
      }
    val mvSide = Project((mvG ++ measures.map(_._1)).map(a => a: NamedExpression),
      mvCond.map(Filter(_, mv)).getOrElse(mv))
    foldedAggregate(outs, groupAttrs, c, mvSide, dSides, measures.map(_._3))
  }

  /** One substituted copy of `agg.child` per MOVED axis — the
    * delta-join staircase's union terms, minus their projections
    * (callers project plain group attributes or re-derived group
    * expressions over each). Per term k:
    *  - the term's axis → its delta files' scan;
    *  - every EARLIER moved axis → a scan PINNED at its basis
    *    snapshot (unmoved axes already scan their basis);
    *  - later axes and unmoved axes stay as the user scanned them.
    * Every non-delta axis that joins the term's axis additionally
    * gets the delta's manifest-stats key-range pushed as a filter
    * (metadata-derived, implied by the equi-join — pure pruning: a
    * late-arriving dimension batch with new keys re-reads ZERO fact
    * files). All substitutes are rebound to the original relations'
    * exprIds, so join conditions, pushed filters and group
    * expressions in the copied subtree resolve unchanged.
    */
  private def staircaseChildren(agg: Aggregate,
      c: Candidate): Option[Seq[LogicalPlan]] = {
    val moved = c.axes.filter(ax => ax.basis < ax.snap)
    if (moved.isEmpty) return None
    // join keys per axis: the fact (axis 0) joins each dim i on
    // joinDims(i).keys — the columns a delta's manifest-stats range
    // constrains on the OPPOSITE side of that join
    val dimKeys: Seq[Seq[String]] = c.d.joinDims.map(_.keys)
    def keyRangeCond(rel: DataSourceV2Relation, keys: Seq[String],
        deltaRoot: String, from: Int, to: Int): Option[Expression] = {
      val conds = keys.flatMap { k =>
        rel.output.find(a => sameName(a.name, k)).flatMap { attr =>
          deltaRange(deltaRoot, from, to, k, attr.dataType).map {
            case (lo, hi) =>
              And(GreaterThanOrEqual(attr, lo), LessThanOrEqual(attr, hi))
          }
        }
      }
      conds.reduceOption(And)
    }
    Some(moved.map { ax =>
      val k = c.axes.indexWhere(_.rel eq ax.rel)
      val delta = deltaScan(ax.root, ax.basis, ax.snap).getOrElse(return None)
      val subs: Seq[(DataSourceV2Relation, LogicalPlan)] =
        c.axes.zipWithIndex.flatMap { case (other, j) =>
          val joinsTerm =
            if (k == 0) j != 0 // fact term: every dim joins it
            else j == 0 // dim term: only the fact joins it directly
          val keys = if (k == 0) dimKeys.lift(j - 1).getOrElse(Nil)
            else dimKeys.lift(k - 1).getOrElse(Nil)
          val prune: LogicalPlan => LogicalPlan =
            if (!joinsTerm || keys.isEmpty) identity
            else p => keyRangeCond(other.rel, keys, ax.root, ax.basis, ax.snap)
              .map(Filter(_, p)).getOrElse(p)
          if (other.rel eq ax.rel)
            Some(other.rel -> reboundTo(other.rel, delta).getOrElse(return None))
          else if (j < k && other.basis < other.snap)
            Some(other.rel -> prune(reboundTo(other.rel,
              snapScan(other.root, other.basis).getOrElse(return None))
              .getOrElse(return None)))
          else if (joinsTerm && keys.nonEmpty)
            Some(other.rel -> prune(other.rel))
          else None
        }
      agg.child.transformUp {
        case r: DataSourceV2Relation if subs.exists(_._1 eq r) =>
          subs.find(_._1 eq r).get._2
      }
    })
  }

  /** An analyzed scan of a lake table PINNED at `snap` — the
    * staircase's basis term for an earlier moved axis.
    */
  private def snapScan(root: String, snap: Int): Option[LogicalPlan] =
    Try(spark.read.format("graft-lake").option("snapshot", snap.toString)
      .load(root).queryExecution.analyzed).toOption

  /** Rebind `src`'s same-named, same-typed outputs to `rel`'s
    * exprIds — join conditions, pushed filters and group attributes
    * in a copied subtree then resolve against the substitute
    * unchanged.
    */
  private def reboundTo(rel: DataSourceV2Relation,
      src: LogicalPlan): Option[LogicalPlan] = {
    val out = rel.output.map { a =>
      src.output.find(m => sameName(m.name, a.name) &&
          m.dataType == a.dataType) match {
        case Some(s0) =>
          Alias(s0, a.name)(exprId = a.exprId, qualifier = a.qualifier)
            : NamedExpression
        case None => return None
      }
    }
    Some(Project(out, src))
  }

  /** Combined manifest-stats range of `colName` over the files
    * appended in (from, to] as literals of `dt` — plan-time metadata
    * only, zero data IO. None when any appended file lacks usable
    * stats for the column or the type has no stats encoding (the
    * caller then skips the prune — still correct, just less
    * prunable). String stats are EXACT min/max under UTF-8 binary
    * order (the collation Spark's string comparisons use), so the
    * derived range is implied by the equi-join.
    */
  private def deltaRange(root: String, from: Int, to: Int, colName: String,
      dt: org.apache.spark.sql.types.DataType): Option[(Literal, Literal)] = {
    import org.apache.spark.sql.types._
    val files =
      try LakeTable.manifest(root, to).files
        .filter(f => f.seq > from && f.seq <= to)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (files.isEmpty) return None // empty delta: nothing to prune by
    val sts = files.map(_.stats.get(colName))
    if (sts.exists(_.isEmpty)) return None
    val ss = sts.flatten
    def intLit(v: Long): Option[Literal] = dt match {
      case LongType => Some(Literal(v))
      case IntegerType if v.isValidInt => Some(Literal(v.toInt))
      case ShortType if v >= Short.MinValue && v <= Short.MaxValue =>
        Some(Literal(v.toShort))
      case ByteType if v >= Byte.MinValue && v <= Byte.MaxValue =>
        Some(Literal(v.toByte))
      case _ => None
    }
    dt match {
      case StringType if ss.forall(s => s.kind == "s") =>
        val lo = ss.map(_.minS).reduce(LakeTable.utf8Min)
        val hi = ss.map(_.maxS).reduce(LakeTable.utf8Max)
        Some((Literal(org.apache.spark.unsafe.types.UTF8String.fromString(lo), StringType),
          Literal(org.apache.spark.unsafe.types.UTF8String.fromString(hi), StringType)))
      case _ if ss.forall(_.kind == "i") =>
        for {
          lo <- intLit(ss.map(_.min).min)
          hi <- intLit(ss.map(_.max).max)
        } yield (lo, hi)
      case _ => None
    }
  }
}
