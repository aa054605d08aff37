package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.writer.BlockWriter

/** DISTINCT-COUNT materialized views — exact `COUNT(DISTINCT x)`
  * rollups maintained incrementally: arguably THE most common
  * warehouse view ("daily unique users per dimension") and the one
  * aggregate the other MV kinds must reject (no signed fold exists
  * over the *visible* state: per-group distinct counts can neither
  * add under inserts of possibly-seen keys nor subtract under
  * deletes of possibly-duplicated keys).
  *
  * The law: keep HIDDEN state at (group, key) grain — one row per
  * live (g, x) pair with the signed multiplicity `cnt` of fact rows
  * carrying it (plus one signed SUM partial per extra measure). That
  * state IS signed-distributive: the lake's own change feed
  * ([[LakeTable.changelogRead]] — inserts +1, delete pre-images -1,
  * MERGEs as delete+insert pairs) folds per (g, x) with one
  * hash-shuffle on the state grain; a key retires exactly when its
  * multiplicity reaches 0. The VISIBLE view then derives:
  *
  *  - `COUNT(DISTINCT x)` = the group's live non-null key count,
  *  - `COUNT(*)`          = the group's summed multiplicities,
  *  - `SUM(e)`            = the group's summed signed partials,
  *
  * each exact at every basis — including across MoR deletes and
  * merges, where the single kind must fall back to a full recompute.
  * Refresh cost: O(changed rows) to read the feed, one shuffle at
  * (g, x) grain to fold — never a fact scan (mode `signed`) — and
  * O(touched cells) WRITES: the fold lands as one MoR MERGE keyed on
  * the stored cell key ([[SKeyCol]]), so only the delta's cells
  * re-land, retired cells (multiplicity 0) drop via the commit's
  * equality-delete mask, and untouched state files survive
  * byte-identical (the MinMaxMv upsert-and-retire shape). At
  * stream-mv cadence this is what survives 100 TB: a daily-uniques
  * state of ~10^10 (day, uid) rows takes per-trigger writes
  * proportional to the trigger's changed cells, not a state-sized
  * rewrite per micro-batch. Only a retention-expired changelog range
  * forces the `full` fallback (one state rewrite). The VISIBLE view
  * stays a rewrite — it is group-domain-sized by construction.
  *
  * LAYOUT: the state lives as its own lake table NESTED INSIDE the
  * MV directory (`<mv>/_dstate`) — invisible to the catalog (tables
  * list one level), dropped/cloned/moved with its MV, and excluded
  * from the MV root's own orphan sweeps (those walk `<mv>/data`
  * only). Crash safety between the two commits: the state commits
  * FIRST, stamping its own basis note; a crash before the MV commit
  * leaves state-basis > mv-basis, and the next refresh skips the
  * fold and just re-derives the visible rows from the state head —
  * both commits are idempotent re-derivations of the state.
  *
  * At 100 TB: the state table is |group domain × key domain| rows —
  * the exact-COUNT(DISTINCT) floor; a refresh reads the delta plus
  * the touched lead groups' state files (IN-pruned scan under the
  * `graft.mvrefresh.maxgroups` cap; whole-state scan past it) and
  * writes only the touched cells. (When the key domain itself is too
  * large for (g, x) state, the built scale paths are the sketch kinds
  * of [[SketchStateMv]], which share this kind's visible `dmv-basis-`
  * note: [[BitmapDistinctMv$ the bitmap law]], per-group word-sharded
  * bitsets over bounded integral keys, and, for unbounded domains
  * where an estimate suffices, [[HllDistinctMv$ the HLL law]],
  * bounded-register sketches.)
  */
object DistinctMv {

  /** Multiplicity column of the hidden state table. */
  val CntCol = "_cnt"

  /** Stored CELL KEY of the state table: one string per (group, key)
    * tuple, deterministic and injective, so [[LakeTable.merge]]'s
    * single-column equality-delete mask can retire exactly the
    * touched cells — the composite state grain folded into the one
    * key shape the mask machinery speaks.
    */
  val SKeyCol = "_skey"

  /** The cell-key encoding: per column, NULL → a lone `\\u0000`
    * marker, else `=` + a value encoding that can never contain the
    * `\\u0001` separator (strings/binary via base64; timestamps as
    * epoch micros — session-TZ-independent, a refresh from another
    * timezone must produce the SAME key for the same cell; everything
    * else via Spark's deterministic string cast). Injective per
    * column and unambiguous under the separator ⇒ injective for the
    * tuple.
    */
  private[lake] def cellKey(schema: StructType, cols: Seq[String]): Column = {
    def enc(c: Column, dt: DataType): Column = dt match {
      case StringType => base64(encode(c, "UTF-8"))
      case BinaryType => base64(c)
      case TimestampType => unix_micros(c).cast("string")
      case _ => c.cast("string")
    }
    val parts = cols.map { n =>
      val dt = schema(schema.fieldIndex(n)).dataType
      when(col(n).isNull, lit("\u0000"))
        .otherwise(concat(lit("="), enc(col(n), dt)))
    }
    parts.reduce((a, b) => concat(a, lit("\u0001"), b))
  }

  /** The hidden state table's root, nested inside the MV dir. */
  def stateRoot(mvRoot: String): String = stateRoot(mvRoot, 0)

  /** State root of the i-th COUNT(DISTINCT) measure: the first keeps
    * the legacy `_dstate` name, extras nest as `_dstate<i>` — one
    * hidden signed (group, key) state per distinct column, all
    * maintained by the same fold (each also carries the view's SUM
    * partials, so ANY state can serve the state tiers alone).
    */
  def stateRoot(mvRoot: String, i: Int): String =
    java.nio.file.Paths.get(mvRoot,
      if (i == 0) "_dstate" else s"_dstate$i").toString

  /** The fact snapshot the VISIBLE MV head reflects. */
  def basis(mvRoot: String): Int = MvBasis.of(mvRoot, MvBasis.Distinct).snaps.head

  /** Maintenance mode of the newest refresh the head reflects
    * (`signed` — the change-feed fold — or `full`, the CREATE /
    * expired-range recompute; the sketch kinds add `fold`/`targeted`).
    */
  def mode(mvRoot: String): String = MvBasis.mode(mvRoot, MvBasis.Distinct)

  /** One consistent (state snapshot, fact basis) pin PER distinct
    * state, first-first ([[MvBasis.pinned]]); None if any state is
    * unreadable.
    */
  def stateBasisPinnedAll(mvRoot: String, n: Int): Option[Seq[(Int, Int)]] = {
    val pins = (0 until math.max(1, n))
      .map(i => MvBasis.pinned(stateRoot(mvRoot, i), MvBasis.ExactState))
    if (pins.exists(_.isEmpty)) None else Some(pins.map(_.get))
  }

  /** The (group, key) state of a base read: multiplicity + one
    * signed SUM partial per extra measure. A partial is NULL exactly
    * when every contributing value is NULL — matching SUM's
    * NULL-ignoring semantics through the fold.
    */
  private def stateOf(base: DataFrame, group: Seq[String], keyCol: String,
      sums: Seq[(String, String)], signed: Boolean): DataFrame = {
    val sign: Column =
      if (!signed) lit(1L)
      else when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val st = base.groupBy((group :+ keyCol).map(col): _*)
      .agg(sum(sign).cast("bigint").as(CntCol),
        sums.map { case (nm, e) =>
          sum(sign * expr(e)).cast("bigint").as(nm) }: _*)
    st.withColumn(SKeyCol, cellKey(st.schema, group :+ keyCol))
  }

  /** Derive the VISIBLE MV rows from a state frame: n = summed
    * multiplicities, the distinct measure = live non-null key count,
    * extra SUMs = summed partials, AVGs = sum / n read-time sugar.
    */
  private def derive(st: DataFrame, group: Seq[String], keyCol: String,
      distinctName: String, sums: Seq[(String, String)],
      derived: Seq[(String, Column)]): DataFrame = {
    val out = st.groupBy(group.map(col): _*)
      .agg(sum(col(CntCol)).cast("bigint").as(IncrementalJoinMv.CountCol),
        count(col(keyCol)).cast("bigint").as(distinctName) +:
          sums.map { case (nm, _) => sum(col(nm)).cast("bigint").as(nm) }: _*)
    derived.foldLeft(out) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** Writer config of a hidden state table: bucketed and sorted on
    * the lead group column.
    */
  private[lake] def stateCfg(group: Seq[String]): BlockWriter.Config =
    BlockWriter.Config(group.head, group.head, maxRecordsPerFile = 1 << 20)

  /** Auto-compaction threshold stamped on every hidden state table at
    * CREATE: the MoR-merge fold accrues one small data file and one
    * equality-delete file per refresh, and every state read anti-joins
    * the masks — at stream-mv cadence that debt grows without bound,
    * and the state is INTERNAL (no user will ever declare hygiene on
    * a table they cannot see), so the engine owns it. The policy
    * rides [[AutoMaintain]]'s post-commit/best-effort/CAS-safe rules:
    * past the threshold the state rewrites into task-sized files with
    * its masks folded, and the next refresh's untouched-file
    * byte-identity baseline simply resets to the compacted files.
    */
  val StateCompactFiles = 48L

  /** Materialize states + view from the fact head; returns the MV
    * snapshot. `keyCol` is the first COUNT(DISTINCT) argument (a
    * plain fact column), `extra` any ADDITIONAL (column, name)
    * distinct measures — one hidden state each; every state stores
    * the SUM partials too, so any one state can serve the rewrite
    * rule's state tiers alone. `sums` are the extra signed-foldable
    * measures, `derived` the read-time AVG sugar over stored SUMs.
    */
  def create(s: SparkSession, factRoot: String, mvRoot: String,
      group: Seq[String], keyCol: String, distinctName: String,
      cfg: BlockWriter.Config, sums: Seq[(String, String)] = Nil,
      derived: Seq[(String, Column)] = Nil,
      prep: DataFrame => DataFrame = identity,
      extra: Seq[(String, String)] = Nil): Int = {
    val distincts = (keyCol, distinctName) +: extra
    val f = LakeTable.currentSnapshot(factRoot)
    // one fact read feeds every state's aggregation (persisted only
    // when a second distinct measure would otherwise re-scan it)
    val base = prep(LakeTable.read(s, factRoot, Some(f)))
    val baseShared = if (distincts.size > 1) base.persist() else base
    try {
      distincts.zipWithIndex.foreach { case ((kc, _), i) =>
        val st = stateOf(baseShared, group, kc, sums, signed = false)
        AutoMaintain.setPolicy(stateRoot(mvRoot, i),
          AutoMaintain.AutoCompactKey, StateCompactFiles)
        LakeTable.commit(s, stateRoot(mvRoot, i), st, stateCfg(group), group,
          note = MvBasis.note(MvBasis.ExactState, Seq(f), "full")): Unit
      }
    } finally { if (distincts.size > 1) { baseShared.unpersist(); () } }
    LakeTable.commit(s, mvRoot,
      deriveAll(s, mvRoot, group, distincts, sums, derived,
        r => LakeTable.read(s, r)),
      cfg, group, note = MvBasis.note(MvBasis.Distinct, Seq(f), "full"))
  }

  /** Visible rows from ALL states: n / SUMs / the first distinct
    * measure from state 0 ([[derive]]), each extra distinct measure
    * joined in null-safe on the group columns (every live group
    * exists in every state by construction — the states group the
    * same fact rows). `readSt` lets the refresh prune each state
    * read to the touched lead groups.
    */
  private def deriveAll(s: SparkSession, mvRoot: String, group: Seq[String],
      distincts: Seq[(String, String)], sums: Seq[(String, String)],
      derived: Seq[(String, Column)],
      readSt: String => DataFrame): DataFrame = {
    val base = derive(readSt(stateRoot(mvRoot, 0)), group, distincts.head._1,
      distincts.head._2, sums, derived)
    distincts.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, ((kc, nm), i)) =>
        val u = readSt(stateRoot(mvRoot, i))
          .groupBy(group.map(col): _*)
          .agg(count(col(kc)).cast("bigint").as(nm))
        val uR = u.select(group.map(c => u(c).as(s"_g_$c")) :+ u(nm)
          .as(nm): _*)
        val cond = group.map(c => acc(c) <=> uR(s"_g_$c")).reduce(_ && _)
        acc.join(uR, cond, "inner").drop(group.map("_g_" + _): _*)
    }
  }

  /** Fold fact changes since the basis through every (g, x) state and
    * re-derive the visible rows; returns the new fact basis. SIGNED
    * mode folds the change feed (appends, MoR deletes and merges all
    * included — content-preserving maintenance emits zero change
    * rows) as ONE MoR MERGE PER STATE over its touched cells — O(Δ)
    * writes, untouched state files byte-identical; the VISIBLE rows
    * land as a lead-group-targeted merge under the same discipline
    * when the lead key can equality-mask and every state folded from
    * the visible basis itself (a crash-interrupted refresh falls back
    * to the group-domain-sized rewrite — leads from a partial range
    * could miss changed groups). An expired changelog range falls
    * back to one full state recompute (rewrite). All commits
    * re-derive from durable state, so a crash anywhere completes on
    * the next call.
    */
  def refresh(s: SparkSession, factRoot: String, mvRoot: String,
      group: Seq[String], keyCol: String, distinctName: String,
      cfg: BlockWriter.Config, sums: Seq[(String, String)] = Nil,
      derived: Seq[(String, Column)] = Nil,
      prep: DataFrame => DataFrame = identity,
      extra: Seq[(String, String)] = Nil): Int = {
    val distincts = (keyCol, distinctName) +: extra
    val f0 = basis(mvRoot)
    val f1 = LakeTable.currentSnapshot(factRoot)
    val sbs = distincts.indices
      .map(i => MvBasis.of(stateRoot(mvRoot, i), MvBasis.ExactState))
    if (f0 == f1 && sbs.forall(_.snaps.head == f0)) return f0
    val allAligned = sbs.forall(_.snaps.head == f0)
    var anyFold = false
    var anyFull = false
    // touched LEAD-group values across the states' deltas (the change
    // rows are the same frame for every state, so any state's delta
    // names the same leads) — None once unknown/over-cap
    var leadsAcc: Option[Seq[Any]] = Some(Nil)
    // per-state FOLDED SLICE of the touched leads, cached: stored
    // cells of those leads pass through identity, touched cells
    // fold, new cells appear — ONE computation per state serves BOTH
    // the state merge (its touched-cell subset) and the visible
    // derive (the whole lead slice), so no state is scanned twice
    // per refresh
    val foldedByState = scala.collection.mutable.Map[String, DataFrame]()
    // the raw change feed is the SAME frame for every state folding
    // the same (basis, head] range — read it once per range, persist,
    // and let each state's (group, key) aggregation consume the cached
    // rows instead of re-scanning the delta files per distinct measure
    val changesByRange = scala.collection.mutable.Map[(Int, Int), DataFrame]()
    try {
    distincts.zipWithIndex.foreach { case ((kc, _), i) =>
      val stRoot = stateRoot(mvRoot, i)
      val sb = sbs(i).snaps.head
      if (sb < f1) {
        var cached: Option[DataFrame] = None
        try {
          // the delta AND its touched leads in ONE materializing job:
          // zero collected leads ⇔ empty delta (every delta row has a
          // lead slot, null included), so no separate isEmpty pass
          val signedDelta: Option[(DataFrame, Option[Seq[Any]])] = try {
            val changes = changesByRange.getOrElseUpdate((sb, f1),
              if (distincts.size == 1) LakeTable.changelogRead(s, factRoot, sb, f1)
              else LakeTable.changelogRead(s, factRoot, sb, f1).persist())
            // prep derives expression group columns (time buckets)
            // over the change rows — insert and delete pre-images of
            // a row derive the same bucket, so signed folds cancel
            val delta = stateOf(prep(changes), group, kc, sums,
              signed = true).persist()
            cached = Some(delta)
            val ls = MvLeads.collect(mvRoot, delta, group.head)
            if (ls.contains(Nil)) None else Some((delta, ls))
          } catch {
            case _: IllegalStateException => // expired changelog range
              cached.foreach(_.unpersist()); cached = None
              anyFull = true; leadsAcc = None
              val full = stateOf(prep(LakeTable.read(s, factRoot, Some(f1))),
                group, kc, sums, signed = false)
              LakeTable.rewrite(s, stRoot, full, stateCfg(group), group,
                note = MvBasis.note(MvBasis.ExactState, Seq(f1), "full")): Unit
              None
          }
          // SIGNED fold as ONE MoR MERGE — O(Δ) writes, never a state
          // rewrite: the change feed names exactly the touched (g, x)
          // cells; fold the delta against ONLY those state rows and
          // land the result as a merge keyed on the stored cell key.
          // Touched cells re-land as new files, cells whose
          // multiplicity reached 0 retire via the same commit's
          // equality-delete mask, and every untouched state file
          // survives BYTE-IDENTICAL (the MinMaxMv upsert-and-retire
          // shape). The state READ is pruned to the delta's
          // lead-group extents when they are metadata-scale (IN
          // filter → manifest stat pruning); past the cap it scans
          // the state once — the WRITE stays O(Δ) either way.
          signedDelta.foreach { case (delta, leadsOpt) =>
            anyFold = true
            val stored = LakeTable.storedSchemaOf(stRoot).getOrElse(sys.error(
              s"$stRoot carries no stored schema — not a distinct-MV state"))
            val names = stored.fieldNames.toIndexedSeq
            leadsAcc = (leadsAcc, leadsOpt) match {
              case (Some(acc), Some(ls)) => Some((acc ++ ls).distinct)
              case _ => None
            }
            val stateRead = leadsOpt match {
              case Some(leads) => MvLeads.prunedRead(s, stRoot, group.head, leads)
              case None => LakeTable.read(s, stRoot)
            }
            val touchedKeys = delta.select(col(SKeyCol)).distinct()
            val foldedLeads = stateRead.select(names.map(col): _*)
              .unionByName(delta.select(names.map(col): _*))
              .groupBy((group :+ kc :+ SKeyCol).map(col): _*)
              .agg(sum(col(CntCol)).cast("bigint").as(CntCol),
                sums.map { case (nm, _) =>
                  sum(col(nm)).cast("bigint").as(nm) }: _*)
              .filter(col(CntCol) =!= 0L)
              .persist()
            foldedByState(stRoot) = foldedLeads
            // re-stamp with the EXACT stored schema (merge's schema
            // gate compares full JSON incl. nullability; .to() keeps
            // the plan whole-stage — all-nullable parquet schemas only
            // ever RELAX nullability, which upcasting permits); only
            // the TOUCHED cells re-land — untouched cells of the
            // touched leads stay visible from their old files past
            // the mask. The touched-cell mask covers live's keys by
            // construction (live ⊆ touched via the semi-join), so the
            // covered-keys merge stages live exactly once and commits
            // a pure-mask delete when every touched cell retired — no
            // pre-commit isEmpty probe, no persist
            val live = foldedLeads
              .join(touchedKeys, Seq(SKeyCol), "left_semi")
              .select(names.map(col): _*).to(stored)
            // staged files ≤ non-empty lead buckets ≤ collected-lead
            // count: size the write's TASK fan-out by that file bound
            // (bucket width / manifest spec untouched — see
            // BlockWriter.Config.writeTasks)
            val stCfg = stateCfg(group).copy(
              writeTasks = leadsOpt.map(ls => math.max(1, ls.size)))
            LakeTable.merge(s, stRoot, SKeyCol, live, stCfg,
              group, note = MvBasis.note(MvBasis.ExactState, Seq(f1), "signed"),
              extraDeleteKeys = Some(touchedKeys),
              deleteKeysCoverUpdates = true): Unit
          }
        } finally { cached.foreach(_.unpersist()); () }
      }
    }
    // a pure-maintenance range (compaction, rewrite_manifests) emits
    // zero change rows: skip the visible commit too, leave the basis
    // put — the next content refresh folds across it for free
    if (!anyFold && !anyFull && allAligned) return f0
    val mode =
      if (anyFull) "full" else if (anyFold) "signed" else sbs.head.mode
    var visibleDone = false
    // VISIBLE fold, same discipline: only the touched lead groups'
    // visible rows change, so re-derive THEM from the pruned
    // post-merge states and land one merge keyed on the lead column —
    // vanished leads retire via the mask, untouched visible files
    // stay byte-identical, and the whole refresh (states + view)
    // reads nothing but the delta and the touched lead groups' files.
    // Requires an equality-maskable lead (non-timestamp, no NULL
    // touched lead, under the cap) and a fully-aligned fold —
    // otherwise the group-domain-sized rewrite below stands in.
    if (allAligned && anyFold && !anyFull) {
      val visStored = LakeTable.storedSchemaOf(mvRoot)
      val leadsOk = leadsAcc.filter(ls => !ls.contains(null))
      val leadMaskable = leadsOk.isDefined && visStored.exists(
        _.fields.find(_.name == group.head)
          .exists(_.dataType != TimestampType))
      if (leadMaskable && foldedByState.size == distincts.size) {
        val vs = visStored.get
        val leads = leadsOk.get
        // the visible rows for the touched leads derive from the
        // CACHED folded slices — no state re-scan
        val vis = deriveAll(s, mvRoot, group, distincts, sums, derived,
          r => foldedByState(r))
        MvLeads.merge(s, mvRoot, vs, group.head, vis.to(vs), leads, cfg,
          group, MvBasis.note(MvBasis.Distinct, Seq(f1), "signed"))
        visibleDone = true
      }
    }
    if (!visibleDone)
      LakeTable.rewrite(s, mvRoot,
        deriveAll(s, mvRoot, group, distincts, sums, derived,
          r => LakeTable.read(s, r)),
        cfg, group, note = MvBasis.note(MvBasis.Distinct, Seq(f1), mode)): Unit
    f1
    } finally {
      foldedByState.values.foreach(_.unpersist())
      if (distincts.size > 1) changesByRange.values.foreach(_.unpersist())
      ()
    }
  }
}
