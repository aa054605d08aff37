package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.writer.BlockWriter

/** MIN/MAX (and general non-distributive) materialized views —
  * incremental maintenance BEYOND the signed-distributive family.
  * COUNT/SUM fold algebraically under deletes ([[IncrementalJoinMv]]'s
  * counting algorithm); MIN/MAX do NOT: deleting a group's current
  * minimum needs the group's other rows to answer "what's the new
  * min" — no signed delta can say. The classic warehouse answer (and
  * this one) is GROUP-TARGETED RECOMPUTE:
  *
  *  1. the lake's change feed names exactly the groups a refresh
  *     touched (insert rows AND delete pre-images carry the group
  *     key) — |Δ groups| values, collected driver-side like every
  *     other metadata-scale set, but only AFTER a cardinality gate:
  *     past `graft.mvrefresh.maxgroups` (table policy, default
  *     10 000) the refresh falls back to ONE full-view recompute
  *     commit instead of an unbounded driver list + giant IN filter
  *     (a bulk backfill or dimension-scale delete can touch millions
  *     of groups — at that cardinality the full recompute is also
  *     the cheaper plan);
  *  2. under the cap, those groups recompute FROM THE FACT HEAD
  *     through the DSv2 scan with an IN filter — manifest stat
  *     pruning keeps the read to files whose [min, max] group
  *     extents intersect the touched set, so a fact table clustered
  *     by the group key reads ONLY the touched groups' files
  *     (spec-pinned by physically hiding every untouched-group file
  *     during a refresh);
  *  3. the fold lands as ONE MoR MERGE commit — recomputed groups
  *     re-land, groups that vanished retire via the same commit's
  *     equality-delete mask, untouched groups' MV files stay
  *     byte-identical ([[LakeTable.merge]]'s extraDeleteKeys shape).
  *
  * Because maintenance is RECOMPUTE (not algebra), ANY per-group
  * aggregate rides along exactly: `extras` carries additional
  * measures (SUM, AVG, …) recomputed with the min/max for touched
  * groups — the profile view `g, COUNT(*), SUM(v), MIN(v), MAX(v),
  * AVG(v)` is ONE view here, no second maintenance law needed.
  *
  * Cost at 100 TB: O(Δ groups × files-per-group) read, O(Δ groups)
  * write — against the O(|fact|) full recompute a non-distributive
  * aggregate otherwise forces; past the cap, exactly that recompute,
  * once, by choice. The (fact) basis rides the MV head commit's note
  * (`mmv-basis-<f>[-full]`), atomic with the data.
  */
object MinMaxMv {

  /** Past this many touched groups a refresh recomputes the whole
    * view instead of driver-collecting an IN list — overridable per
    * table via the `graft.mvrefresh.maxgroups` policy.
    */
  val DefaultMaxGroups = 10000L

  /** The fact snapshot the MV head reflects — the newest `mmv-basis`
    * note the head's CONTENT reflects (compaction and other content-
    * preserving maintenance stamp their own notes above it; retention
    * holes below the keep-point are tolerated). The walk is
    * [[LakeTable.findContentNote]]: a rollback of the MV table jumps
    * to the RESTORED snapshot so the basis rolls back with the data.
    */
  def basis(mvRoot: String): Int = MvBasis.of(mvRoot, MvBasis.MinMax).snaps.head

  /** The maintenance mode of the newest refresh the head reflects
    * (`targeted` — the Δ-group fold — or `full`, the over-cap or
    * CREATE recompute). Pre-suffix-era notes (`mmv-basis-N` bare)
    * were stamped by creates AND targeted refreshes alike, so they
    * honestly report `?` rather than guessing.
    */
  def mode(mvRoot: String): String = MvBasis.mode(mvRoot, MvBasis.MinMax)

  private def state(df: DataFrame, group: String, subGroups: Seq[String],
      valueCol: String, minName: String, maxName: String,
      extras: Seq[(String, Column)]): DataFrame =
    df.groupBy((group +: subGroups).map(col): _*)
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as(minName) +:
          max(col(valueCol)).as(maxName) +:
          extras.map { case (n, c) => c.as(n) }: _*)

  /** Materialize from the fact head; returns the MV snapshot.
    * `prep` derives expression group columns (time buckets) over
    * every fact read BEFORE grouping; `keyCol` is the column the
    * targeted recompute's IN filter and the fold's equality-delete
    * mask key on — a STORED FACT column (never a derived bucket:
    * the changelog must name it and the mask must equality-apply),
    * defaulting to the lead group column.
    */
  def create(s: SparkSession, factRoot: String, mvRoot: String,
      group: String, valueCol: String, cfg: BlockWriter.Config,
      minName: String = null, maxName: String = null,
      extras: Seq[(String, Column)] = Nil,
      subGroups: Seq[String] = Nil,
      prep: DataFrame => DataFrame = identity,
      keyCol: String = null): Int = {
    val key = Option(keyCol).getOrElse(group)
    val f = LakeTable.currentSnapshot(factRoot)
    val st = state(prep(LakeTable.read(s, factRoot, Some(f))), group,
      subGroups, valueCol,
      Option(minName).getOrElse(s"min_$valueCol"),
      Option(maxName).getOrElse(s"max_$valueCol"), extras)
      .persist()
    try {
      // fail at CREATE, not first refresh (see refresh's NULL guard).
      // ONE aggregate job — filter+isEmpty is an escalating take that
      // scans the partitions in several jobs when no row matches
      require(st.agg(count(when(col(key).isNull, lit(1)))).head.getLong(0) == 0L,
        s"min/max MV: NULL in key column '$key' cannot be " +
          "incrementally maintained — coalesce it upstream")
      LakeTable.commit(s, mvRoot, st, cfg, Seq(group),
        note = MvBasis.note(MvBasis.MinMax, Seq(f), "full"))
    } finally { st.unpersist(); () }
  }

  /** Fold fact changes since the basis: recompute exactly the touched
    * groups from fact snapshot `f1` (IN-filtered DSv2 scan → manifest
    * pruning), one MoR MERGE commit — or, past the touched-group cap,
    * one full-view recompute commit. Returns the new FACT basis the
    * MV reflects (f1 after a fold; the old basis on a no-op).
    */
  def refresh(s: SparkSession, factRoot: String, mvRoot: String,
      group: String, valueCol: String, cfg: BlockWriter.Config,
      minName: String = null, maxName: String = null,
      extras: Seq[(String, Column)] = Nil,
      subGroups: Seq[String] = Nil,
      extraFolds: Seq[Option[Column => Column]] = Nil,
      prep: DataFrame => DataFrame = identity,
      keyCol: String = null): Int = {
    val key = Option(keyCol).getOrElse(group)
    val f0 = basis(mvRoot)
    val f1 = LakeTable.currentSnapshot(factRoot)
    if (f0 == f1) return f0
    val mn = Option(minName).getOrElse(s"min_$valueCol")
    val mx = Option(maxName).getOrElse(s"max_$valueCol")
    val stored = LakeTable.storedSchemaOf(mvRoot).get
    // APPEND-ONLY FOLD: over a pure-append range MIN/MAX *are*
    // distributive — new min = min(stored, Δ-min) — so the refresh
    // folds the delta files against the stored rows with NO fact-head
    // read at all: O(Δ files) + a touched-leads fold, regardless of
    // how many groups the append touched (no driver collect, no IN
    // list, the over-cap fallback never applies). Deletes still need
    // the targeted recompute below (no algebra answers "what's the
    // new min after the minimum left"). Extras fold only when every
    // one declares a fold law (`extraFolds`) — AVG doesn't (its
    // recompute-exact semantics can't be folded), so a profile view
    // with AVG keeps the targeted path even for appends.
    // appendOnly walks every manifest in (f0, f1]; if retention
    // expired one, fall through to the targeted path, whose
    // changelogRead names the expired snapshot and the remedy (the
    // ACTIONABLE error) instead of a raw manifest-IO failure here
    val foldable = (extras.isEmpty ||
      (extraFolds.size == extras.size && extraFolds.forall(_.isDefined))) &&
      scala.util.Try(IncrementalMv.appendOnly(factRoot, f0, f1)).getOrElse(false)
    if (foldable) {
      // the range is pure appends: read the ADDED FILES in one
      // filtered scan (incrementalRead), not one changelog frame per
      // commit — a 100-commit refresh range is one plan, not a union
      val deltaState = state(
        prep(LakeTable.incrementalRead(s, factRoot, f0, f1)),
        group, subGroups, valueCol, mn, mx, extras).persist()
      try {
        // ONE probe over the persisted delta decides BOTH the
        // empty-append return and the NULL-key guard (two separate
        // actions before — each a scheduled job per refresh)
        val probe = deltaState.agg(
          count(lit(1)).as("_n"),
          count(when(col(key).isNull, lit(1))).as("_nulls")).head()
        if (probe.getLong(0) == 0L) return f0
        require(probe.getLong(1) == 0L,
          s"min/max MV: NULL in key column '$key' cannot be " +
            "incrementally maintained — coalesce it upstream")
        val touchedLead = deltaState.select(col(key)).distinct()
        val folded = LakeTable.read(s, mvRoot)
          .join(broadcast(touchedLead), Seq(key), "left_semi")
          .unionByName(deltaState)
          .groupBy((group +: subGroups).map(col): _*)
          .agg(sum(col("n")).cast("bigint").as("n"),
            min(col(mn)).as(mn) +: max(col(mx)).as(mx) +:
              extras.zip(extraFolds).map { case ((nm, _), f) =>
                f.get(col(nm)).as(nm) }: _*)
        // every folded group IS a touched lead (appends never remove
        // rows), so the covered-keys merge stages the fold exactly
        // once — no persist, no rdd round-trip (merge's schema gate
        // compares name + type, so no nullability re-stamp needed)
        val live = folded.select(
          stored.fieldNames.toIndexedSeq.map(col): _*)
        LakeTable.merge(s, mvRoot, key, live, cfg, Seq(group),
          note = MvBasis.note(MvBasis.MinMax, Seq(f1), "fold"),
          extraDeleteKeys = Some(touchedLead),
          deleteKeysCoverUpdates = true): Unit
        return f1
      } finally { deltaState.unpersist(); () }
    }
    // Δ group keys: every group any change row names — insert or
    // delete pre-image, distinct computed DISTRIBUTED. ONE capped
    // collect decides emptiness, over-cap AND the values, which reach
    // the driver only when metadata-scale (under the cap)
    val touched0 = MvLeads.collect(mvRoot,
      LakeTable.changelogRead(s, factRoot, f0, f1), key)
    // content-preserving commits only (compaction emits zero change
    // rows): nothing to fold — leave the basis where it is, the next
    // real refresh folds across the maintenance commits for free
    if (touched0.contains(Nil)) return f0
    if (touched0.isEmpty) {
        // OVER-CAP FALLBACK: a delta touching this many groups is a
        // reshape, not a trickle — one full recompute commit beats an
        // unbounded driver collect + a giant IN expression (and reads
        // the fact once either way at this cardinality)
        val full = state(
          prep(s.read.format("graft-lake").option("snapshot", f1).load(factRoot)),
          group, subGroups, valueCol, mn, mx, extras).persist()
        try {
          require(full.agg(count(when(col(key).isNull, lit(1))))
              .head.getLong(0) == 0L,
            s"min/max MV: NULL in key column '$key' cannot be " +
              "incrementally maintained — coalesce it upstream")
          LakeTable.rewrite(s, mvRoot, full, cfg, Seq(group),
            note = MvBasis.note(MvBasis.MinMax, Seq(f1), "full")): Unit
      } finally { full.unpersist(); () }
      return f1
    }
    // TYPED values: they keep the changelog column's external type
    // end-to-end (timestamp, decimal, binary group keys stay exact
    // — no String round-trip), feeding both the IN filter and the
    // equality-delete frame
    val touched = touched0.get
    // the IN filter and the eq-delete mask are equality-keyed: a NULL
    // group can neither be recomputed nor retired — fail pointedly
    require(!touched.contains(null),
      s"min/max MV: NULL in key column '$key' cannot be " +
        "incrementally maintained (equality-keyed recompute + delete " +
        "mask) — coalesce it upstream")
    // targeted recompute THROUGH THE PRUNED SCAN, PINNED at the basis
    // snapshot f1 the commit note will claim (a concurrent fact
    // commit mid-refresh must not leak into this basis): the IN
    // filter reaches the manifest, untouched groups' fact files are
    // never opened (a fact clustered by `group` reads |Δ groups|)
    val cur = state(
      prep(s.read.format("graft-lake").option("snapshot", f1).load(factRoot)
        .filter(col(key).isin(touched: _*))),
      group, subGroups, valueCol, mn, mx, extras)
    // touched covers the recomputed groups, so a vanished group
    // retires through the merge's mask
    MvLeads.merge(s, mvRoot, stored, key, cur, touched, cfg, Seq(group),
      MvBasis.note(MvBasis.MinMax, Seq(f1), "targeted"))
    f1
  }
}
