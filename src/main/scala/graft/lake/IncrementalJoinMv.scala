package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.writer.BlockWriter

/** INCREMENTAL maintenance of a JOINED aggregate view — the
  * enrichment MV every warehouse keeps (fact ⋈ dimensions → grouped
  * rollup) maintained by the DELTA-JOIN law instead of recomputation.
  * For a star F ⋈ D₁ ⋈ … ⋈ Dₖ the delta is the Gupta-Mumick
  * STAIRCASE — one signed term per relation, each joining the
  * already-refreshed relations at their NEW snapshots and the
  * not-yet-refreshed ones at their OLD snapshots:
  *
  *   Δ(F ⋈ D₁ ⋈ … ⋈ Dₖ) =  ΔF ⋈ D₁⁰ ⋈ … ⋈ Dₖ⁰
  *                        ∪  F¹ ⋈ ΔD₁ ⋈ D₂⁰ ⋈ … ⋈ Dₖ⁰
  *                        ∪  F¹ ⋈ D₁¹ ⋈ ΔD₂ ⋈ D₃⁰ ⋈ … ⋈ Dₖ⁰
  *                        ∪  …
  *
  * with every change row SIGNED (+1 insert / −1 delete, the counting
  * algorithm of classic IVM — Gupta & Mumick's multiset semantics).
  * Each term holds exactly ONE delta, so the term's sign IS that
  * delta's sign; cross-changes (two relations changing in one
  * refresh) are covered by the staircase shape itself. Join keys are
  * per-dimension USING-column lists — composite keys are just a
  * longer list. All deltas come from the lake's own CHANGE DATA FEED
  * ([[LakeTable.changelogRead]]) and all old/new sides are SNAPSHOT
  * READS (time travel) — the algebra's frames are exactly what a
  * snapshot lake serves for free.
  *
  * Cost shape at 100 TB:
  *  - fact-only refresh (no ΔD — the overwhelmingly common case):
  *    ΔF ⋈ D⁰s with every DIMENSION BROADCAST — O(Δ fact), the fact
  *    table is NEVER scanned (spec-pinned);
  *  - a dimension-changing refresh adds one F¹ pass per changed
  *    dimension, semi-joined against the (broadcast) changed keys —
  *    the price every engine pays when a dimension rewires history;
  *  - the fold touches |MV| + |Δ groups| rows, never the base.
  *
  * Only SIGNED-distributive aggregates participate (COUNT via
  * sum-of-signs, SUM via sign-weighted sum); groups whose count
  * reaches zero leave the view. The (fact, dim…) basis vector rides
  * the MV's commit note (`jmv-basis-<f>-<d₁>[-<d₂>…]`), so state and
  * basis are atomic — the [[IncrementalMv]] convention, extended to
  * k+1 bases.
  */
object IncrementalJoinMv {

  /** One joined dimension: its table root and the USING columns
    * (composite keys = several).
    */
  final case class DimSpec(root: String, keys: Seq[String])

  /** A signed-distributive aggregate: `delta` evaluates over joined
    * change rows (may reference `__sign`), `fold` merges partials.
    * These are EXTRA measures — the signed row count `n` is always
    * maintained structurally (it is the group-liveness criterion), so
    * no calling convention can silently drop live groups.
    */
  final case class Agg(name: String, delta: Column, fold: Column => Column)

  /** SUM(expr) in signed form. */
  def sumAgg(name: String, expr: Column): Agg =
    Agg(name, sum(col("__sign") * expr).cast("bigint"), c => sum(c).cast("bigint"))

  /** The structural signed row count — reserved column name. */
  val CountCol = "n"

  /** The (factSnap, dimSnaps…) basis vector the MV head reflects.
    * The MoR fold accrues delete-mask debt whose remedy is compaction
    * — a content-PRESERVING commit whose note is not a basis — so the
    * basis is the newest `jmv-basis` note the head's CONTENT reflects
    * ([[LakeTable.findContentNote]]: maintenance commits and
    * retention holes are stepped over; a rollback of the MV table
    * jumps to the RESTORED snapshot so the basis rolls back with the
    * data instead of resolving to an abandoned newer note).
    */
  def basisAll(mvRoot: String): Seq[Int] = MvBasis.of(mvRoot, MvBasis.Join).snaps

  /** Single-dimension convenience: the (factSnap, dimSnap) pair. */
  def basis(mvRoot: String): (Int, Int) = {
    val b = basisAll(mvRoot)
    require(b.size == 2,
      s"$mvRoot is a ${b.size - 1}-dimension join MV — use basisAll")
    (b(0), b(1))
  }

  private def state(df: DataFrame, group: Seq[String], aggs: Seq[Agg]): DataFrame = {
    require(!aggs.exists(_.name == CountCol),
      s"'$CountCol' is the structural signed count — name extra aggregates differently")
    df.groupBy(group.map(col): _*)
      .agg(sum(col("__sign")).cast("bigint").as(CountCol),
        aggs.map(a => a.delta.as(a.name)): _*)
  }

  /** Signed change rows of `root` over (from, head]: the CDF frame
    * with `__sign` = +1 for inserts, −1 for delete pre-images.
    */
  private def signedDelta(s: SparkSession, root: String, from: Int,
      head: Int): DataFrame =
    LakeTable.changelogRead(s, root, from, head)
      .withColumn("__sign",
        when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .drop("_change_type", "_change_snap")

  /** Materialize the view from all heads; returns the MV snapshot.
    * `prep` derives expression group columns (time buckets et al.)
    * over the JOINED rows before grouping — the same hook
    * [[IncrementalMv]] exposes, applied here to every staircase term
    * so the bucket function lives in one place (the definition).
    */
  def create(s: SparkSession, factRoot: String, dims: Seq[DimSpec],
      mvRoot: String, group: Seq[String], aggs: Seq[Agg],
      cfg: BlockWriter.Config,
      prep: DataFrame => DataFrame = identity): Int = {
    require(dims.nonEmpty, "join MV needs at least one dimension")
    val f = LakeTable.currentSnapshot(factRoot)
    val ds = dims.map(d => LakeTable.currentSnapshot(d.root))
    val full = dims.zip(ds).foldLeft(LakeTable.read(s, factRoot, Some(f))) {
      case (acc, (d, snap)) =>
        acc.join(broadcast(LakeTable.read(s, d.root, Some(snap))), d.keys)
    }.withColumn("__sign", lit(1L))
    val st = state(prep(full), group, aggs).filter(col(CountCol) > 0).persist()
    try {
      // fail at CREATE, not first refresh: the MoR fold can't
      // maintain a NULL leading group key (see refresh)
      // one aggregate job, not an escalating filter+take probe
      require(st.agg(count(when(col(group.head).isNull, lit(1))))
          .head.getLong(0) == 0L,
        s"join-MV: NULL in leading group column '${group.head}' cannot be " +
          "incrementally maintained (equality-keyed delete mask) — " +
          "coalesce it upstream")
      LakeTable.commit(s, mvRoot, st, cfg, group,
        note = MvBasis.note(MvBasis.Join, f +: ds))
    } finally { st.unpersist(); () }
  }

  /** Single-dimension convenience. */
  def create(s: SparkSession, factRoot: String, dimRoot: String,
      mvRoot: String, key: String, group: Seq[String], aggs: Seq[Agg],
      cfg: BlockWriter.Config): Int =
    create(s, factRoot, Seq(DimSpec(dimRoot, Seq(key))), mvRoot, group,
      aggs, cfg)

  /** Fold all tables' changes since the recorded basis into the MV
    * as ONE MoR MERGE commit touching only changed groups; returns
    * the new (fact, dims…) basis vector.
    *
    * The fold is O(Δ groups) in WRITE amplification too: changed
    * groups (keyed by the LEADING group column — the MERGE's
    * equality-delete key) re-land as new data files, groups whose
    * count reaches zero retire through the same commit's delete mask,
    * and data files of untouched groups are never rewritten
    * (spec-pinned byte-identical). When `group` has more than one
    * column, every MV row SHARING a changed leading-column value is
    * folded alongside (the eq-delete masks by that column) — still
    * bounded by the touched leading partitions, never |MV|. MoR debt
    * folds back at the next compaction, like every other merge.
    */
  def refresh(s: SparkSession, factRoot: String, dims: Seq[DimSpec],
      mvRoot: String, group: Seq[String], aggs: Seq[Agg],
      cfg: BlockWriter.Config,
      prep: DataFrame => DataFrame = identity): Seq[Int] = {
    require(dims.nonEmpty, "join MV needs at least one dimension")
    val bases = basisAll(mvRoot)
    require(bases.size == dims.size + 1,
      s"$mvRoot basis vector has ${bases.size - 1} dimensions, " +
        s"caller supplied ${dims.size}")
    val f0 = bases.head; val d0s = bases.tail
    val f1 = LakeTable.currentSnapshot(factRoot)
    val d1s = dims.map(d => LakeTable.currentSnapshot(d.root))
    if (f0 == f1 && d0s == d1s) return bases
    // a base table ROLLED BACK below the MV's basis has no forward
    // delta to fold — silent staleness here would masquerade as a
    // successful refresh, so fail pointedly (roll the MV back too,
    // or recreate it)
    require(f1 >= f0 && dims.indices.forall(i => d1s(i) >= d0s(i)),
      s"join-MV refresh: a base table of $mvRoot is BELOW the recorded " +
        s"basis (fact $f0→$f1, dims ${d0s.mkString(",")}→${d1s.mkString(",")}) " +
        "— the base was rolled back; roll back the MV to a matching " +
        "snapshot or recreate it")
    // The staircase: term 0 is ΔF against every dim's OLD snapshot;
    // term i is F¹ ⋈ dims[<i]¹ ⋈ ΔDᵢ ⋈ dims[>i]⁰. Every dimension
    // side is broadcast in every term; the fact table is only read
    // when some dimension actually changed.
    def joinDims(base: DataFrame, range: Range, snapOf: Int => Int): DataFrame =
      range.foldLeft(base) { (acc, j) =>
        acc.join(broadcast(
          LakeTable.read(s, dims(j).root, Some(snapOf(j)))), dims(j).keys)
      }
    val parts = Seq.newBuilder[DataFrame]
    if (f1 > f0)
      parts += joinDims(signedDelta(s, factRoot, f0, f1),
        dims.indices, d0s)
    dims.indices.foreach { i =>
      if (d1s(i) > d0s(i)) {
        val dD = signedDelta(s, dims(i).root, d0s(i), d1s(i))
          .withColumnRenamed("__sign", "__dsign")
        val withNew = joinDims(LakeTable.read(s, factRoot, Some(f1)),
          0 until i, d1s)
        val term = joinDims(
          withNew.join(broadcast(dD), dims(i).keys),
          (i + 1) until dims.size, d0s)
        parts += term.withColumn("__sign", col("__dsign")).drop("__dsign")
      }
    }
    val delta = parts.result().reduce(_ unionByName _)
    // prep BEFORE grouping: each signed change row derives its
    // expression group columns from the joined values it carries —
    // insert and delete pre-images of the same row derive the same
    // bucket, so signs cancel exactly
    val deltaState = state(prep(delta), group, aggs)
    // fold key = the MERGE's equality-delete key: prefer a group
    // column whose type the DSv2 read path applies eq-deletes on (a
    // timestamp BUCKET may lead the GROUP BY — the mask then keys on
    // another group column; the fold stays bounded by that column's
    // touched values, a superset of the touched groups)
    val gk = group.find(g => deltaState.schema(g).dataType !=
        org.apache.spark.sql.types.TimestampType)
      .getOrElse(group.head)
    val changedKeys = deltaState.select(col(gk)).distinct().persist()
    try {
      // the eq-delete mask and the semi-join fold both key on
      // EQUALITY over gk — a NULL lead-group value can neither be
      // retired nor re-folded, so it fails HERE, pointedly, instead
      // of silently duplicating the group
      // one aggregate job over the persisted keys (also materializes
      // the cache the broadcast below reuses), not an escalating
      // filter+take probe that scans partitions in several jobs — and
      // the SAME job reports the changed-key count, which bounds the
      // staged file count (files ≤ non-empty lead buckets ≤ keys) and
      // sizes the merge's write-task fan-out below
      val keyProbe = changedKeys.agg(
        count(when(col(gk).isNull, lit(1))).as("_nulls"),
        count(lit(1)).as("_n")).head()
      require(keyProbe.getLong(0) == 0L,
        s"join-MV fold: NULL in leading group column '$gk' cannot ride " +
          "the equality-delete mask — coalesce the dimension attribute " +
          "upstream (e.g. to a sentinel) before maintaining it as an MV key")
      val nChangedKeys =
        math.max(1L, math.min(keyProbe.getLong(1), Int.MaxValue.toLong)).toInt
      val note = MvBasis.note(MvBasis.Join, f1 +: d1s)
      val mvCur = LakeTable.read(s, mvRoot)
      // fold current values of exactly the touched lead-key rows with
      // the delta; everything else stays on disk untouched
      val folded = mvCur.join(broadcast(changedKeys), Seq(gk), "left_semi")
        .unionByName(deltaState)
        .groupBy(group.map(col): _*)
        .agg(sum(col(CountCol)).cast("bigint").as(CountCol),
          aggs.map(a => a.fold(col(a.name)).as(a.name)): _*)
      // align to the TABLE's stored column ORDER (merge's schema gate
      // compares full JSON): once the MV carries eq-delete debt, the
      // MoR read hoists the mask key to the front, so mvCur's order
      // is join-shaped — only its per-field nullability is the read
      // path's truth
      val tableOrder = LakeTable.storedSchemaOf(mvRoot)
        .map(_.fieldNames.toSeq).getOrElse(mvCur.schema.fieldNames.toSeq)
      val aligned = org.apache.spark.sql.types.StructType(
        tableOrder.map(n => mvCur.schema(n)))
      // live's keys ⊆ changedKeys (the fold is keyed on them), so the
      // covered-keys merge stages live exactly once and commits a pure
      // retirement mask when every touched group died — no pre-commit
      // isEmpty probe, no persist
      val live = folded.filter(col(CountCol) > 0).to(aligned)
      LakeTable.merge(s, mvRoot, gk, live,
        cfg.copy(writeTasks = Some(nChangedKeys)), group, note = note,
        extraDeleteKeys = Some(changedKeys),
        deleteKeysCoverUpdates = true): Unit
    } finally { changedKeys.unpersist(); () }
    f1 +: d1s
  }

  /** Single-dimension convenience: returns the (fact, dim) basis. */
  def refresh(s: SparkSession, factRoot: String, dimRoot: String,
      mvRoot: String, key: String, group: Seq[String], aggs: Seq[Agg],
      cfg: BlockWriter.Config): (Int, Int) = {
    val b = refresh(s, factRoot, Seq(DimSpec(dimRoot, Seq(key))), mvRoot,
      group, aggs, cfg)
    (b(0), b(1))
  }
}
