package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.writer.BlockWriter

/** INCREMENTAL MATERIALIZED VIEW maintenance over a lake table — the
  * aggregate-table pattern every warehouse pipeline ends in: the MV
  * is itself a manifest-tracked lake table holding one row per group,
  * and each refresh folds ONLY the base table's new rows into it.
  *
  * The refresh basis (the base snapshot the MV state reflects) rides
  * the MV's manifest note, so the MV is self-describing: `refresh`
  * reads the basis from the head commit, pulls the base's delta with
  * [[LakeTable.incrementalRead]] (manifest-resolved — O(new data),
  * never a base scan), partially aggregates it, and folds partials
  * into the prior state with per-aggregate fold expressions. The fold
  * is a groupBy over |MV| + |delta groups| rows — at a 100 TB base
  * with a million-group MV, a refresh costs the new files plus a
  * million-row shuffle, not a 100 TB scan.
  *
  * Only DISTRIBUTIVE aggregates fold (SUM, COUNT via sum-of-counts,
  * MIN/MAX under append-only history). When the refresh range
  * contains NON-APPEND commits (MoR deletes, merges, rewrites —
  * anything that removed or replaced rows), per-group subtraction is
  * unsound for min/max and unavailable for the general case, so
  * refresh falls back to a FULL recompute from the base head —
  * exactly Iceberg's materialized-view staleness rule (incremental
  * only over append-only snapshot ranges). The chosen mode is
  * recorded in the commit note (`mv-basis-N-incr` / `-full`).
  *
  * Aggregate spec: each [[Agg]] names an output column, gives the
  * aggregate over the BASE rows (`delta`), and the fold over partial
  * states (`fold` applied to the output column name) — e.g.
  * `Agg("n", count(lit(1)), sum)` or `Agg("mx", max(col("v")), max)`.
  */
object IncrementalMv {

  final case class Agg(name: String, delta: Column, fold: Column => Column)

  /** The basis snapshot the MV head reflects (fails on a non-MV
    * table). Resolved with [[LakeTable.findContentNote]]: content-
    * preserving maintenance (compaction, rewrite-manifests) may stamp
    * its own notes above the refresh commit, and a rollback of the MV
    * table jumps the walk to the RESTORED snapshot so the basis rolls
    * back with the data.
    */
  def basis(mvRoot: String): Int = MvBasis.of(mvRoot, MvBasis.Single).snaps.head

  /** The maintenance MODE of the newest refresh the head reflects
    * (`incr` / `full`) — surfaced in the `t.mv` metadata row.
    */
  def mode(mvRoot: String): String = MvBasis.mode(mvRoot, MvBasis.Single)

  private def state(spark: SparkSession, base: DataFrame,
      group: Seq[String], aggs: Seq[Agg]): DataFrame =
    base.groupBy(group.map(col): _*)
      .agg(aggs.head.delta.as(aggs.head.name),
        aggs.tail.map(a => a.delta.as(a.name)): _*)

  /** Append DERIVED read-time columns (e.g. AVG = SUM / COUNT) to a
    * folded state: they are plain projections over the stored
    * aggregates, carried in the MV's files so `SELECT * FROM mv` is a
    * flat table read — but NEVER folded (refresh recomputes them from
    * the re-folded aggregates, so they need no maintenance law).
    */
  private def withDerived(df: DataFrame,
      derived: Seq[(String, Column)]): DataFrame =
    derived.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }

  /** Materialize the MV from the base head; returns the MV snapshot.
    * `prep` runs over every base read BEFORE grouping — the hook
    * expression-group (time-bucket) definitions derive their group
    * columns through; identity for plain-column groups.
    */
  def create(spark: SparkSession, baseRoot: String, mvRoot: String,
      group: Seq[String], aggs: Seq[Agg], cfg: BlockWriter.Config,
      derived: Seq[(String, Column)] = Nil,
      prep: DataFrame => DataFrame = identity): Int = {
    val baseHead = LakeTable.currentSnapshot(baseRoot)
    LakeTable.commit(spark, mvRoot,
      withDerived(state(spark,
        prep(LakeTable.read(spark, baseRoot, Some(baseHead))), group, aggs),
        derived),
      cfg, group, note = MvBasis.note(MvBasis.Single, Seq(baseHead), "full"))
  }

  /** `true` iff every commit in (from, to] only ADDED data files —
    * no deletes landed, no files were retired, and nothing entered
    * under a FOREIGN seq (a rollback's partsFrom restore re-references
    * files and delete entries with their ORIGINAL seqs: such a commit
    * changes content without adding anything at seq s, so classifying
    * it append-only would fold an EMPTY delta and stamp a fresh basis
    * over stale state — the same hole [[LakeTable.changelogRead]]'s
    * replace detection closes). Resolved from manifests alone.
    */
  private[lake] def appendOnly(root: String, from: Int, to: Int): Boolean =
    ((from + 1) to to).forall { s =>
      val m = LakeTable.manifest(root, s)
      val pre = if (s == 1) None else Some(LakeTable.manifest(root, s - 1))
      val prePaths = pre.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      val preDels = pre.map(_.deletes.toSet)
        .getOrElse(Set.empty[LakeTable.DeleteEntry])
      m.deletes.forall(_.seq != s) &&
        (prePaths -- m.files.map(_.path)).isEmpty &&
        !m.files.exists(f => f.seq != s && !prePaths.contains(f.path)) &&
        !m.deletes.exists(d => d.seq != s && !preDels.contains(d)) &&
        (preDels -- m.deletes.toSet).isEmpty
    }

  /** Public face of [[appendOnly]] for the query-rewrite rule's
    * READ-TIME compensation tier ([[graft.plans.MvRewrite]]): a stale
    * MV plus the appended tail answers exactly when the range between
    * the MV's basis and the scanned snapshot is append-only — the
    * same precondition the incremental refresh itself requires.
    */
  def appendOnlyRange(root: String, from: Int, to: Int): Boolean =
    appendOnly(root, from, to)

  /** Fold the base's changes since the recorded basis into the MV
    * state as one rewrite commit; returns the new basis snapshot.
    * Incremental when the range is append-only, full otherwise.
    */
  def refresh(spark: SparkSession, baseRoot: String, mvRoot: String,
      group: Seq[String], aggs: Seq[Agg], cfg: BlockWriter.Config,
      derived: Seq[(String, Column)] = Nil,
      prep: DataFrame => DataFrame = identity): Int = {
    val from = basis(mvRoot)
    val baseHead = LakeTable.currentSnapshot(baseRoot)
    if (baseHead == from) return from
    val incr = appendOnly(baseRoot, from, baseHead)
    val next =
      if (!incr) state(spark,
        prep(LakeTable.read(spark, baseRoot, Some(baseHead))), group, aggs)
      else {
        val delta = state(spark,
          prep(LakeTable.incrementalRead(spark, baseRoot, from, baseHead)),
          group, aggs)
        // fold over the STORED aggregates only — derived read-time
        // columns are projections, recomputed below, never folded
        LakeTable.read(spark, mvRoot)
          .select((group ++ aggs.map(_.name)).map(col): _*)
          .unionByName(delta)
          .groupBy(group.map(col): _*)
          .agg(aggs.head.fold(col(aggs.head.name)).as(aggs.head.name),
            aggs.tail.map(a => a.fold(col(a.name)).as(a.name)): _*)
      }
    // the basis stamp rides the state commit itself — atomic: a
    // reader never sees new state with an old basis or vice versa
    LakeTable.rewrite(spark, mvRoot, withDerived(next, derived), cfg, group,
      note = MvBasis.note(MvBasis.Single, Seq(baseHead),
        if (incr) "incr" else "full"))
    baseHead
  }
}
