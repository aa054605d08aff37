package graft.lake

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.writer.BlockWriter

/** SKETCH-STATE distinct-count materialized views — the one create and
  * refresh the bitmap ([[BitmapDistinctMv]]) and HLL ([[HllDistinctMv]])
  * kinds share; each kind is a [[SketchStateMv.Law]].
  *
  * State (`<mv>/<state dir>`, a lake table nested like [[DistinctMv]]'s):
  * one row per (group, cell index) holding the cell's value — the fold
  * of the law's contributions of the group's keys that land in that
  * cell. The cell fold is APPEND-DISTRIBUTIVE (state ∪ Δ folds
  * cell-wise). A sentinel index -1 row carries the group's ROW COUNT,
  * so the VISIBLE view — `n` plus the law's distinct measure — derives
  * from state alone. Every state row carries the stored cell key
  * ([[DistinctMv.SKeyCol]] over (group, index)) that merges mask on.
  *
  * Refresh modes (the MinMax lattice applied to sketches):
  *  - `fold` — a pure-APPEND range: the delta files' cells fold into
  *    the stored touched cells (the sentinel adds) as one merge on the
  *    cell key. The fact head is never read; untouched state files stay
  *    byte-identical.
  *  - `targeted` — a range with DELETES (no cell can un-fold without
  *    the group's other rows): the change feed names the touched lead
  *    groups, which recompute from the fact head through the IN-pruned
  *    scan and land as one merge whose mask retires every prior cell of
  *    those groups.
  *  - `full` — past the `graft.mvrefresh.maxgroups` cap, on a NULL lead,
  *    over an expired range, or when the lead is a derived bucket the
  *    change feed cannot name (`targetedOk = false`): one state
  *    recompute.
  * The visible rows then land as a lead-masked merge when the state
  * change named metadata-scale leads from the view's own basis and the
  * lead can equality-mask; otherwise as one group-domain-sized rewrite.
  *
  * Crash safety: the state commits FIRST, stamping its own
  * `<prefix>-basis-` note; the view commits second under the
  * `dmv-basis-` note it shares with [[DistinctMv]], so the SQL front
  * door's basis/mode plumbing and the rewrite rule's freshness check
  * serve every distinct kind. A crash in between leaves state-basis >
  * view-basis, and the next refresh re-derives the view from the state
  * without touching it — both commits are idempotent re-derivations of
  * durable state.
  */
object SketchStateMv {

  /** Where a sketch kind keeps its state and what it calls the state's
    * columns and notes — the kind's companion object.
    */
  abstract class Layout(stateDir: String, val idxCol: String,
      val valCol: String, val notePrefix: String) {

    /** The hidden state table's root, nested inside the MV dir. */
    def stateRoot(mvRoot: String): String =
      java.nio.file.Paths.get(mvRoot, stateDir).toString

    /** Maintenance mode of the newest refresh the view reflects. */
    def mode(mvRoot: String): String = DistinctMv.mode(mvRoot)

    /** (state snapshot, fact basis it reflects), read consistently —
      * see [[MvBasis.pinned]].
      */
    def stateBasisPinned(mvRoot: String): Option[(Int, Int)] =
      MvBasis.pinned(stateRoot(mvRoot), notePrefix)
  }

  /** What one sketch kind contributes: its layout, how a key becomes a
    * cell, how a cell folds, and how the view reads the cells back.
    */
  trait Law {
    def layout: Layout

    /** (cell index, cell contribution) of a row's non-null key. A key
      * that cannot enter the state fails the index with [[reject]].
      */
    def cellOf(keyCol: String): (Column, Column)

    /** The append-distributive fold of a cell's contributions. */
    def foldCell(v: Column): Column

    /** The visible rows from the group-wise state: the row count `n`
      * and the distinct measure `distinctName`.
      */
    def derive(cells: RelationalGroupedDataset, n: Column,
        distinctName: String): DataFrame
  }

  /** `msg` as the failure of the Spark job evaluating a row where
    * `cond` holds. A law guards its cell index with it: every state
    * job computes the index of every row it folds (the index is
    * written and keyed on), so the check rides reads the refresh makes
    * anyway and fails before anything commits. [[create]] and
    * [[refresh]] rethrow it as an IllegalArgumentException.
    */
  def reject(cond: Column, msg: Column): Column = when(cond, raise_error(msg))

  private val rethrowRejected: PartialFunction[Throwable, Nothing] = {
    case e: Exception if rejection(e).isDefined =>
      throw new IllegalArgumentException(rejection(e).get, e)
  }

  private def rejection(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable
          if t.getCondition == "USER_RAISED_EXCEPTION" =>
        t.getMessageParameters.get("errorMessage")
    }

  private def stateNote(law: Law, f: Int, mode: String): String =
    MvBasis.note(law.layout.notePrefix, Seq(f), mode)

  /** The keyed state of a plain base read: the cells of its non-null
    * keys plus the index -1 row-count sentinel.
    */
  private def stateOf(law: Law, base: DataFrame, group: Seq[String],
      keyCol: String): DataFrame = {
    val l = law.layout
    val cols = (group :+ l.idxCol :+ l.valCol).map(col)
    val (idx, v) = law.cellOf(keyCol)
    val cells = base.filter(col(keyCol).isNotNull)
      .select(group.map(col) :+ idx.cast("long").as(l.idxCol) :+
        v.as("_v"): _*)
      .groupBy((group :+ l.idxCol).map(col): _*)
      .agg(law.foldCell(col("_v")).cast("long").as(l.valCol))
    val sentinel = base.groupBy(group.map(col): _*)
      .agg(count(lit(1)).cast("long").as(l.valCol))
      .withColumn(l.idxCol, lit(-1L))
    val st = cells.select(cols: _*).unionByName(sentinel.select(cols: _*))
    st.withColumn(DistinctMv.SKeyCol,
      DistinctMv.cellKey(st.schema, group :+ l.idxCol))
  }

  /** Visible rows from a state frame: n = the sentinel, plus the law's
    * distinct measure.
    */
  private def derive(law: Law, st: DataFrame, group: Seq[String],
      distinctName: String): DataFrame = {
    val l = law.layout
    law.derive(st.groupBy(group.map(col): _*),
      sum(when(col(l.idxCol) === -1L, col(l.valCol)).otherwise(0L))
        .cast("bigint").as(IncrementalJoinMv.CountCol),
      distinctName)
  }

  /** Materialize state + view from the fact head; returns the MV
    * snapshot.
    */
  def create(s: SparkSession, law: Law, factRoot: String, mvRoot: String,
      group: Seq[String], keyCol: String, distinctName: String,
      cfg: BlockWriter.Config,
      prep: DataFrame => DataFrame = identity): Int = try {
    val stRoot = law.layout.stateRoot(mvRoot)
    val f = LakeTable.currentSnapshot(factRoot)
    val base = prep(LakeTable.read(s, factRoot, Some(f)))
    // the hidden state owns its own mask hygiene (see
    // DistinctMv.StateCompactFiles)
    AutoMaintain.setPolicy(stRoot,
      AutoMaintain.AutoCompactKey, DistinctMv.StateCompactFiles)
    LakeTable.commit(s, stRoot, stateOf(law, base, group, keyCol),
      DistinctMv.stateCfg(group), group, note = stateNote(law, f, "full"))
    LakeTable.commit(s, mvRoot,
      derive(law, LakeTable.read(s, stRoot), group, distinctName),
      cfg, group, note = MvBasis.note(MvBasis.Distinct, Seq(f), "full"))
  } catch rethrowRejected

  /** Fold fact changes since the basis; returns the new fact basis. */
  def refresh(s: SparkSession, law: Law, factRoot: String, mvRoot: String,
      group: Seq[String], keyCol: String, distinctName: String,
      cfg: BlockWriter.Config, prep: DataFrame => DataFrame = identity,
      targetedOk: Boolean = true): Int = try {
    val lead = group.head
    val f0 = DistinctMv.basis(mvRoot)
    val f1 = LakeTable.currentSnapshot(factRoot)
    val stRoot = law.layout.stateRoot(mvRoot)
    val stNote = MvBasis.of(stRoot, law.layout.notePrefix)
    val sb = stNote.snaps.head
    if (f0 == f1 && sb == f0) return f0
    // with no state commit below, the view re-derives from the state
    // as its last commit left it (crash recovery): that commit's mode
    var mode = stNote.mode
    var leads: Option[Seq[Any]] = None
    if (sb < f1) {
      val appendOnly =
        scala.util.Try(IncrementalMv.appendOnly(factRoot, sb, f1))
          .getOrElse(false)
      if (appendOnly) {
        val delta0 = prep(LakeTable.incrementalRead(s, factRoot, sb, f1))
          .persist()
        try {
          // ONE materializing action decides emptiness AND the touched
          // leads: every delta row has a lead slot (null included), so
          // zero collected leads ⇔ empty delta
          val deltaState = stateOf(law, delta0, group, keyCol)
          val ls = MvLeads.collect(mvRoot, deltaState, lead)
          val empty = ls.contains(Nil)
          if (empty && sb == f0) return f0
          if (!empty) {
            mode = "fold"
            leads = ls
            foldMerge(s, law, stRoot, deltaState, group, leads, f1)
          }
        } finally { delta0.unpersist(); () }
      } else {
        val changes =
          if (!targetedOk) None
          else scala.util.Try(LakeTable.changelogRead(s, factRoot, sb, f1)
            .select(col(lead))).toOption
        changes.flatMap(MvLeads.collect(mvRoot, _, lead)) match {
          case Some(ts) if ts.nonEmpty && !ts.contains(null) =>
            mode = "targeted"
            leads = Some(ts)
            val stored = LakeTable.storedSchemaOf(stRoot).get
            val cur = prep(
              s.read.format("graft-lake").option("snapshot", f1.toString)
                .load(factRoot).filter(col(lead).isin(ts: _*)))
            val next = stateOf(law, cur, group, keyCol)
            // retire EVERY prior cell of the touched groups (vanished
            // cells included) through the same commit's mask; the mask
            // covers live's keys, so the covered-keys merge needs no
            // emptiness probe (stored column order: name+type gate)
            val allKeys = MvLeads.prunedRead(s, stRoot, lead, ts)
              .select(col(DistinctMv.SKeyCol))
              .unionByName(next.select(col(DistinctMv.SKeyCol))).distinct()
            LakeTable.merge(s, stRoot, DistinctMv.SKeyCol,
              next.select(stored.fieldNames.toIndexedSeq.map(col): _*),
              DistinctMv.stateCfg(group)
                .copy(writeTasks = Some(math.max(1, ts.size))),
              group, note = stateNote(law, f1, "targeted"),
              extraDeleteKeys = Some(allKeys),
              deleteKeysCoverUpdates = true): Unit
          case Some(ts) if ts.isEmpty =>
            // content-preserving commits only: nothing to fold
            if (sb == f0) return f0
          case _ =>
            mode = "full"
            val base = prep(LakeTable.read(s, factRoot, Some(f1)))
            LakeTable.rewrite(s, stRoot, stateOf(law, base, group, keyCol),
              DistinctMv.stateCfg(group), group,
              note = stateNote(law, f1, "full")): Unit
        }
      }
    }
    // visible rows: lead-masked merge when the state change named the
    // touched leads from the view's own basis and the lead key can
    // equality-mask; else the group-domain-sized rewrite
    val vs = LakeTable.storedSchemaOf(mvRoot)
    val maskable = leads.exists(ls => ls.nonEmpty && !ls.contains(null)) &&
      sb == f0 && vs.exists(_.fields.find(_.name == lead)
        .exists(_.dataType != TimestampType))
    val note = MvBasis.note(MvBasis.Distinct, Seq(f1), mode)
    if (maskable)
      // derived from the lead-pruned state read, so its leads ⊆ leads
      MvLeads.merge(s, mvRoot, vs.get, lead,
        derive(law, MvLeads.prunedRead(s, stRoot, lead, leads.get), group,
          distinctName),
        leads.get, cfg, group, note)
    else
      LakeTable.rewrite(s, mvRoot,
        derive(law, LakeTable.read(s, stRoot), group, distinctName),
        cfg, group, note = note): Unit
    f1
  } catch rethrowRejected

  /** Append fold: stored touched cells ∪ delta cells → the law's cell
    * fold / summed sentinels, one merge on the cell key.
    */
  private def foldMerge(s: SparkSession, law: Law, stRoot: String,
      deltaState: DataFrame, group: Seq[String], leads: Option[Seq[Any]],
      f1: Int): Unit = {
    val idx = col(law.layout.idxCol)
    val v = col(law.layout.valCol)
    val names = LakeTable.storedSchemaOf(stRoot).get.fieldNames.toIndexedSeq
    val stateRead = leads match {
      case Some(ls) => MvLeads.prunedRead(s, stRoot, group.head, ls)
      case None => LakeTable.read(s, stRoot)
    }
    val touchedKeys = deltaState.select(col(DistinctMv.SKeyCol)).distinct()
    // the sentinel ADDs, cells take the law's fold — split BEFORE
    // aggregating so neither touches the other's rows (a bitset word
    // summed twice would overflow long under ANSI)
    val folded = stateRead.select(names.map(col): _*)
      .join(touchedKeys, Seq(DistinctMv.SKeyCol), "left_semi")
      .unionByName(deltaState.select(names.map(col): _*))
      .withColumn("_sv", when(idx === -1L, v).otherwise(0L))
      .withColumn("_cv", when(idx >= 0L, v).otherwise(0L))
      .groupBy((group :+ law.layout.idxCol :+ DistinctMv.SKeyCol).map(col): _*)
      .agg(sum(col("_sv")).cast("long").as("_s"),
        law.foldCell(col("_cv")).cast("long").as("_c"))
      .withColumn(law.layout.valCol,
        when(idx === -1L, col("_s")).otherwise(col("_c")))
    // folded keys ⊆ touchedKeys (semi-join ∪ delta cells), so the
    // covered-keys merge stages live once — no persist, no emptiness
    // probe; staged files ≤ collected leads sizes the task fan-out
    LakeTable.merge(s, stRoot, DistinctMv.SKeyCol,
      folded.select(names.map(col): _*),
      DistinctMv.stateCfg(group)
        .copy(writeTasks = leads.map(ls => math.max(1, ls.size))),
      group, note = stateNote(law, f1, "fold"),
      extraDeleteKeys = Some(touchedKeys),
      deleteKeysCoverUpdates = true): Unit
  }
}
