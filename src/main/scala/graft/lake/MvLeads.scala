package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.writer.BlockWriter

/** The LEAD-GROUP plumbing the state-backed MV refreshes share
  * ([[DistinctMv]], [[MinMaxMv]], [[SketchStateMv]]): a refresh names
  * the lead-group values its change range touched, reads only those
  * groups' files, and re-lands only those groups' rows.
  */
private[lake] object MvLeads {

  /** The distinct `lead` values of `rows` while metadata-scale: at
    * most the MV's `graft.mvrefresh.maxgroups` policy (default
    * [[MinMaxMv.DefaultMaxGroups]]) of them, else None. One job — a
    * cap + 1 limit, no count pass; Some(Nil) iff `rows` is empty.
    */
  def collect(mvRoot: String, rows: DataFrame, lead: String): Option[Seq[Any]] = {
    val cap = math.min(AutoMaintain.policies(mvRoot)
      .getOrElse(AutoMaintain.MvMaxGroupsKey, MinMaxMv.DefaultMaxGroups),
      Int.MaxValue - 1L).toInt
    val ls = rows.select(col(lead)).distinct()
      .limit(cap + 1).collect().map(_.get(0)).toSeq
    if (ls.size <= cap) Some(ls) else None
  }

  /** A DSv2 read of `root` pruned to the given lead values (manifest
    * stat pruning on the lead column; NULL leads ride an explicit
    * isNull disjunct).
    */
  def prunedRead(s: SparkSession, root: String, lead: String,
      leads: Seq[Any]): DataFrame = {
    val nn = leads.filterNot(_ == null)
    val pred =
      if (nn.isEmpty) col(lead).isNull
      else if (nn.size < leads.size) col(lead).isin(nn: _*) || col(lead).isNull
      else col(lead).isin(nn: _*)
    s.read.format("graft-lake").load(root).filter(pred)
  }

  /** Re-land the rows of the touched `leads` of `root` (stored schema
    * `stored`) as ONE merge keyed on `lead`: `live` replaces every
    * stored row of those leads, and a lead left with no live row
    * retires through the same commit's equality-delete mask. `live`'s
    * lead values must lie within `leads`, so the covered-keys merge
    * stages it once with no emptiness probe (a fully retired set
    * commits as a pure mask). Columns go in stored order — merge's
    * gate checks name and type. Staged files ≤ touched leads, which
    * sizes the write's task fan-out (bucket width untouched).
    */
  def merge(s: SparkSession, root: String, stored: StructType, lead: String,
      live: DataFrame, leads: Seq[Any], cfg: BlockWriter.Config,
      statCols: Seq[String], note: String): Unit = {
    val leadsDf = s.createDataFrame(
      java.util.Arrays.asList(leads.map(v => Row(v)): _*),
      StructType(Seq(stored(lead))))
    LakeTable.merge(s, root, lead,
      live.select(stored.fieldNames.toIndexedSeq.map(col): _*),
      cfg.copy(writeTasks = Some(math.max(1, leads.size))), statCols,
      note = note, extraDeleteKeys = Some(leadsDf),
      deleteKeysCoverUpdates = true): Unit
  }
}
