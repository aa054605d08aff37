package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.writer.BlockWriter

/** Wall time of `LakeTable.read*` over a merge-on-read table, for A/B
  * work on the read path (test scope, not part of the driver contract):
  *
  *   sbt "Test/runMain graft.tools.ReadTiming <sfDir> <out.json>"
  *
  * The table is the sf's `events` in two commits with a positional, an
  * equality and a deletion-vector delete between them. Each case is
  * drained (a hash sum over every column) twice to warm up, then timed
  * nine times; the output records p50/min per case and a result check
  * (row count / hash sum over the columns by name, file paths left
  * out) that two builds must agree on.
  */
object ReadTiming {
  def main(args: Array[String]): Unit = {
    val Array(dir, outPath) = args
    val spark = graft.TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val events = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val n = events.count()
    val cut = n * 6 / 10
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 4096)
    val root = graft.util.Scratch.dir("graft_readtiming_")
    LakeTable.commit(spark, root, events.filter(col("event_id") < cut), cfg, Seq("event_id"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 10 === 3))
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.range(1).select(lit("click").as("event_type")))
    LakeTable.deletePositionsDv(spark, root, LakeTable.withRowCoords(spark, root)
      .filter(col("event_id") % 10 === 7)
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx)))
    LakeTable.commit(spark, root, events.filter(col("event_id") >= cut), cfg, Seq("event_id"))
    def drain(df: DataFrame): Long =
      df.select(sum(hash(df.columns.toSeq.map(col): _*).cast("long"))).collect()(0)
        .getLong(0)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "read_clean_snap1" -> (() => LakeTable.read(spark, root, Some(1))),
      "read_mor_head" -> (() => LakeTable.read(spark, root)),
      "with_row_coords_head" -> (() => LakeTable.withRowCoords(spark, root)),
      "incremental_0_5" -> (() => LakeTable.incrementalRead(spark, root, 0, 5)),
      "changelog_0_5" -> (() => LakeTable.changelogRead(spark, root, 0, 5)))
    val reps = 9
    val out = cases.map { case (name, f) =>
      (1 to 2).foreach(_ => drain(f()))
      val ms = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); drain(f()); (System.nanoTime() - t0) / 1e6
      }.sorted
      val df = f()
      val cols = df.columns.sorted.filter(_ != LakeTable.CoordPath).toSeq
      val check = s"${df.count()}/${drain(df.select(cols.map(col): _*))}"
      println(f"[timing] $name%-22s p50=${ms(reps / 2)}%.1f ms min=${ms.head}%.1f check=$check")
      s""""$name": {"p50_ms": ${ms(reps / 2)}, "min_ms": ${ms.head}, """ +
        s""""all_ms": [${ms.mkString(", ")}], "check": "$check"}"""
    }
    val w = new java.io.PrintWriter(outPath)
    try w.println(s"""{"rows": $n, ${out.mkString(", ")}}""") finally w.close()
    graft.util.Scratch.rmNow(root)
    spark.stop()
  }
}
