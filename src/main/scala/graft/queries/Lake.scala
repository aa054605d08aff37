package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.sources.Tables
import graft.writer.BlockWriter

/** Lake-metadata queries (SURVEY.md §2): snapshot isolation / time
  * travel and stats-based file pruning over [[LakeTable]] — the
  * read-side capabilities that complete the reference's write-side
  * lake (main.go:48-56). Both queries build a manifest-tracked table
  * inside the query and reduce to results computable directly from
  * the source table, so the DuckDB gate checks snapshot semantics and
  * prune correctness, not just query algebra.
  */
object Lake {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tmp(prefix: String): String = graft.util.Scratch.dir(prefix)

  // --- snapshot_read: two-generation commit history read back AS OF
  // each snapshot. Gen 1 = even event_ids, gen 2 appends the odd ones;
  // reading snapshot 1 after commit 2 must still see ONLY gen 1 (the
  // manifest pins the file list — no directory relisting), and
  // snapshot 2 sees the union atomically. The oracle replays both
  // generations from the source table.
  def snapshotRead(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lake_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg,
      Seq("event_id", "user_id"))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg,
      Seq("event_id", "user_id"))
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5)).cast("bigint").as("sum_value_x100"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("snap"), col("event_type"))
  }

  val snapshotReadSql: String =
    """WITH s1 AS (SELECT * FROM events WHERE event_id % 2 = 0),
      |snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_id, event_type, value FROM s1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_id, event_type, value FROM events)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- prune_scan: the Z-order payoff — a 2-D predicate over a
  // Z-clustered, manifest-tracked layout. Files are laid out in z
  // order (day ⋈ value-bucket bit-interleave), so per-file min/max
  // stats are tight in BOTH dimensions and the manifest prunes most
  // files before any IO (LakeSpec asserts touched ≪ total); row
  // filters re-check survivors, so the result is exact regardless of
  // pruning. The oracle computes the same predicate directly.
  // window sits inside the data's day span (testdata events cover
  // ~30 distinct days) and aligns to power-of-2 blocks in both
  // dimensions — an aligned window maps to few contiguous z-curve
  // intervals, which is where Z-order pruning shines (a straddling
  // window fragments the curve and touches ~2× the files; measured
  // 7/42 files touched aligned vs 17/43 straddling at sf0.01).
  private[graft] val PRUNE_DAY: (Long, Long) = (16L, 23L)
  private[graft] val PRUNE_VB: (Long, Long) = (16L, 31L)

  /** Write events as a Z-ordered manifest-tracked lake table; returns
    * the snapshot id. Shared by prune_scan and LakeSpec.
    */
  private[graft] def writeZLayout(s: SparkSession, dir: String, root: String,
      maxRecordsPerFile: Int): Int = {
    val day = expr("(unix_micros(ts) div 86400000000) % 256").cast("bigint")
    val vb = least(lit(255L), floor(col("value") / 2).cast("bigint"))
    val ev = t(s, dir, "events")
      .withColumn("day", day)
      .withColumn("vb", vb)
      .withColumn("z", Advanced.zInterleave(col("day"), col("vb")))
    // RANGE-clustered on z: files carry disjoint z extents, so their
    // day/vb min/max stats are tight in both dimensions.
    LakeTable.commit(s, root, ev,
      BlockWriter.Config("z", "z", maxRecordsPerFile), Seq("day", "vb", "z"),
      rangeCluster = true)
  }

  def pruneScan(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_zl_")
    writeZLayout(s, dir, root, maxRecordsPerFile = 1024)
    val (rows, _, _) = LakeTable.prunedRead(s, root,
      Map("day" -> PRUNE_DAY, "vb" -> PRUNE_VB))
    rows.groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        min(col("vb")).as("min_vb"), max(col("vb")).as("max_vb"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  val pruneScanSql: String =
    s"""WITH d AS (
       |  SELECT user_id,
       |    (EPOCH_US(ts) // 86400000000) % 256 AS day,
       |    least(255, CAST(floor(value / 2) AS BIGINT)) AS vb
       |  FROM events)
       |SELECT day, COUNT(*) AS n, MIN(vb) AS min_vb, MAX(vb) AS max_vb,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM d
       |WHERE day BETWEEN ${PRUNE_DAY._1} AND ${PRUNE_DAY._2}
       |  AND vb BETWEEN ${PRUNE_VB._1} AND ${PRUNE_VB._2}
       |GROUP BY day
       |ORDER BY day""".stripMargin

  // --- lake_compact: small-file compaction as a REWRITE commit —
  // the table is seeded as a scatter of tiny files, then rewritten
  // into task-sized files; the new manifest lists only the compacted
  // files while snapshot 1 keeps reading the scatter (time travel
  // across maintenance). The query reads BOTH snapshots and reduces
  // each to the same aggregate — proving the rewrite preserved
  // content exactly; LakeSpec asserts the file count actually shrank.
  private def sumValX100 = sum(floor(col("value") * 100 + 0.5)).cast("bigint")

  def lakeCompact(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lc_")
    val ev = t(s, dir, "events")
      .filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.commit(s, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 64), Seq("event_id"))
    LakeTable.rewrite(s, root, LakeTable.read(s, root, Some(1)),
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1 << 20), Seq("event_id"))
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeCompactSql: String =
    """WITH sub AS (SELECT event_id, event_type, value FROM events WHERE event_id % 7 = 0),
      |snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, * FROM sub
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, * FROM sub)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_delete: copy-on-write DELETE — snapshot 2 rewrites the
  // table minus the deleted keys; snapshot 1 still reads the
  // pre-delete data. The CRUD completion of the lake layer: append
  // (snapshot_read), compact (lake_compact), delete (here) — all the
  // same manifest mechanism.
  def lakeDelete(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_ld_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    LakeTable.rewrite(s, root,
      LakeTable.read(s, root, Some(1)).filter(col("event_id") % 10 =!= 0), cfg,
      Seq("event_id"))
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeDeleteSql: String =
    """WITH snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 10 <> 0)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_delete_mor: MERGE-ON-READ delete — the v2 counterpart of
  // lake_delete. The delete commit writes only a (broadcast-sized)
  // equality-delete file; NO data file is rewritten (LakeSpec asserts
  // the manifest's data-file list is unchanged). Readers anti-join
  // the delete keys against data files older than the delete — at
  // 100 TB this is a metadata-sized DELETE where copy-on-write would
  // rewrite the table. Snapshot 1 still reads the pre-delete view, so
  // the oracle shape matches lake_delete exactly.
  def lakeDeleteMor(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_ldm_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    LakeTable.deleteWhere(s, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeDeleteMorSql: String =
    """WITH snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 10 <> 0)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_delete_bulk: BULK merge-on-read delete — the scale path
  // of lake_delete_mor. A takedown-sized delete's keys are probed in
  // each reader; a bulk DELETE (here 75% of the table; 1% of 100 TB in
  // production) must not be: the write fans the key files out across
  // tasks (no single-writer funnel) and the read side picks a SHUFFLE
  // anti-join because the manifest's recorded delete rows exceed the
  // reader budget — LakeSpec pins both plan shapes. Thresholds are
  // forced down here so sf-scale data exercises the exact plan a
  // 100-TB delete takes; they are restored before returning (the
  // strategy is baked into the DataFrame at construction).
  def lakeDeleteBulk(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_ldb_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    val prevFile = s.conf.getOption(LakeTable.DeleteFileRowsKey)
    val prevBc = s.conf.getOption(LakeTable.BroadcastDeleteRowsKey)
    s.conf.set(LakeTable.DeleteFileRowsKey, "2048")
    s.conf.set(LakeTable.BroadcastDeleteRowsKey, "0")
    try {
      LakeTable.deleteWhere(s, root, "event_id",
        ev.filter(col("event_id") % 4 =!= 3))
      LakeTable.read(s, root, Some(2))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    } finally {
      prevFile.fold(s.conf.unset(LakeTable.DeleteFileRowsKey))(
        v => s.conf.set(LakeTable.DeleteFileRowsKey, v))
      prevBc.fold(s.conf.unset(LakeTable.BroadcastDeleteRowsKey))(
        v => s.conf.set(LakeTable.BroadcastDeleteRowsKey, v))
    }
  }

  val lakeDeleteBulkSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events
      |WHERE event_id % 4 = 3
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_rewrite: MoR-DEBT COMPACTION — the maintenance sweep
  // that pays down merge-on-read deletes. Snapshot 2 carries an
  // equality-delete mask (metadata-sized DELETE); foldDeletes then
  // rewrites the delete-applied view as snapshot 3, whose manifest
  // lists only fresh data files and NO delete entries — readers are
  // back to mask-free scans. The query reads BOTH snapshots (they
  // must agree exactly: mask-fold equivalence) joined with the
  // history metadata showing the delete debt retire (1 delete file /
  // k keys at snap 2 → 0 / 0 at snap 3). At 100 TB this bounds the
  // anti-join work readers pay between compactions.
  def lakeRewrite(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lrw_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    LakeTable.deleteWhere(s, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.foldDeletes(s, root, cfg, Seq("event_id"))
    val content = LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L))
      .unionByName(LakeTable.read(s, root, Some(3)).withColumn("snap", lit(3L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
    val meta = LakeTable.history(s, root)
      .select(col("snap"), col("n_delete_files"), col("n_delete_keys"))
    content.join(broadcast(meta), Seq("snap"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeRewriteSql: String =
    """WITH live AS (SELECT event_type, value FROM events WHERE event_id % 10 <> 0),
      |dk AS (SELECT COUNT(DISTINCT event_id) AS k FROM events WHERE event_id % 10 = 0),
      |snaps AS (
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM live
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT) AS snap, event_type, value FROM live)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  CASE WHEN snap = 2 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS n_delete_files,
      |  CASE WHEN snap = 2 THEN dk.k ELSE CAST(0 AS BIGINT) END AS n_delete_keys
      |FROM snaps, dk
      |GROUP BY snap, event_type, dk.k
      |ORDER BY snap, event_type""".stripMargin

  // --- prune_scan_str: stats pruning on a NON-INTEGER predicate —
  // the manifest tracks string min/max (event_type) alongside
  // timestamp micros, and an equality predicate on the clustering
  // string prunes every file of the other types before any IO
  // (LakeSpec asserts touched ≪ total). The layout hash-clusters on
  // event_type with ts as the in-file sort key, so string stats are
  // point ranges (min = max) for all but partition-boundary files.
  // Row filters re-check survivors — exactness never rides on stats.
  def pruneScanStr(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_pss_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.commit(s, root, ev,
      BlockWriter.Config("event_type", "ts", maxRecordsPerFile = 1024),
      Seq("event_type", "ts", "event_id"))
    val (rows, _, _) = LakeTable.prunedRead(s, root, Map.empty,
      strPreds = Map("event_type" -> ("click", "click")))
    rows
      .withColumn("day", expr("(unix_micros(ts) div 86400000000) % 256").cast("bigint"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  val pruneScanStrSql: String =
    """SELECT (EPOCH_US(ts) // 86400000000) % 256 AS day, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE event_type = 'click'
      |GROUP BY day
      |ORDER BY day""".stripMargin

  // --- prune_scan_point: BLOOM-filter point-lookup pruning — the
  // stats family's third member (integer ranges, string ranges, and
  // now point membership). The layout clusters on user_id, so every
  // file's event_id min/max spans nearly the whole domain and range
  // stats prune NOTHING for an `event_id IN (…)` probe; the per-file
  // bloom bitmaps recorded at commit time prune all but the files
  // that (probably) hold a probed key (LakeSpec asserts touched ≪
  // total AND that min/max alone would have kept every file). Row
  // filters re-check survivors, so bloom false positives cost IO,
  // never correctness. The probe keys derive from MAX(event_id) —
  // the keys a point-lookup caller holds; replayed by the oracle.
  def pruneScanPoint(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_psp_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.commit(s, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096),
      Seq("event_id"), bloomCols = Seq("event_id"))
    val maxId = ev.agg(max(col("event_id"))).first().getLong(0) // 1-row agg
    val probes = Seq(maxId / 2, maxId / 3, maxId / 5).distinct.map(_.toString)
    val (rows, _, _) = LakeTable.prunedRead(s, root, Map.empty,
      pointPreds = Map("event_id" -> probes))
    rows.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("value_x100"))
      .orderBy(col("event_id"))
  }

  val pruneScanPointSql: String =
    """WITH m AS (SELECT MAX(event_id) AS mx FROM events)
      |SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type,
      |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_x100
      |FROM events, m
      |WHERE event_id IN (mx // 2, mx // 3, mx // 5)
      |ORDER BY event_id""".stripMargin

  // --- lake_evolve: PARTITION-SPEC EVOLUTION — because layout is
  // manifest metadata (flat files + per-file stats), a table can
  // change its clustering between commits with NO rewrite of history:
  // gen 1 is user-clustered (the point-lookup era), gen 2 is
  // day-clustered (the time-range era), same schema. A day-range read
  // prunes gen-2 files tightly while gen-1 files all survive (their
  // day extents are wide) — old data stays correct, new data gets the
  // new layout's pruning, exactly Iceberg's partition-evolution
  // contract. LakeSpec asserts the per-generation pruning asymmetry.
  def lakeEvolve(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_le_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("day", expr("(unix_micros(ts) div 86400000000) % 256").cast("bigint"))
    val stat = Seq("day", "user_id", "event_id")
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0),
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1024), stat)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1),
      BlockWriter.Config("day", "ts", maxRecordsPerFile = 1024), stat)
    val (rows, _, _) = LakeTable.prunedRead(s, root, Map("day" -> PRUNE_DAY))
    rows.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  val lakeEvolveSql: String =
    s"""SELECT (EPOCH_US(ts) // 86400000000) % 256 AS day, COUNT(*) AS n,
       |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM events
       |WHERE (EPOCH_US(ts) // 86400000000) % 256 BETWEEN ${PRUNE_DAY._1} AND ${PRUNE_DAY._2}
       |GROUP BY day
       |ORDER BY day""".stripMargin

  // --- lake_evolve_rename: FIELD-ID COLUMN MAPPING — rename and drop
  // as METADATA-ONLY commits (LakeTable.renameColumn/dropColumn,
  // the Iceberg/Delta column-mapping contract). Lifecycle: gen 1
  // lands under the original names; `user_id` is renamed to `uid`
  // (zero data IO — old files read through the mapping); gen 2
  // appends under the new name (files store the PHYSICAL name);
  // `event_type` is dropped and re-ADDED (the re-add gets FRESH
  // storage: the dropped bytes never resurrect — every pre-drop row
  // reads NULL); gen 3 appends with the re-added column populated.
  // The oracle rebuilds the same lifecycle relationally from the raw
  // events table. ColumnMappingSpec pins the mechanics (metadata-only
  // commits, physical stat keys, pruning and deletes across renames).
  def lakeEvolveRename(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_ler_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg,
      Seq("event_id", "user_id"))
    LakeTable.renameColumn(root, "user_id", "uid")
    val cfg2 = BlockWriter.Config("uid", "event_id", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root,
      ev.filter(col("event_id") % 2 === 1).withColumnRenamed("user_id", "uid"),
      cfg2, Seq("event_id", "uid"))
    LakeTable.dropColumn(root, "event_type")
    LakeTable.evolveSchema(root, graft.lake.ColumnMapping.add(
      LakeTable.storedSchemaOf(root).get,
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType, nullable = true)))
    LakeTable.commit(s, root,
      ev.filter(col("event_id") < 100)
        .select((col("event_id") + 10000000L).as("event_id"),
          col("user_id").as("uid"), col("value"),
          lit("fresh").as("event_type")),
      cfg2, Seq("event_id", "uid"))
    LakeTable.read(s, root)
      .withColumn("gen",
        when(col("event_id") >= 10000000L, lit(3L))
          .when(col("event_id") % 2 === 0, lit(1L)).otherwise(lit(2L)))
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n"),
        sum(col("uid")).cast("bigint").as("sum_uid"),
        count(col("event_type")).as("n_tagged"))
      .orderBy(col("gen"))
  }

  val lakeEvolveRenameSql: String =
    """WITH t AS (
      |  SELECT event_id, user_id AS uid, CAST(NULL AS VARCHAR) AS event_type
      |  FROM events
      |  UNION ALL
      |  SELECT event_id + 10000000, user_id, 'fresh'
      |  FROM events WHERE event_id < 100)
      |SELECT CAST(CASE WHEN event_id >= 10000000 THEN 3
      |            WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS gen,
      |  COUNT(*) AS n, CAST(SUM(uid) AS BIGINT) AS sum_uid,
      |  COUNT(event_type) AS n_tagged
      |FROM t
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // --- lake_evolve_widen: TYPE WIDENING as a METADATA-ONLY commit
  // (LakeTable.widenColumn — Iceberg's safe-promotion evolution).
  // Gen 1 lands with event_id as INT and value as FLOAT; one
  // metadata commit widens them to BIGINT/DOUBLE (zero data IO —
  // Spark's vectorized reader decodes the narrow pages straight into
  // the widened vectors); gen 2 appends values only the WIDE types
  // can hold (ids beyond int range). A single scan then reads both
  // generations under the widened schema. The oracle replays the
  // lifecycle relationally: gen 1 routed through REAL to pin the
  // same float32 rounding the narrow files store.
  // ColumnMappingSpec pins the mechanics (same files byte-for-byte
  // after the widen, narrowing rejected, bucket-spec retirement,
  // SQL ALTER COLUMN TYPE, pruning on the widened column).
  def lakeEvolveWiden(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lew_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root,
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id").cast("int").as("event_id"), col("user_id"),
          col("event_type"), col("value").cast("float").as("value")),
      cfg, Seq("event_id", "user_id"))
    LakeTable.widenColumn(root, "event_id", org.apache.spark.sql.types.LongType)
    LakeTable.widenColumn(root, "value", org.apache.spark.sql.types.DoubleType)
    LakeTable.commit(s, root,
      ev.filter(col("event_id") % 2 === 1)
        .select((col("event_id") + 3000000000L).as("event_id"), col("user_id"),
          col("event_type"), col("value").cast("double").as("value")),
      cfg, Seq("event_id", "user_id"))
    LakeTable.read(s, root)
      .withColumn("gen",
        when(col("event_id") >= 3000000000L, lit(2L)).otherwise(lit(1L)))
      .groupBy(col("gen"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).cast("bigint").as("sum_id"),
        sumValX100.as("sum_value_x100"))
      .orderBy(col("gen"), col("event_type"))
  }

  val lakeEvolveWidenSql: String =
    """WITH t AS (
      |  SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
      |    CAST(CAST(value AS REAL) AS DOUBLE) AS value
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id + 3000000000, event_type, CAST(value AS DOUBLE)
      |  FROM events WHERE event_id % 2 = 1)
      |SELECT CAST(CASE WHEN event_id >= 3000000000 THEN 2 ELSE 1 END AS BIGINT) AS gen,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM t
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- lake_evolve_default: COLUMN DEFAULT VALUES on evolution —
  // `ALTER TABLE … ADD COLUMN … DEFAULT v` as a METADATA-ONLY commit
  // (Iceberg v3 initial-defaults). Three generations exercise every
  // semantic: gen 1 predates the column and serves the frozen INITIAL
  // default at read (the parquet readers fill EXISTS_DEFAULT for
  // file-missing columns — zero data rewritten); gen 2 stores
  // explicit values incl. NULLs (stored values always win — defaults
  // never overwrite a physically-present column); gen 3 OMITS the
  // column in its INSERT and the session fills the WRITE default,
  // which a SET DEFAULT changed to 'edge' beforehand — proving the
  // write default moves while the initial default stays frozen.
  // ColumnMappingSpec pins the mechanics (unchanged file list, both
  // read paths, NULL preservation, frozen initial default).
  def lakeEvolveDefault(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.evd_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_evolve_default")
    s.sql(s"""CREATE TABLE $tbl AS
             |SELECT event_id, user_id, event_type, value
             |FROM ev_evolve_default WHERE event_id % 2 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $tbl ADD COLUMN source STRING DEFAULT 'device'")
    s.sql(s"""INSERT INTO $tbl
             |SELECT event_id, user_id, event_type, value,
             |  CASE WHEN event_id % 3 = 0 THEN NULL ELSE 'api' END
             |FROM ev_evolve_default WHERE event_id % 2 = 1""".stripMargin)
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN source SET DEFAULT 'edge'")
    s.sql(s"""INSERT INTO $tbl (event_id, user_id, event_type, value)
             |SELECT event_id + 10000000, user_id, event_type, value
             |FROM ev_evolve_default
             |WHERE event_id % 2 = 0 AND event_id % 5 = 0""".stripMargin)
    s.sql(s"""SELECT COALESCE(source, 'none') AS source, event_type,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)
  }

  val lakeEvolveDefaultSql: String =
    """WITH u AS (
      |  SELECT event_id, event_type, value, 'device' AS source
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, event_type, value,
      |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE 'api' END
      |  FROM events WHERE event_id % 2 = 1
      |  UNION ALL
      |  SELECT event_id + 10000000, event_type, value, 'edge'
      |  FROM events WHERE event_id % 2 = 0 AND event_id % 5 = 0)
      |SELECT COALESCE(source, 'none') AS source, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- prune_scan_z_ddl: DECLARED Z-ORDER LAYOUT — `CREATE TABLE …
  // PARTITIONED BY (zorder(ts, user_id))` records 2-D clustering as
  // table metadata (the way days(ts) declares temporal layout):
  // every append range-clusters on the interleave of both columns'
  // quantile buckets (operators/ZOrder), so per-file extents are
  // tight in BOTH dims and a 2-D predicate prunes files via manifest
  // min/max stats alone; `CALL compact` re-z-clusters. The z value
  // itself is transport — computed for the write shuffle, dropped
  // before the save, never part of the schema. DsV2Spec asserts the
  // file-touch bound (≤ total/4 on a 2-D predicate); the oracle
  // replays the predicate relationally (clustering changes layout,
  // never answers).
  def pruneScanZDdl(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.zdl_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_zddl")
    s.sql(s"""CREATE TABLE $tbl (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
             |  event_type STRING, value DOUBLE)
             |PARTITIONED BY (zorder(ts, user_id))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT event_id, ts, user_id, event_type, value FROM ev_zddl")
    s.sql(s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl
             |WHERE ts >= (SELECT MIN(ts) + INTERVAL 2 DAY FROM ev_zddl)
             |  AND ts < (SELECT MIN(ts) + INTERVAL 4 DAY FROM ev_zddl)
             |  AND user_id >= 10 AND user_id < 40
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val pruneScanZDdlSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events
      |WHERE ts >= (SELECT MIN(ts) + INTERVAL 2 DAY FROM events)
      |  AND ts < (SELECT MIN(ts) + INTERVAL 4 DAY FROM events)
      |  AND user_id >= 10 AND user_id < 40
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_sql_view: persisted SQL VIEWS over lake tables (a genuine
  // DSv2 ViewCatalog): `CREATE VIEW graft.q.v AS SELECT …` stores the
  // view TEXT + resolution context as catalog metadata
  // (`<name>.view.json`), and every read RE-ANALYZES it against the
  // current table state — the query inserts half the data AFTER
  // creating the view, so the result hash-matching the full-corpus
  // oracle proves the view tracks snapshot growth with zero
  // maintenance. Views are pure metadata: nothing is materialized,
  // the underlying scan keeps its pruning/pushdown.
  def qSqlView(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val tbl = s"graft.q.vord_$id"; val vw = s"graft.q.v_rev_$id"
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"), col("o_orderdate"))
      .createOrReplaceTempView("ord_vw")
    s.sql(s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE,
             |  o_orderpriority STRING, o_orderdate TIMESTAMP)""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT * FROM ord_vw WHERE o_orderkey % 2 = 0")
    s.sql(s"""CREATE VIEW $vw AS
             |SELECT o_orderpriority, CAST(YEAR(o_orderdate) AS INT) AS o_year,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_x100
             |FROM $tbl
             |GROUP BY o_orderpriority, CAST(YEAR(o_orderdate) AS INT)""".stripMargin)
    // rows landing AFTER view creation must show through the view
    s.sql(s"INSERT INTO $tbl SELECT * FROM ord_vw WHERE o_orderkey % 2 = 1")
    s.sql(s"""SELECT o_orderpriority, o_year, n, rev_x100 FROM $vw
             |WHERE o_year >= 1996
             |ORDER BY o_orderpriority, o_year""".stripMargin)
  }

  val qSqlViewSql: String =
    """SELECT o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_x100
      |FROM orders
      |WHERE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) >= 1996
      |GROUP BY o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
      |ORDER BY o_orderpriority, o_year""".stripMargin

  // --- q_sql_mv: the MATERIALIZED-VIEW lifecycle through SQL — the
  // warehouse object a user touches BY NAME: `CREATE MATERIALIZED
  // VIEW cat.db.mv AS SELECT … FROM fact JOIN dim USING (k) GROUP BY
  // …` (parser-intercepted DDL — Spark has no matview grammar),
  // `CALL graft.system.refresh_mv('db.mv')` folding fact/dim changes
  // since the basis recorded in the MV's head-commit note, and
  // `SELECT … FROM mv VERSION AS OF n` reading every maintenance
  // stage back through time travel. Three gated stages: create,
  // fact-only refresh (delta-join law, fact head never scanned —
  // spec-pinned), and a refresh after a SQL MERGE rewires the
  // dimension (groups move buckets via matching −/+ deltas). Each
  // refresh is ONE MoR MERGE commit touching only changed groups.
  // The oracle recomputes each stage's join from scratch — the
  // SQL-driven incremental path must land on exactly the recompute.
  def qSqlMv(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.mvf_$id"; val dim = s"graft.q.mvd_$id"
    val mv = s"graft.q.mv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlmv")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, value DOUBLE)")
    s.sql(s"INSERT INTO $fact SELECT * FROM ev_sqlmv WHERE event_id % 3 = 0")
    s.sql(s"CREATE TABLE $dim (event_type STRING, weight INT, wb INT)")
    s.sql(s"""INSERT INTO $dim
             |SELECT event_type, length(event_type), length(event_type) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlmv)""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT wb, COUNT(*) AS n,
             |  SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sum_value_x100
             |FROM $fact JOIN $dim USING (event_type)
             |GROUP BY wb""".stripMargin)
    // stage 2: fact-only growth → CALL refresh (ΔF ⋈ D₀ only)
    s.sql(s"INSERT INTO $fact SELECT * FROM ev_sqlmv WHERE event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.mv_$id')")
    // stage 3: a SQL MERGE rewires the dimension (+10 to even-length
    // types moves their bucket), then one refresh folds F₁ ⋈ ΔD
    s.sql(s"""MERGE INTO $dim t USING (
             |  SELECT event_type, length(event_type) + 10 AS weight,
             |    (length(event_type) + 10) % 3 AS wb
             |  FROM (SELECT DISTINCT event_type FROM ev_sqlmv)
             |  WHERE length(event_type) % 2 = 0) src
             |ON t.event_type = src.event_type
             |WHEN MATCHED THEN UPDATE SET t.weight = src.weight, t.wb = src.wb""".stripMargin)
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.mv_$id')")
    s.sql(s"""SELECT CAST(1 AS BIGINT) AS stage, CAST(wb AS BIGINT) AS wb, n, sum_value_x100
             |FROM $mv VERSION AS OF 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), CAST(wb AS BIGINT), n, sum_value_x100
             |FROM $mv VERSION AS OF 2
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), CAST(wb AS BIGINT), n, sum_value_x100
             |FROM $mv VERSION AS OF 3
             |ORDER BY stage, wb""".stripMargin)
  }

  val qSqlMvSql: String =
    """WITH d1 AS (
      |  SELECT event_type, length(event_type) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type FROM events)),
      |d2 AS (
      |  SELECT event_type,
      |    (length(event_type) + CASE WHEN length(event_type) % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type FROM events)),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, wb, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |  FROM events e JOIN d1 USING (event_type)
      |  WHERE event_id % 3 = 0 GROUP BY wb),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, wb, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |  FROM events e JOIN d1 USING (event_type)
      |  WHERE event_id % 3 IN (0, 1) GROUP BY wb),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, wb, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |  FROM events e JOIN d2 USING (event_type)
      |  WHERE event_id % 3 IN (0, 1) GROUP BY wb)
      |SELECT CAST(stage AS BIGINT) AS stage, CAST(wb AS BIGINT) AS wb, n, sum_value_x100
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, wb""".stripMargin

  // --- q_sql_mv_minmax: the SECOND MV kind through the same SQL
  // front door — a single-table MIN/MAX view (`CREATE MATERIALIZED
  // VIEW … AS SELECT g, COUNT(*) AS n, MIN(v) AS …, MAX(v) AS …
  // FROM fact GROUP BY g`): the DDL compiler recognizes the shape
  // and routes maintenance to the GROUP-TARGETED RECOMPUTE law
  // (MinMaxMv — non-distributive aggregates can't fold signed
  // deltas under deletes), while `CALL graft.system.refresh_mv`
  // stays the ONE refresh verb for every MV kind. Stage 3 is the
  // IVM-impossible case through pure SQL: `DELETE FROM fact` (a
  // positional MoR commit) removes rows including group minima, and
  // the refreshed view's mins must RISE.
  def qSqlMvMinmax(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.mmf_$id"; val mv = s"graft.q.mmv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlmm")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlmm WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, COUNT(*) AS n,
             |  MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.mmv_$id')")
    s.sql(s"DELETE FROM $fact WHERE event_id % 5 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.mmv_$id')")
    s.sql(s"""SELECT CAST(1 AS BIGINT) AS stage, event_type, n, min_vx100, max_vx100
             |FROM $mv VERSION AS OF 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), event_type, n, min_vx100, max_vx100
             |FROM $mv VERSION AS OF 2
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), event_type, n, min_vx100, max_vx100
             |FROM $mv VERSION AS OF 3
             |ORDER BY stage, event_type""".stripMargin)
  }

  /** Identical staged semantics to the library-API twin — the oracle
    * is shared verbatim.
    */
  def qSqlMvMinmaxSql: String = mvMinmaxRefreshSql

  // --- lake_avro_prune: DECLARED LAYOUTS ON THE AVRO PLANE — a
  // reference-format ingest table (snappy avro containers) declares
  // `days(ts)` via `CALL graft.system.set_layout`, and every
  // subsequent appendAvro (and rewriteAvro compaction) RANGE-CLUSTERS
  // the batch on the raw ts before staging, so per-file min/max
  // extents come out tight and a day-window predicate prunes by
  // manifest stats alone — the same `prune_scan_days` contract the
  // parquet plane has had, now without migrating the ingest format.
  // The fixture drives a full ingest life: seed append (pre-layout,
  // hash-scattered), declare, two clustered appends, one clustered
  // compaction; the gated read is the day-window aggregate through
  // the SQL front door. AvroPlaneSpec pins the file-touch bound
  // (window files ≤ total/4 post-compaction).
  def lakeAvroPrune(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val name = s"avp_${System.nanoTime()}"
    val tbl = s"graft.q.$name"
    val root = graft.util.Scratch.root.resolve("sqlcat").resolve("q")
      .resolve(name).toString
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    ev.createOrReplaceTempView("ev_avp")
    val stat = Seq("event_id", "ts", "event_type")
    LakeTable.appendAvro(s, root, ev.filter(col("event_id") % 3 === 0), stat)
    s.sql(s"CALL graft.system.set_layout('q.$name', 'days(ts)')")
    LakeTable.appendAvro(s, root, ev.filter(col("event_id") % 3 === 1), stat)
    LakeTable.appendAvro(s, root, ev.filter(col("event_id") % 3 === 2), stat)
    // compaction must KEEP the declared clustering (consolidating an
    // ingest table must not shuffle its tight time extents away)
    LakeTable.rewriteAvro(s, root, stat, parts = 8)
    val b = s.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                    |       min(ts) + INTERVAL 4 DAYS AS hi FROM ev_avp""".stripMargin)
      .collect()(0)
    s.table(tbl)
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("event_type"))
  }

  /** Identical day-window semantics to the parquet-plane twin — the
    * oracle is shared verbatim. (def: pruneScanDaysSql is declared
    * later in this object; an eager val here would interpolate an
    * uninitialized forward reference.)
    */
  def lakeAvroPruneSql: String = pruneScanDaysSql

  // --- q_sql_mv_star: the MULTI-DIMENSION star rollup — `fact JOIN
  // d1 USING (event_type) JOIN d2 USING (event_type, ub)` (composite
  // key on the second dimension) through the same CREATE MATERIALIZED
  // VIEW front door. Maintenance is the Gupta-Mumick STAIRCASE: one
  // signed delta term per relation, already-refreshed relations at
  // NEW snapshots, not-yet-refreshed at OLD — ΔF⋈D₁⁰⋈D₂⁰ ∪
  // F¹⋈ΔD₁⋈D₂⁰ ∪ F¹⋈D₁¹⋈ΔD₂ — every dim broadcast in every term,
  // the fact read only when a dimension changed. Four gated stages:
  // create, fact-only refresh, a d1 rewire (SQL MERGE moves groups
  // between wb buckets), and a d2 rewire (DELETE+INSERT on the
  // composite-keyed dim flips db for ub=1). The oracle recomputes
  // each stage's two-dim join from scratch.
  def qSqlMvStar(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.stf_$id"
    val d1 = s"graft.q.std1_$id"; val d2 = s"graft.q.std2_$id"
    val mv = s"graft.q.stv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlstar")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, ub BIGINT, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 2,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlstar WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"CREATE TABLE $d1 (event_type STRING, wb BIGINT)")
    s.sql(s"""INSERT INTO $d1
             |SELECT event_type, length(event_type) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlstar)""".stripMargin)
    s.sql(s"CREATE TABLE $d2 (event_type STRING, ub BIGINT, db BIGINT)")
    s.sql(s"""INSERT INTO $d2
             |SELECT event_type, ub, (length(event_type) + ub) % 2
             |FROM (SELECT DISTINCT event_type FROM ev_sqlstar)
             |CROSS JOIN (SELECT explode(array(0L, 1L)) AS ub)""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT wb, db, COUNT(*) AS n, SUM(vx100) AS sum_vx100
             |FROM $fact JOIN $d1 USING (event_type)
             |JOIN $d2 USING (event_type, ub)
             |GROUP BY wb, db""".stripMargin)
    // stage 2: fact-only growth (ΔF ⋈ D₁⁰ ⋈ D₂⁰ only)
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.stv_$id')")
    // stage 3: d1 rewire — even-length types move wb buckets
    s.sql(s"""MERGE INTO $d1 t USING (
             |  SELECT event_type, (length(event_type) + 10) % 3 AS wb
             |  FROM (SELECT DISTINCT event_type FROM ev_sqlstar)
             |  WHERE length(event_type) % 2 = 0) src
             |ON t.event_type = src.event_type
             |WHEN MATCHED THEN UPDATE SET t.wb = src.wb""".stripMargin)
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.stv_$id')")
    // stage 4: d2 rewire on the COMPOSITE key — flip db for ub = 1
    // (DELETE + INSERT: two commits, one staircase fold)
    s.sql(s"DELETE FROM $d2 WHERE ub = 1")
    s.sql(s"""INSERT INTO $d2
             |SELECT event_type, 1L, (length(event_type) + 2) % 2
             |FROM (SELECT DISTINCT event_type FROM ev_sqlstar)""".stripMargin)
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.stv_$id')")
    def stage(n: Int) =
      s"""SELECT CAST($n AS BIGINT) AS stage, wb, db, n, sum_vx100
         |FROM $mv VERSION AS OF $n""".stripMargin
    s.sql(Seq(stage(1), stage(2), stage(3), stage(4))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage, wb, db"))
  }

  val qSqlMvStarSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 2 AS ub,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100,
      |    length(event_type) AS len
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, len % 3 AS wb,
      |    (len + ub) % 2 AS db, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 = 0 GROUP BY 2, 3),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, len % 3 AS wb,
      |    (len + ub) % 2 AS db, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY 2, 3),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage,
      |    (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb,
      |    (len + ub) % 2 AS db, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY 2, 3),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT) AS stage,
      |    (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb,
      |    (len + ub + ub) % 2 AS db, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY 2, 3)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, wb, db""".stripMargin

  // --- q_sql_mv_single: the COMMONEST warehouse MV — a single-table
  // COUNT/SUM rollup (+ AVG read-time sugar) — through the same
  // CREATE MATERIALIZED VIEW front door, maintained by the
  // APPEND-ONLY INCREMENTAL FOLD with full-recompute fallback
  // (IncrementalMv: Iceberg's MV staleness rule — incremental only
  // over append-only snapshot ranges). Three gated stages, each
  // carrying the maintenance MODE the `mv.mv` metadata row reports:
  // create (full), a pure-append refresh (INCR — the fact head is
  // never rescanned, only the delta files; spec-pinned by hiding the
  // pre-basis fact files), and a refresh across a MoR DELETE (FULL —
  // per-group subtraction is unsound for the general case, so the
  // law recomputes from the head, exactly once). AVG is a DERIVED
  // read-time column over the stored SUM and n — zero new
  // maintenance law, recomputed after every fold.
  def qSqlMvSingle(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.smf_$id"; val mv = s"graft.q.smv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlsm")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlsm WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, COUNT(*) AS n, SUM(vx100) AS sum_vx100,
             |  AVG(vx100) AS avg_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    def mode(): String =
      s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    val mode1 = mode()
    // stage 2: pure appends → the refresh folds ONLY the delta files
    ins("event_id % 3 = 1"); ins("event_id % 3 = 2")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.smv_$id')")
    val mode2 = mode()
    // stage 3: a MoR DELETE breaks append-only → full recompute, once
    s.sql(s"DELETE FROM $fact WHERE event_id % 10 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.smv_$id')")
    val mode3 = mode()
    // the captured modes ride the gated output as literals: the
    // oracle hard-codes full/incr/full, so a mis-chosen maintenance
    // mode fails the hash compare, not just a spec assert
    def stage(n: Int, m: String) =
      s"""SELECT CAST($n AS BIGINT) AS stage, '$m' AS mode, event_type, n,
         |  sum_vx100, CAST(FLOOR(avg_vx100 * 100 + 0.5) AS BIGINT) AS avgx100
         |FROM $mv VERSION AS OF $n""".stripMargin
    s.sql(Seq(stage(1, mode1), stage(2, mode2), stage(3, mode3))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage, event_type"))
  }

  val qSqlMvSingleSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'full' AS mode, event_type,
      |    COUNT(*) AS n, CAST(SUM(vx100) AS BIGINT) AS sum_vx100,
      |    CAST(FLOOR((CAST(SUM(vx100) AS DOUBLE) / COUNT(*)) * 100 + 0.5) AS BIGINT) AS avgx100
      |  FROM f WHERE event_id % 3 = 0 GROUP BY event_type),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, 'incr' AS mode, event_type,
      |    COUNT(*) AS n, CAST(SUM(vx100) AS BIGINT) AS sum_vx100,
      |    CAST(FLOOR((CAST(SUM(vx100) AS DOUBLE) / COUNT(*)) * 100 + 0.5) AS BIGINT) AS avgx100
      |  FROM f GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, 'full' AS mode, event_type,
      |    COUNT(*) AS n, CAST(SUM(vx100) AS BIGINT) AS sum_vx100,
      |    CAST(FLOOR((CAST(SUM(vx100) AS DOUBLE) / COUNT(*)) * 100 + 0.5) AS BIGINT) AS avgx100
      |  FROM f WHERE event_id % 10 <> 0 GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, event_type""".stripMargin

  // --- q_sql_mv_distinct: the DISTINCT-COUNT materialized view —
  // `COUNT(DISTINCT x)` GROUP BY g through the same CREATE
  // MATERIALIZED VIEW front door: arguably THE most common warehouse
  // rollup ("daily unique users per dimension") and the one aggregate
  // every other kind must reject. Maintained EXACTLY by the hidden
  // (group, key)-grain signed state (lake/DistinctMv): the change
  // feed folds ±1 multiplicities per (g, x) — a key retires at 0 —
  // and the visible view derives COUNT(DISTINCT) as the group's live
  // non-null key count, COUNT(*) as summed multiplicities, SUMs as
  // summed signed partials. Unlike the single kind, the law stays
  // INCREMENTAL ACROSS MoR DELETES AND MERGES (mode `signed` — the
  // captured mode literals gate it): refresh cost is O(changed rows)
  // + state-sized shuffles, never a fact scan. Stage 3 deletes every
  // row of uids ≡ 0 (mod 10) — those keys must RETIRE (uniq drops)
  // while surviving keys' duplicates keep counting. Stage 4 runs the
  // plain COUNT(DISTINCT) fact query with EVERY fact data file
  // hidden: only the rewrite-rule-served plan (plans/MvRewrite's
  // distinct tier) can produce rows at all.
  def qSqlMvDistinct(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.dcf_$id"; val mv = s"graft.q.dcv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqldc")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, uid BIGINT, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 997,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqldc WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
             |  SUM(COALESCE(vx100, 0)) AS sum_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    def mode(): String =
      s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    val mode1 = mode()
    // stage 2: appends — new uids appear, old uids duplicate
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dcv_$id')")
    val mode2 = mode()
    // stage 3: a MoR DELETE takes out EVERY row of uids ≡ 0 (mod 10)
    // — the single kind would fall to a full recompute here; the
    // distinct kind folds the delete pre-images signed and RETIRES
    // the vanished keys (mode stays `signed`)
    s.sql(s"DELETE FROM $fact WHERE uid % 10 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dcv_$id')")
    val mode3 = mode()
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.dcf_$id")
    // stage 4: the fact query, served — every fact data file hidden
    val served = withHiddenFiles(factDir) {
      s.sql(s"""SELECT event_type, COUNT(*) AS n,
               |  COUNT(DISTINCT uid) AS uniq,
               |  SUM(COALESCE(vx100, 0)) AS sum_vx100
               |FROM $fact GROUP BY event_type""".stripMargin).collect()
    }
    // stage 5: STALE over an append-only gap — the distinct kind
    // COMPENSATES FROM ITS STATE (plans/MvRewrite's distinct
    // compensated tier): COUNT(DISTINCT uid)@head = distinct keys of
    // state@basis ∪ Δ-file keys per group (exact even when a delta
    // uid was already counted), COUNT(*) = SUM(multiplicity) + Δ
    // rows, SUMs fold per-row. EVERY pre-append fact file hidden —
    // the fresh uniq is only reachable via state ⊎ delta; note the
    // re-inserted uid ≡ 0 (mod 10) rows are NEW rows (sequence rule:
    // the stage-3 delete masks only older files).
    ins("event_id % 3 = 2")
    val head5 = LakeTable.currentSnapshot(factDir)
    val compensated = withHiddenFiles(factDir, _.seq < head5) {
      s.sql(s"""SELECT event_type, COUNT(*) AS n,
               |  COUNT(DISTINCT uid) AS uniq,
               |  SUM(COALESCE(vx100, 0)) AS sum_vx100
               |FROM $fact GROUP BY event_type""".stripMargin).collect()
    }
    def stage(k: Int, m: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, event_type, n,
         |  uniq, sum_vx100
         |FROM $mv VERSION AS OF $k""".stripMargin
    import s.implicits._
    val s4 = served.toSeq
      .map(r => (4L, "served", r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toDF("stage", "mode", "event_type", "n", "uniq", "sum_vx100")
    val s5 = compensated.toSeq
      .map(r => (5L, "compensated", r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .toDF("stage", "mode", "event_type", "n", "uniq", "sum_vx100")
    s.sql(Seq(stage(1, mode1), stage(2, mode2), stage(3, mode3))
      .mkString("", "\nUNION ALL\n", ""))
      .unionByName(s4)
      .unionByName(s5)
      .orderBy(col("stage"), col("event_type"))
  }

  val qSqlMvDistinctSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 997 AS uid,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'full' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 = 0 GROUP BY event_type),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, 'signed' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, 'signed' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 10 <> 0
      |  GROUP BY event_type),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT) AS stage, 'served' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 10 <> 0
      |  GROUP BY event_type),
      |s5 AS (
      |  SELECT CAST(5 AS BIGINT) AS stage, 'compensated' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sum_vx100
      |  FROM f WHERE (event_id % 3 IN (0, 1) AND uid % 10 <> 0)
      |    OR event_id % 3 = 2
      |  GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |  UNION ALL SELECT * FROM s5)
      |ORDER BY stage, event_type""".stripMargin

  // --- q_sql_mv_distinct2: MULTIPLE COUNT(DISTINCT) measures in ONE
  // materialized view — `uniq_users, uniq_sessions` per dimension,
  // the warehouse shape the one-distinct grammar used to reject. One
  // hidden signed (group, key) state PER measure (`_dstate`,
  // `_dstate1`), each folded by the same change-feed law and each
  // retiring its keys INDEPENDENTLY under MoR deletes: stage 3
  // deletes every row of uids ≡ 0 (mod 7) — a uid key retires where
  // its multiplicity reaches 0 while a sid key survives wherever any
  // remaining row still carries it. Stage 4 serves BOTH measures
  // from the visible view with every fact file hidden (the exact
  // tier maps each COUNT(DISTINCT) to its own stored column); stage
  // 5 serves a group-SUBSET query using ONLY the second measure —
  // the state-rollup tier must pick the SECOND state table
  // (plans/MvRewrite.usedDistinctIndex), fact files still hidden.
  def qSqlMvDistinct2(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.d2f_$id"; val mv = s"graft.q.d2v_$id"
    t(s, dir, "events").select(col("event_id"), col("event_type"))
      .createOrReplaceTempView("ev_sqld2")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, " +
      "eb BIGINT, uid BIGINT, sid BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 4,
               |  event_id % 997, event_id % 101
               |FROM ev_sqld2 WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, eb, COUNT(*) AS n,
             |  COUNT(DISTINCT uid) AS uniq_u, COUNT(DISTINCT sid) AS uniq_s
             |FROM $fact GROUP BY event_type, eb""".stripMargin)
    def mode(): String = s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    val mode1 = mode()
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.d2v_$id')")
    val mode2 = mode()
    s.sql(s"DELETE FROM $fact WHERE uid % 7 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.d2v_$id')")
    val mode3 = mode()
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.d2f_$id")
    val served = withHiddenFiles(factDir) {
      s.sql(s"""SELECT event_type, eb, COUNT(*) AS n,
               |  COUNT(DISTINCT uid) AS uniq_u, COUNT(DISTINCT sid) AS uniq_s
               |FROM $fact GROUP BY event_type, eb""".stripMargin).collect()
    }
    val rolled = withHiddenFiles(factDir) {
      s.sql(s"""SELECT event_type, COUNT(*) AS n,
               |  COUNT(DISTINCT sid) AS uniq_s
               |FROM $fact GROUP BY event_type""".stripMargin).collect()
    }
    def stage(k: Int, m: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, event_type, eb,
         |  n, uniq_u, uniq_s
         |FROM $mv VERSION AS OF $k""".stripMargin
    import s.implicits._
    val s4 = served.toSeq
      .map(r => (4L, "served", r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toDF("stage", "mode", "event_type", "eb", "n", "uniq_u", "uniq_s")
    val s5 = rolled.toSeq
      .map(r => (5L, "rollup", r.getString(0), -1L, r.getLong(1), -1L,
        r.getLong(2)))
      .toDF("stage", "mode", "event_type", "eb", "n", "uniq_u", "uniq_s")
    s.sql(Seq(stage(1, mode1), stage(2, mode2), stage(3, mode3))
      .mkString("", "\nUNION ALL\n", ""))
      .unionByName(s4)
      .unionByName(s5)
      .orderBy(col("stage"), col("event_type"), col("eb"))
  }

  val qSqlMvDistinct2Sql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 4 AS eb,
      |    event_id % 997 AS uid, event_id % 101 AS sid
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'full' AS mode, event_type, eb,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq_u,
      |    COUNT(DISTINCT sid) AS uniq_s
      |  FROM f WHERE event_id % 3 = 0 GROUP BY event_type, eb),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, 'signed' AS mode, event_type, eb,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq_u,
      |    COUNT(DISTINCT sid) AS uniq_s
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY event_type, eb),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, 'signed' AS mode, event_type, eb,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq_u,
      |    COUNT(DISTINCT sid) AS uniq_s
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 7 <> 0
      |  GROUP BY event_type, eb),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT) AS stage, 'served' AS mode, event_type, eb,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq_u,
      |    COUNT(DISTINCT sid) AS uniq_s
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 7 <> 0
      |  GROUP BY event_type, eb),
      |s5 AS (
      |  SELECT CAST(5 AS BIGINT) AS stage, 'rollup' AS mode, event_type,
      |    CAST(-1 AS BIGINT) AS eb, COUNT(*) AS n,
      |    CAST(-1 AS BIGINT) AS uniq_u, COUNT(DISTINCT sid) AS uniq_s
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 7 <> 0
      |  GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |  UNION ALL SELECT * FROM s5)
      |ORDER BY stage, event_type, eb""".stripMargin

  // --- q_sql_mv_distinct_bm: the BITMAP distinct kind
  // (lake/BitmapDistinctMv) — exact COUNT(DISTINCT uid) for a BOUNDED
  // INTEGRAL key domain at O(groups × domain/8) BYTES of state (one
  // 64-key word per occupied word index + a row-count sentinel)
  // instead of the exact kind's O(groups × live keys) state ROWS: the
  // documented scale path when key traffic is fact-sized but the key
  // domain is bitmap-able. DDL opt-in via WITH (distinct_kind =
  // 'bitmap', distinct_domain = N). Maintenance is the MinMax lattice
  // applied to distinct, and the captured mode literals gate all
  // three laws: CREATE recomputes (`full`); a pure-append range
  // folds OR-distributively — delta files only, never the fact, one
  // MoR merge on the touched word cells (`fold`); a MoR DELETE
  // breaks OR-distributivity, so the touched GROUPS recompute from
  // the IN-pruned fact head and retire their prior cells via the
  // merge mask (`targeted`). Stage 4 serves the fact query with
  // every fact file hidden — only the rewrite rule's exact tier over
  // the visible view can answer.
  def qSqlMvDistinctBm(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.dbf_$id"; val mv = s"graft.q.dbv_$id"
    t(s, dir, "events").select(col("event_id"), col("event_type"))
      .createOrReplaceTempView("ev_sqldb")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, uid BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 997
               |FROM ev_sqldb WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv
             |WITH (distinct_kind = 'bitmap', distinct_domain = 1024) AS
             |SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
             |FROM $fact GROUP BY event_type""".stripMargin)
    def mode(): String = s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    val mode1 = mode()
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dbv_$id')")
    val mode2 = mode()
    s.sql(s"DELETE FROM $fact WHERE uid % 10 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dbv_$id')")
    val mode3 = mode()
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.dbf_$id")
    val served = withHiddenFiles(factDir) {
      s.sql(s"""SELECT event_type, COUNT(*) AS n,
               |  COUNT(DISTINCT uid) AS uniq
               |FROM $fact GROUP BY event_type""".stripMargin).collect()
    }
    def stage(k: Int, m: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, event_type, n,
         |  uniq
         |FROM $mv VERSION AS OF $k""".stripMargin
    import s.implicits._
    val s4 = served.toSeq
      .map(r => (4L, "served", r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("stage", "mode", "event_type", "n", "uniq")
    s.sql(Seq(stage(1, mode1), stage(2, mode2), stage(3, mode3))
      .mkString("", "\nUNION ALL\n", ""))
      .unionByName(s4)
      .orderBy(col("stage"), col("event_type"))
  }

  val qSqlMvDistinctBmSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 997 AS uid
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'full' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
      |  FROM f WHERE event_id % 3 = 0 GROUP BY event_type),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, 'fold' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, 'targeted' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 10 <> 0
      |  GROUP BY event_type),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT) AS stage, 'served' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 10 <> 0
      |  GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, event_type""".stripMargin

  // --- q_sql_mv_distinct_bm2: the BITMAP kind's READ-SIDE tiers
  // (plans/MvRewrite r18) — what the word representation buys beyond
  // O(domain/8) state: bit_or is ASSOCIATIVE ACROSS GROUPED-AWAY
  // DIMENSIONS and across state ∪ delta, so (1) a group-SUBSET
  // COUNT(DISTINCT) — which can NEVER roll up from visible per-group
  // counts (a key lives under several grouped-away values; here uid
  // spans both ub buckets, so the visible sum overcounts) —
  // re-aggregates EXACTLY from the hidden (group, widx, word) state:
  // OR the words per (subset, widx), then Σ bit_count (stage 1; a
  // filter on the grouped-away column commutes, stage 2); and (2) a
  // STALE bitmap MV over an append-only gap COMPENSATES EXACTLY
  // without refreshing: delta rows' bits OR into the state's words —
  // the append fold law applied at read time — with a re-seen uid
  // unable to inflate its group (stage 3; soundness rides the
  // validation-time state pin + a manifest-stats guard proving the
  // delta keys nonnegative, since the word mapping is injective only
  // there). EVERY stage runs with the answering fact files hidden:
  // stages 1-2 hide the whole fact, stage 3 hides everything before
  // the unrefreshed append — only state (∪ delta) can produce these
  // values. At 100 TB each serve is O(groups × domain/64) word rows
  // (+ the delta), never a fact scan.
  def qSqlMvDistinctBm2(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.dbf2_$id"; val mv = s"graft.q.dbv2_$id"
    t(s, dir, "events").select(col("event_id"), col("event_type"))
      .createOrReplaceTempView("ev_sqldb2")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, ub BIGINT, uid BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 2, event_id % 997
               |FROM ev_sqldb2 WHERE $pred""".stripMargin)
    ins("event_id % 3 IN (0, 1)")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv
             |WITH (distinct_kind = 'bitmap', distinct_domain = 1024) AS
             |SELECT event_type, ub, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
             |FROM $fact GROUP BY event_type, ub""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.dbf2_$id")
    val subset = s"""SELECT event_type, COUNT(*) AS n,
                    |  COUNT(DISTINCT uid) AS uniq
                    |FROM $fact GROUP BY event_type""".stripMargin
    // stages 1-2: the whole fact hidden — only the word state answers
    val (r1, r2) = withHiddenFiles(factDir) {
      (s.sql(subset).collect().toSeq,
        s.sql(s"""SELECT event_type, COUNT(*) AS n,
                 |  COUNT(DISTINCT uid) AS uniq
                 |FROM $fact WHERE ub = 1 GROUP BY event_type""".stripMargin)
          .collect().toSeq)
    }
    // stage 3: an unrefreshed append (uids re-seen AND new), every
    // pre-append file hidden — only state | delta can answer
    ins("event_id % 3 = 2")
    val head3 = LakeTable.currentSnapshot(factDir)
    val r3 = withHiddenFiles(factDir, _.seq < head3) {
      s.sql(subset).collect().toSeq
    }
    import s.implicits._
    def rows(stage: Long, m: String, rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (stage, m, r.getString(0), r.getLong(1), r.getLong(2)))
    (rows(1, "rollup", r1) ++ rows(2, "rollup_filtered", r2) ++
      rows(3, "compensated", r3))
      .toDF("stage", "mode", "event_type", "n", "uniq")
      .orderBy(col("stage"), col("event_type"))
  }

  val qSqlMvDistinctBm2Sql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 2 AS ub,
      |    event_id % 997 AS uid
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'rollup' AS mode, event_type,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY event_type),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), 'rollup_filtered', event_type,
      |    COUNT(*), COUNT(DISTINCT uid)
      |  FROM f WHERE event_id % 3 IN (0, 1) AND ub = 1
      |  GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), 'compensated', event_type,
      |    COUNT(*), COUNT(DISTINCT uid)
      |  FROM f GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3)
      |ORDER BY stage, event_type""".stripMargin

  // --- q_sql_mv_distinct_hll: the HLL distinct kind
  // (lake/HllDistinctMv) — APPROXIMATE COUNT(DISTINCT uid) for
  // UNBOUNDED key domains (string uids here), the third point of the
  // distinct lattice: state is O(groups × 2^p) max-rank REGISTERS
  // regardless of key type or cardinality, where the exact kind
  // stores every live (group, key) and the bitmap kind needs a
  // bounded integral domain. DDL opt-in via WITH (distinct_kind =
  // 'hll', distinct_precision = 12). Maintenance is the MinMax
  // lattice applied to sketches, gated by the captured mode
  // literals: CREATE recomputes (`full`); a pure-append range folds
  // MAX-distributively — delta files only, one MoR merge on the
  // touched register cells (`fold`); a MoR DELETE breaks
  // max-distributivity (no register can lower without rehashing the
  // group's survivors), so the touched groups recompute from the
  // IN-pruned fact head (`targeted`). The SKETCH CONTENT is gated
  // EXACTLY: the register index/rank math is integer/string ops over
  // the engine's md5-derived 60-bit hash, so DuckDB replays per-group
  // occupancy and rank sums verbatim; only the float estimator is
  // tolerance-gated (est_ok, |est − exact| ≤ 5% — the oracle
  // hard-codes TRUE). `n` stays EXACT (the sentinel row). Stage 4
  // queries the view BY NAME with every fact file hidden — the
  // rewrite rule VETOES hll MVs (an estimate never substitutes an
  // exact aggregate, DsV2Spec-pinned), so by-name is the only door,
  // and it must answer from MV data alone.
  def qSqlMvDistinctHll(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.dhf_$id"; val mv = s"graft.q.dhv_$id"
    t(s, dir, "events").select(col("event_id"), col("event_type"))
      .createOrReplaceTempView("ev_sqldh")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, uid STRING)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type,
               |  concat('u', CAST(event_id % 1499 AS STRING))
               |FROM ev_sqldh WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv
             |WITH (distinct_kind = 'hll', distinct_precision = 12) AS
             |SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
             |FROM $fact GROUP BY event_type""".stripMargin)
    val cat = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"q.dhf_$id")
    val stRoot = graft.lake.HllDistinctMv.stateRoot(cat.tableDir(s"q.dhv_$id"))
    def mode(): String = s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    // one row per (stage, group): exact n, EXACT register occupancy +
    // rank sum from the hidden state, tolerance boolean on the
    // estimate vs the passed-in exact distinct counts
    def snap(stage: Long, m: String, exact: Map[String, Long]) = {
      val st = LakeTable.read(s, stRoot)
        .filter(col(graft.lake.HllDistinctMv.RidxCol) >= 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("occ"),
          sum(col(graft.lake.HllDistinctMv.RvalCol)).cast("long").as("rsum"))
        .collect().map(r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      s.sql(s"SELECT event_type, n, uniq FROM $mv").collect().toSeq.map { r =>
        val et = r.getString(0); val (occ, rsum) = st(et)
        (stage, m, et, r.getLong(1), occ, rsum,
          math.abs(r.getLong(2) - exact(et)) * 20L <= exact(et))
      }
    }
    def exactNow(): Map[String, Long] =
      s.sql(s"""SELECT event_type, COUNT(DISTINCT uid) AS u
               |FROM $fact GROUP BY event_type""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = snap(1, mode(), exactNow())
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dhv_$id')")
    val s2 = snap(2, mode(), exactNow())
    s.sql(s"DELETE FROM $fact WHERE event_id % 10 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dhv_$id')")
    val exact3 = exactNow()
    val s3 = snap(3, mode(), exact3)
    // stage 4: by-name serve under hidden fact files (exact captured
    // pre-hide — the fact is unreadable inside)
    val s4 = withHiddenFiles(factDir) { snap(4, "served", exact3) }
    import s.implicits._
    (s1 ++ s2 ++ s3 ++ s4)
      .toDF("stage", "mode", "event_type", "n", "occ", "rsum", "est_ok")
      .orderBy(col("stage"), col("event_type"))
  }

  // the oracle rebuilds the SKETCH ITSELF: same md5-derived 60-bit
  // hash, top 12 bits the register, rank = 49 − bit length of the
  // 48-bit suffix — integer/string ops on both engines, so occupancy
  // and rank sums compare EXACTLY; the float estimator is the one
  // thing tolerance-gated (est_ok hard-coded TRUE)
  val qSqlMvDistinctHllSql: String = {
    val b2 = 1L << 48
    def stage(k: Int, m: String, pred: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, n.event_type,
         |  n.n, r.occ, r.rsum, TRUE AS est_ok
         |FROM (
         |  SELECT event_type, COUNT(*) AS n
         |  FROM f WHERE $pred GROUP BY event_type) n
         |JOIN (
         |  SELECT event_type, COUNT(*) AS occ,
         |    CAST(SUM(mr) AS BIGINT) AS rsum
         |  FROM (
         |    SELECT event_type, ridx,
         |      MAX(CASE WHEN w = 0 THEN 49
         |               ELSE 49 - length(bin(w)) END) AS mr
         |    FROM (
         |      SELECT event_type, h // $b2 AS ridx, h % $b2 AS w
         |      FROM (
         |        SELECT event_type,
         |          ('0x'||substr(md5(uid),1,15))::BIGINT AS h
         |        FROM f WHERE $pred))
         |    GROUP BY event_type, ridx)
         |  GROUP BY event_type) r
         |ON n.event_type = r.event_type""".stripMargin
    """WITH f AS (
      |  SELECT event_id, event_type,
      |    'u' || CAST(event_id % 1499 AS VARCHAR) AS uid
      |  FROM events)
      |SELECT * FROM (
      |""".stripMargin +
      Seq(
        stage(1, "full", "event_id % 3 = 0"),
        stage(2, "fold", "event_id % 3 IN (0, 1)"),
        stage(3, "targeted",
          "event_id % 3 IN (0, 1) AND event_id % 10 <> 0"),
        stage(4, "served",
          "event_id % 3 IN (0, 1) AND event_id % 10 <> 0"))
        .mkString("", "\nUNION ALL\n", "") +
      "\n) ORDER BY stage, event_type"
  }

  // --- q_sql_mv_distinct_grain: the hidden (group, key) state
  // served AS A RELATION IN ITS OWN RIGHT (plans/MvRewrite r18 —
  // the state-grain shape of the state-rollup tier): a query
  // grouping BY the distinct key itself (`GROUP BY event_type, uid`
  // — per-user event counts/sums, the canonical engagement query) is
  // answered by the state DIRECTLY, because the state IS the
  // (groups, key) rollup the distinct view's maintenance already
  // pays for: COUNT(*) = SUM(multiplicity), SUM(e) = SUM(partial),
  // COUNT(DISTINCT uid) degenerates to the grouped key's own 1.
  // Key-only grouping re-aggregates keys ACROSS the MV groups
  // (stage 2), and a FILTER on the key commutes like a group filter
  // — it is a state grouping column — serving the key-sliced rollup
  // (stage 3). After a MoR delete + signed refresh the grain tracks
  // the folded state (stage 4). EVERY stage runs with every fact
  // file hidden — only the state can answer. At 100 TB: per-user
  // aggregates over the DEDUP'D (group × key) space, never a fact
  // scan — the state's write cost amortizes across a whole family
  // of reads the visible view cannot serve.
  def qSqlMvDistinctGrain(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.dgf_$id"; val mv = s"graft.q.dgv_$id"
    t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqldg")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, uid BIGINT, vx100 BIGINT)")
    s.sql(s"""INSERT INTO $fact
             |SELECT event_id, event_type, event_id % 199,
             |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             |FROM ev_sqldg WHERE event_id % 3 = 0""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
             |  SUM(COALESCE(vx100, 0)) AS sv
             |FROM $fact GROUP BY event_type""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.dgf_$id")
    val grain = s"""SELECT event_type, uid, COUNT(*) AS n,
                   |  COUNT(DISTINCT uid) AS uniq,
                   |  SUM(COALESCE(vx100, 0)) AS sv
                   |FROM $fact GROUP BY event_type, uid""".stripMargin
    def collect3(stage: Long, sql: String) = withHiddenFiles(factDir) {
      s.sql(sql).collect().toSeq.map(r => (stage, r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    val s1 = collect3(1, grain)
    val s2 = collect3(2,
      s"""SELECT '*' AS event_type, uid, COUNT(*) AS n,
         |  COUNT(DISTINCT uid) AS uniq, SUM(COALESCE(vx100, 0)) AS sv
         |FROM $fact GROUP BY uid""".stripMargin)
    val s3 = collect3(3,
      s"""SELECT event_type, CAST(-1 AS BIGINT) AS uid, COUNT(*) AS n,
         |  COUNT(DISTINCT uid) AS uniq, SUM(COALESCE(vx100, 0)) AS sv
         |FROM $fact WHERE uid % 10 = 0 GROUP BY event_type""".stripMargin)
    s.sql(s"DELETE FROM $fact WHERE uid % 7 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dgv_$id')")
    val s4 = collect3(4, grain)
    import s.implicits._
    (s1 ++ s2 ++ s3 ++ s4)
      .toDF("stage", "event_type", "uid", "n", "uniq", "sv")
      .orderBy(col("stage"), col("event_type"), col("uid"))
  }

  val qSqlMvDistinctGrainSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 199 AS uid,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events WHERE event_id % 3 = 0),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, event_type, uid,
      |    COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sv
      |  FROM f GROUP BY 2, 3),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), '*', uid, COUNT(*),
      |    COUNT(DISTINCT uid), CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f GROUP BY 3),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), event_type, CAST(-1 AS BIGINT),
      |    COUNT(*), COUNT(DISTINCT uid),
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f WHERE uid % 10 = 0 GROUP BY 2),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT), event_type, uid, COUNT(*),
      |    COUNT(DISTINCT uid), CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f WHERE uid % 7 <> 0 GROUP BY 2, 3)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, event_type, uid""".stripMargin

  // --- q_sql_mv_global: GLOBAL (no-group) aggregates served from
  // MVs and their hidden states (plans/MvRewrite r18 — the lifted
  // veto): `SELECT COUNT(*), SUM(e), COUNT(DISTINCT x) FROM fact` —
  // the textbook dashboard totals — map to one state scan
  // (COUNT(*) → coalesce(SUM(multiplicity), 0), SUM → SUM(partial),
  // COUNT(DISTINCT) → COUNT over the dedup'd keys); a key-filtered
  // global rides the grain shape (the filter commutes — the key is a
  // state grouping column). The Coalesce is the whole fix: SUM/MIN/
  // MAX are NULL over zero rows on BOTH sides already, and COUNT's
  // zero-row 0 vs the empty-state SUM's NULL was the one mismatch
  // the old veto guarded. Stage 3 PROVES the edge: every row
  // retired, the global still serves from the (empty) state and
  // reads COUNT(*) = 0, SUM = NULL, COUNT(DISTINCT) = 0 — exactly
  // the fact's zero-row answers. Every stage runs with every fact
  // file hidden. At 100 TB: dashboard totals at metadata-to-state
  // cost, never a fact scan.
  def qSqlMvGlobal(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.glf_$id"; val mv = s"graft.q.glv_$id"
    t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlgl")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, uid BIGINT, vx100 BIGINT)")
    s.sql(s"""INSERT INTO $fact
             |SELECT event_id, event_type, event_id % 199,
             |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             |FROM ev_sqlgl WHERE event_id % 3 = 0""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq,
             |  SUM(COALESCE(vx100, 0)) AS sv
             |FROM $fact GROUP BY event_type""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.glf_$id")
    val globalQ = s"""SELECT COUNT(*) AS c,
                     |  SUM(COALESCE(vx100, 0)) AS sv,
                     |  COUNT(DISTINCT uid) AS du
                     |FROM $fact""".stripMargin
    def one(stage: Long, sql: String) = withHiddenFiles(factDir) {
      val r = s.sql(sql).head()
      (stage, r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))
    }
    val s1 = one(1, globalQ)
    val s2 = one(2, s"$globalQ WHERE uid % 10 = 0")
    s.sql(s"DELETE FROM $fact WHERE event_id >= 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.glv_$id')")
    val s3 = one(3, globalQ)
    import s.implicits._
    Seq(s1, s2, s3).toDF("stage", "c", "sv", "du").orderBy(col("stage"))
  }

  val qSqlMvGlobalSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 199 AS uid,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events WHERE event_id % 3 = 0)
      |SELECT CAST(1 AS BIGINT) AS stage, COUNT(*) AS c,
      |  CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sv,
      |  COUNT(DISTINCT uid) AS du
      |FROM f
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), COUNT(*),
      |  CAST(SUM(COALESCE(vx100, 0)) AS BIGINT), COUNT(DISTINCT uid)
      |FROM f WHERE uid % 10 = 0
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), COUNT(*),
      |  CAST(SUM(COALESCE(vx100, 0)) AS BIGINT), COUNT(DISTINCT uid)
      |FROM f WHERE FALSE
      |ORDER BY stage""".stripMargin

  // --- q_sql_mv_hll_expr: APPROXIMATE DAILY UNIQUE USERS — the
  // canonical log-analytics sketch rollup (`COUNT(DISTINCT uid)
  // GROUP BY date_trunc('DAY', ts)` over an unbounded uid domain),
  // combining the HLL kind's bounded-register state with expression
  // group columns: every state derivation (CREATE, the append fold's
  // delta, the full recompute) re-derives the bucket via the shared
  // prep hook. The lattice under a derived bucket: APPENDS keep the
  // O(Δ) register-max fold (the stream-cadence path — per-refresh
  // writes bounded by O(days touched × 2^p) whatever the uid
  // cardinality, mode `fold`); DELETES fall back to ONE full sketch
  // recompute (mode `full` — a derived bucket cannot key the
  // group-targeted IN-pruned scan; the exact kind pays (day, uid)
  // state rows for its incremental deletes, this kind pays a
  // recompute instead — the documented trade). Register state
  // replays EXACTLY in DuckDB (same md5/rank math + its own
  // date_trunc); the estimate is tolerance-gated per day.
  def qSqlMvHllExpr(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.hef_$id"; val mv = s"graft.q.hev_$id"
    t(s, dir, "events").select(col("event_id"), col("ts"))
      .createOrReplaceTempView("ev_sqlhe")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, uid STRING)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts,
               |  concat('u', CAST(event_id % 1499 AS STRING))
               |FROM ev_sqlhe WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv
             |WITH (distinct_kind = 'hll', distinct_precision = 12) AS
             |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
             |  COUNT(DISTINCT uid) AS uniq
             |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
    val stRoot = graft.lake.HllDistinctMv.stateRoot(
      s.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.hev_$id"))
    def mode(): String = s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    def snap(stage: Long, m: String) = {
      val exact = s.sql(s"""SELECT date_trunc('DAY', ts) AS d,
                           |  COUNT(DISTINCT uid) AS u
                           |FROM $fact GROUP BY 1""".stripMargin)
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val st = LakeTable.read(s, stRoot)
        .filter(col(graft.lake.HllDistinctMv.RidxCol) >= 0L)
        .groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("occ"),
          sum(col(graft.lake.HllDistinctMv.RvalCol)).cast("long").as("rsum"))
        .collect().map(r =>
          r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      s.sql(s"SELECT d, n, uniq FROM $mv").collect().toSeq.map { r =>
        val d = r.getTimestamp(0); val (occ, rsum) = st(d)
        (stage, m, d, r.getLong(1), occ, rsum,
          math.abs(r.getLong(2) - exact(d)) * 20L <= exact(d))
      }
    }
    val s1 = snap(1, mode())
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.hev_$id')")
    val s2 = snap(2, mode())
    s.sql(s"DELETE FROM $fact WHERE event_id % 10 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.hev_$id')")
    val s3 = snap(3, mode())
    import s.implicits._
    (s1 ++ s2 ++ s3)
      .toDF("stage", "mode", "d", "n", "occ", "rsum", "est_ok")
      .orderBy(col("stage"), col("d"))
  }

  val qSqlMvHllExprSql: String = {
    val b2 = 1L << 48
    def stage(k: Int, m: String, pred: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, n.d, n.n,
         |  r.occ, r.rsum, TRUE AS est_ok
         |FROM (
         |  SELECT date_trunc('day', ts) AS d, COUNT(*) AS n
         |  FROM f WHERE $pred GROUP BY 1) n
         |JOIN (
         |  SELECT d, COUNT(*) AS occ, CAST(SUM(mr) AS BIGINT) AS rsum
         |  FROM (
         |    SELECT d, ridx,
         |      MAX(CASE WHEN w = 0 THEN 49
         |               ELSE 49 - length(bin(w)) END) AS mr
         |    FROM (
         |      SELECT d, h // $b2 AS ridx, h % $b2 AS w
         |      FROM (
         |        SELECT date_trunc('day', ts) AS d,
         |          ('0x'||substr(md5(uid),1,15))::BIGINT AS h
         |        FROM f WHERE $pred))
         |    GROUP BY d, ridx)
         |  GROUP BY d) r
         |ON n.d = r.d""".stripMargin
    """WITH f AS (
      |  SELECT event_id, ts,
      |    'u' || CAST(event_id % 1499 AS VARCHAR) AS uid
      |  FROM events)
      |SELECT * FROM (
      |""".stripMargin +
      Seq(
        stage(1, "full", "event_id % 3 = 0"),
        stage(2, "fold", "event_id % 3 IN (0, 1)"),
        stage(3, "full",
          "event_id % 3 IN (0, 1) AND event_id % 10 <> 0"))
        .mkString("", "\nUNION ALL\n", "") +
      "\n) ORDER BY stage, d"
  }

  // --- q_sql_mv_distinct_expr: DAILY UNIQUE USERS — the warehouse's
  // canonical distinct rollup (`COUNT(DISTINCT uid) GROUP BY
  // date_trunc('DAY', ts)`), combining the distinct kind's signed
  // (group, key) state with expression group columns: every state
  // derivation — CREATE, the change-feed fold's delta (insert AND
  // delete pre-images derive the same bucket, so signed folds cancel
  // exactly), the expired-range full recompute — re-derives the
  // bucket via the shared prep hook (tz + ANSI guards carry over).
  // The distinct kind needs NO non-timestamp group column: its state
  // and view maintenance are whole-table rewrites, never eq-delete
  // masks, so a pure time-bucket grouping is legal — exactly the
  // "daily uniques" shape. Deletes stay incremental (mode `signed`)
  // and uid retirement is per (day, uid) cell. Stage 4 serves the
  // plain daily-uniques fact query from the fresh MV via the
  // expression tier with EVERY fact file hidden.
  def qSqlMvDistinctExpr(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.def_$id"; val mv = s"graft.q.dev_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .createOrReplaceTempView("ev_sqlde")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, uid BIGINT, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts, event_id % 499,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlde WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
             |  COUNT(DISTINCT uid) AS uniq,
             |  SUM(COALESCE(vx100, 0)) AS sum_vx100
             |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
    def mode(): String =
      s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    val mode1 = mode()
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dev_$id')")
    val mode2 = mode()
    // a MoR DELETE wipes every row of uids ≡ 0 (mod 7): per-day
    // retirement, mode stays signed
    s.sql(s"DELETE FROM $fact WHERE uid % 7 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.dev_$id')")
    val mode3 = mode()
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.def_$id")
    // stage 4: the daily-uniques fact query, served via the
    // expression tier — every fact data file hidden
    val served = withHiddenFiles(factDir) {
      s.sql(s"""SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
               |  COUNT(DISTINCT uid) AS uniq,
               |  SUM(COALESCE(vx100, 0)) AS sum_vx100
               |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin).collect()
    }
    // stage 5: STALE over an unrefreshed append — the daily-uniques
    // query COMPENSATES FROM THE STATE (plans/MvRewrite's bucketed
    // distinct branch): state keys ∪ delta keys per day, the bucket
    // re-derived per delta row, so a uid re-seen on a day it already
    // counted on cannot inflate that day. EVERY pre-append fact file
    // hidden — only state ⊎ delta can answer.
    ins("event_id % 3 = 2")
    val head5 = LakeTable.currentSnapshot(factDir)
    val compensated = withHiddenFiles(factDir, _.seq < head5) {
      s.sql(s"""SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
               |  COUNT(DISTINCT uid) AS uniq,
               |  SUM(COALESCE(vx100, 0)) AS sum_vx100
               |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin).collect()
    }
    def stage(k: Int, m: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, d, n, uniq,
         |  sum_vx100
         |FROM $mv VERSION AS OF $k""".stripMargin
    import s.implicits._
    val s4 = served.toSeq
      .map(r => (4L, "served", r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toDF("stage", "mode", "d", "n", "uniq", "sum_vx100")
    val s5 = compensated.toSeq
      .map(r => (5L, "compensated", r.getTimestamp(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .toDF("stage", "mode", "d", "n", "uniq", "sum_vx100")
    s.sql(Seq(stage(1, mode1), stage(2, mode2), stage(3, mode3))
      .mkString("", "\nUNION ALL\n", ""))
      .unionByName(s4)
      .unionByName(s5)
      .orderBy(col("stage"), col("d"))
  }

  val qSqlMvDistinctExprSql: String =
    """WITH f AS (
      |  SELECT event_id, ts, event_id % 499 AS uid,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'full' AS mode,
      |    date_trunc('day', ts) AS d, COUNT(*) AS n,
      |    COUNT(DISTINCT uid) AS uniq,
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 3 = 0 GROUP BY 3),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), 'signed', date_trunc('day', ts),
      |    COUNT(*), COUNT(DISTINCT uid),
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY 3),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), 'signed', date_trunc('day', ts),
      |    COUNT(*), COUNT(DISTINCT uid),
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 7 <> 0 GROUP BY 3),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT), 'served', date_trunc('day', ts),
      |    COUNT(*), COUNT(DISTINCT uid),
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f WHERE event_id % 3 IN (0, 1) AND uid % 7 <> 0 GROUP BY 3),
      |s5 AS (
      |  SELECT CAST(5 AS BIGINT), 'compensated', date_trunc('day', ts),
      |    COUNT(*), COUNT(DISTINCT uid),
      |    CAST(SUM(COALESCE(vx100, 0)) AS BIGINT)
      |  FROM f WHERE (event_id % 3 IN (0, 1) AND uid % 7 <> 0)
      |    OR event_id % 3 = 2
      |  GROUP BY 3)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |  UNION ALL SELECT * FROM s5)
      |ORDER BY stage, d""".stripMargin

  // --- q_sql_mv_profile: the PROFILE view — `g, COUNT(*), SUM, MIN,
  // MAX, AVG` as ONE materialized view through the same front door.
  // MIN/MAX force the GROUP-TARGETED RECOMPUTE kind (no signed delta
  // answers "what's the new min" after a delete), and because that
  // law RECOMPUTES touched groups from the fact head, the SUM and
  // AVG measures ride along exactly — in every other shape here this
  // view is two objects (a fold view and a recompute view); the
  // recompute law makes it one. Stage 3 deletes group minima through
  // SQL: mins must rise, sums/avgs must track, counts must drop — in
  // the same refresh commit.
  def qSqlMvProfile(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.pff_$id"; val mv = s"graft.q.pfv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlpf")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlpf WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT event_type, COUNT(*) AS n, SUM(vx100) AS sum_vx100,
             |  MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100,
             |  AVG(vx100) AS avg_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.pfv_$id')")
    s.sql(s"DELETE FROM $fact WHERE event_id % 5 = 0")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.pfv_$id')")
    def stage(n: Int) =
      s"""SELECT CAST($n AS BIGINT) AS stage, event_type, n, sum_vx100,
         |  min_vx100, max_vx100,
         |  CAST(FLOOR(avg_vx100 * 100 + 0.5) AS BIGINT) AS avgx100
         |FROM $mv VERSION AS OF $n""".stripMargin
    s.sql(Seq(stage(1), stage(2), stage(3))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage, event_type"))
  }

  val qSqlMvProfileSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, event_type, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100,
      |    MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100,
      |    CAST(FLOOR((CAST(SUM(vx100) AS DOUBLE) / COUNT(*)) * 100 + 0.5) AS BIGINT) AS avgx100
      |  FROM f WHERE event_id % 3 = 0 GROUP BY event_type),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, event_type, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100,
      |    MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100,
      |    CAST(FLOOR((CAST(SUM(vx100) AS DOUBLE) / COUNT(*)) * 100 + 0.5) AS BIGINT) AS avgx100
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, event_type, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100,
      |    MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100,
      |    CAST(FLOOR((CAST(SUM(vx100) AS DOUBLE) / COUNT(*)) * 100 + 0.5) AS BIGINT) AS avgx100
      |  FROM f WHERE event_id % 3 IN (0, 1) AND event_id % 5 <> 0
      |  GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, event_type""".stripMargin

  /** Rename the selected data files of `dir`'s head manifest out of
    * the way for the duration of `body`, restoring after — the
    * strongest possible "this plan never scanned them" pin: a plan
    * that touches the files throws. Shared by the MV-rewrite and
    * fold gates (default: every file).
    */
  private def withHiddenFiles[T](dir: String,
      pred: LakeTable.FileEntry => Boolean = _ => true)(body: => T): T = {
    val files = LakeTable
      .manifest(dir, LakeTable.currentSnapshot(dir)).files.filter(pred).map(_.path)
    def shift(hide: Boolean): Unit = files.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(hide = true); try body finally shift(hide = false)
  }

  // --- q_sql_mv_rewrite: AUTOMATIC QUERY REWRITE — the read-side
  // half of the MV contract (the refresh laws are the write side):
  // plain aggregates over the FACT table, never mentioning any MV,
  // are answered from a fresh MV by the injected optimizer rule
  // (plans/MvRewrite) — exact-group projection, filter-commuting
  // (WHERE on group columns lands on the MV rows, pushed into its
  // scan), and group-subset ROLLUP (COUNT(*)→SUM(n), SUM→SUM over a
  // finer MV, filters on grouped-away dimensions included). At
  // 100 TB this replaces a full fact scan + shuffle with a scan of a
  // group-domain-sized table. The gate proves the rewrite BOTH ways:
  // stages 1-3 run with EVERY fact data file hidden (only a plan
  // served by the MVs can produce rows at all), stage 4 runs against
  // STALE MVs and must return the fresh fact values (a misfired
  // rewrite would return yesterday's numbers and fail the hash), and
  // stage 5 re-hides the files after a refresh.
  def qSqlMvRewrite(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.rwf_$id"
    val mv1 = s"graft.q.rwv_$id"; val mv2 = s"graft.q.rww_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlrw")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, ub BIGINT, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 3,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlrw WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv1 AS
             |SELECT event_type, COUNT(*) AS n, SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv2 AS
             |SELECT event_type, ub, COUNT(*) AS n, SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY event_type, ub""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.rwf_$id")
    def hidden[T](body: => T): T = withHiddenFiles(factDir)(body)
    val agg =
      s"SELECT event_type AS k, COUNT(*) AS cnt, SUM(vx100) AS total FROM $fact"
    val (r1, r2, r3) = hidden {
      (s.sql(s"$agg GROUP BY event_type").collect(),
        s.sql(s"$agg WHERE event_type >= 'm' GROUP BY event_type").collect(),
        s.sql(
          s"""SELECT CAST(ub AS STRING) AS k, COUNT(*) AS cnt, SUM(vx100) AS total
             |FROM $fact WHERE event_type >= 'm' GROUP BY ub""".stripMargin)
          .collect())
    }
    ins("event_id % 2 = 1") // both MVs now stale → fact serves, fresh values
    val r4 = s.sql(s"$agg GROUP BY event_type").collect()
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.rwv_$id')")
    val r5 = hidden { s.sql(s"$agg GROUP BY event_type").collect() }
    import s.implicits._
    (r1.toSeq.map((1L, _)) ++ r2.toSeq.map((2L, _)) ++ r3.toSeq.map((3L, _)) ++
      r4.toSeq.map((4L, _)) ++ r5.toSeq.map((5L, _)))
      .map { case (st, r) => (st, r.getString(0), r.getLong(1), r.getLong(2)) }
      .toDF("stage", "k", "cnt", "total")
      .orderBy(col("stage"), col("k"))
  }

  val qSqlMvRewriteSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 3 AS ub,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, event_type AS k, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f WHERE event_id % 2 = 0 GROUP BY event_type),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, event_type AS k, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f WHERE event_id % 2 = 0 AND event_type >= 'm' GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, CAST(ub AS VARCHAR) AS k,
      |    COUNT(*) AS cnt, CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f WHERE event_id % 2 = 0 AND event_type >= 'm' GROUP BY ub),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT) AS stage, event_type AS k, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f GROUP BY event_type),
      |s5 AS (
      |  SELECT CAST(5 AS BIGINT) AS stage, event_type AS k, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f GROUP BY event_type)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
      |  UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)
      |ORDER BY stage, k""".stripMargin

  // --- q_sql_mv_rewrite_stale: the COMPENSATED rewrite tier — a
  // STALE MV whose gap to the scanned snapshot is append-only is
  // still served, as MV rows ⊎ the appended files' per-row
  // contributions folded in ONE aggregate (the refresh law applied
  // at read time; SUM/COUNT for the single kind, MIN/MAX for the
  // minmax kind — all distributive under pure appends). At 100 TB
  // this is the "query right after the ingest batch" shape: correct
  // fresh answers for |MV| + |new files| cost, no refresh commit, no
  // fact scan. The gate hides every PRE-APPEND fact data file during
  // stages 1-3: the fresh totals (which include the appended rows)
  // can then only come from a plan that reads the MV plus exactly
  // the delta files — a bare-MV answer returns stale numbers and
  // fails the hash, a fact scan throws. Stage 4 lands a MoR DELETE
  // (append-only broken): compensation must NOT fire and the plain
  // fact scan returns the post-delete values.
  def qSqlMvRewriteStale(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.rtf_$id"
    val mv1 = s"graft.q.rtv_$id"; val mv2 = s"graft.q.rtm_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlrt")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, ub BIGINT, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 2,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlrt WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv1 AS
             |SELECT event_type, ub, COUNT(*) AS n, SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY event_type, ub""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv2 AS
             |SELECT event_type, COUNT(*) AS n, MIN(vx100) AS mn, MAX(vx100) AS mx
             |FROM $fact GROUP BY event_type""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.rtf_$id")
    val basisSnap = LakeTable.currentSnapshot(factDir)
    ins("event_id % 2 = 1") // both MVs now stale by an append-only gap
    val (r1, r2, r3) = withHiddenFiles(factDir, _.seq <= basisSnap) {
      (s.sql(s"""SELECT event_type || '#' || CAST(ub AS STRING) AS k, COUNT(*) AS cnt,
                |  SUM(vx100) AS v FROM $fact GROUP BY event_type, ub""".stripMargin)
        .collect(),
        s.sql(s"""SELECT event_type AS k, COUNT(*) AS cnt, SUM(vx100) AS v
                 |FROM $fact WHERE ub = 1 GROUP BY event_type""".stripMargin)
          .collect(),
        s.sql(s"""SELECT event_type AS k, MIN(vx100) AS cnt, MAX(vx100) AS v
                 |FROM $fact GROUP BY event_type""".stripMargin).collect())
    }
    // append-only broken: values must now come from the fact scan
    s.sql(s"DELETE FROM $fact WHERE event_id % 10 = 1")
    val r4 = s.sql(s"""SELECT event_type AS k, COUNT(*) AS cnt, SUM(vx100) AS v
                      |FROM $fact GROUP BY event_type""".stripMargin).collect()
    import s.implicits._
    (r1.toSeq.map((1L, _)) ++ r2.toSeq.map((2L, _)) ++
      r3.toSeq.map((3L, _)) ++ r4.toSeq.map((4L, _)))
      .map { case (st, r) => (st, r.getString(0), r.getLong(1), r.getLong(2)) }
      .toDF("stage", "k", "cnt", "v")
      .orderBy(col("stage"), col("k"))
  }

  val qSqlMvRewriteStaleSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 2 AS ub,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, event_type || '#' || CAST(ub AS VARCHAR) AS k,
      |    COUNT(*) AS cnt, CAST(SUM(vx100) AS BIGINT) AS v
      |  FROM f GROUP BY event_type, ub),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), event_type, COUNT(*),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM f WHERE ub = 1 GROUP BY event_type),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), event_type, MIN(vx100), MAX(vx100)
      |  FROM f GROUP BY event_type),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT), event_type, COUNT(*),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM f WHERE event_id % 10 <> 1 GROUP BY event_type)
      |SELECT stage, k, CAST(cnt AS BIGINT) AS cnt, CAST(v AS BIGINT) AS v
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, k""".stripMargin

  // --- q_sql_mv_rewrite_stale_star: the compensated tier over a
  // JOIN (star) MV — a star stale ONLY on the fact axis over an
  // append-only gap (every dimension at its basis snapshot) is
  // served as MV rows ⊎ (Δfact ⋈ dims): the user's own join subtree
  // re-runs with the fact scan substituted by exactly the appended
  // files, i.e. the delta-join law's ΔF ⋈ D₀ term evaluated at read
  // time with no refresh commit. Stages 1-2 run with every
  // PRE-APPEND fact file hidden (fresh star totals are only
  // reachable via the MV plus the delta files; stage 2 is the
  // COUNT-only shape, pinning that the delta side doesn't reference
  // measure columns the pruned subtree no longer exposes). Stage 3
  // is the LATE-ARRIVING DIMENSION case: after a refresh, BOTH axes
  // move append-only (new 'zz_' dim keys + fact rows referencing
  // them) and every pre-append fact AND dim file is hidden — fresh
  // totals are only reachable via the delta-join STAIRCASE
  // (MV ⊎ ΔF⋈D₁ ⊎ F₀⋈ΔD), whose terms prune the opposite side's old
  // files by the deltas' manifest-stats key ranges. Stage 4 REWIRES
  // a dimension (MERGE): the precondition breaks and the star runs
  // as written, returning the rewired values.
  def qSqlMvRewriteStaleStar(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.ssf_$id"; val d1 = s"graft.q.ssd_$id"
    val mv = s"graft.q.ssv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlss")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlss WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"CREATE TABLE $d1 (event_type STRING, wb BIGINT)")
    s.sql(s"""INSERT INTO $d1
             |SELECT event_type, length(event_type) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlss)""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT wb, COUNT(*) AS n, SUM(COALESCE(vx100, 0)) AS sum_vx100
             |FROM $fact JOIN $d1 USING (event_type)
             |GROUP BY wb""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.ssf_$id")
    val basisSnap = LakeTable.currentSnapshot(factDir)
    ins("event_id % 2 = 1") // fact-append staleness, dims untouched
    val star = s"FROM $fact JOIN $d1 USING (event_type)"
    val q = s"SELECT wb, COUNT(*) AS cnt, SUM(COALESCE(vx100, 0)) AS total $star GROUP BY wb"
    val (r1, r2) = withHiddenFiles(factDir, _.seq <= basisSnap) {
      (s.sql(q).collect(),
        s.sql(s"SELECT wb, COUNT(*) AS cnt $star WHERE wb >= 1 GROUP BY wb")
          .collect())
    }
    // stage 3: BOTH axes move append-only — a LATE-ARRIVING dim key
    // ('zz_'-prefixed types) plus fact rows referencing it land after
    // a refresh; every PRE-APPEND fact AND dim file is hidden, so
    // fresh star totals are only reachable via the delta-join
    // STAIRCASE (MV ⊎ ΔF⋈D₁ ⊎ F₀⋈ΔD), whose terms prune the other
    // side's old files by the deltas' manifest-stats key ranges
    // ('zz_…' sorts above every pre-append event_type)
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.ssv_$id')").collect()
    val dimDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.ssd_$id")
    val fb2 = LakeTable.currentSnapshot(factDir)
    val db2 = LakeTable.currentSnapshot(dimDir)
    s.sql(s"""INSERT INTO $d1
             |SELECT 'zz_' || event_type, (length(event_type) + 2) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlss)""".stripMargin)
    s.sql(s"""INSERT INTO $fact
             |SELECT event_id + 1000000, 'zz_' || event_type,
             |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             |FROM ev_sqlss WHERE event_id % 4 = 2""".stripMargin)
    val fbPaths = LakeTable.manifest(factDir, fb2).files.map(_.path).toSet
    val dbPaths = LakeTable.manifest(dimDir, db2).files.map(_.path).toSet
    def shiftDim(hide: Boolean): Unit = dbPaths.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shiftDim(hide = true)
    val r3 =
      try withHiddenFiles(factDir, f => fbPaths.contains(f.path)) {
        s.sql(q).collect()
      } finally shiftDim(hide = false)
    // stage 4: dim REWIRE — compensation precondition broken → star
    // as written (the zz rows from stage 3 ride along, unmatched by
    // the MERGE source)
    s.sql(s"""MERGE INTO $d1 t USING (
             |  SELECT event_type, (length(event_type) + 10) % 3 AS wb
             |  FROM (SELECT DISTINCT event_type FROM ev_sqlss)
             |  WHERE length(event_type) % 2 = 0) src
             |ON t.event_type = src.event_type
             |WHEN MATCHED THEN UPDATE SET t.wb = src.wb""".stripMargin)
    val r4 = s.sql(q).collect()
    import s.implicits._
    (r1.toSeq.map(r => (1L, r.getLong(0), r.getLong(1), r.getLong(2))) ++
      r2.toSeq.map(r => (2L, r.getLong(0), r.getLong(1), -1L)) ++
      r3.toSeq.map(r => (3L, r.getLong(0), r.getLong(1), r.getLong(2))) ++
      r4.toSeq.map(r => (4L, r.getLong(0), r.getLong(1), r.getLong(2))))
      .toDF("stage", "wb", "cnt", "total")
      .orderBy(col("stage"), col("wb"))
  }

  val qSqlMvRewriteStaleStarSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100,
      |    length(event_type) AS len
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, len % 3 AS wb, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f GROUP BY 2),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), len % 3 AS wb, COUNT(*),
      |    CAST(-1 AS BIGINT)
      |  FROM f WHERE len % 3 >= 1 GROUP BY 2),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), wb, COUNT(*), CAST(SUM(vx100) AS BIGINT)
      |  FROM (
      |    SELECT len % 3 AS wb, vx100 FROM f
      |    UNION ALL
      |    SELECT (len + 2) % 3 AS wb, vx100 FROM f WHERE event_id % 4 = 2
      |  ) u3 GROUP BY 2),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT), wb, COUNT(*), CAST(SUM(vx100) AS BIGINT)
      |  FROM (
      |    SELECT (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb,
      |      vx100 FROM f
      |    UNION ALL
      |    SELECT (len + 2) % 3 AS wb, vx100 FROM f WHERE event_id % 4 = 2
      |  ) u4 GROUP BY 2)
      |SELECT stage, CAST(wb AS BIGINT) AS wb, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(total AS BIGINT) AS total
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, wb""".stripMargin

  // --- q_sql_mv_rewrite_star: automatic rewrite over a JOIN (star)
  // MV — the flagship warehouse case: `fact ⋈ d1 ⋈ d2(composite key)
  // GROUP BY wb, db` written as a plain star query is served by the
  // Gupta-Mumick-maintained MV when its basis VECTOR (fact + every
  // dimension) matches the scan set exactly. The conjunct pool
  // decomposition (key equalities / implied IsNotNull / group-col
  // residual) is what lets the predicate sit anywhere the optimizer
  // pushed it. Stage 2 is the rollup slice: GROUP BY wb with
  // WHERE db = 0 — a filter on a GROUPED-AWAY dimension attribute,
  // re-aggregated from the finer MV. Stage 3 rewires a dimension:
  // the basis vector is stale on the dim axis, so the SAME query
  // must recompute the join (fresh values gate a misfire); stage 4
  // re-hides the fact after a refresh.
  def qSqlMvRewriteStar(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.rsf_$id"
    val d1 = s"graft.q.rsd1_$id"; val d2 = s"graft.q.rsd2_$id"
    val mv = s"graft.q.rsv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlrs")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, ub BIGINT, vx100 BIGINT)")
    s.sql(s"""INSERT INTO $fact
             |SELECT event_id, event_type, event_id % 2,
             |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             |FROM ev_sqlrs""".stripMargin)
    s.sql(s"CREATE TABLE $d1 (event_type STRING, wb BIGINT)")
    s.sql(s"""INSERT INTO $d1
             |SELECT event_type, length(event_type) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlrs)""".stripMargin)
    s.sql(s"CREATE TABLE $d2 (event_type STRING, ub BIGINT, db BIGINT)")
    s.sql(s"""INSERT INTO $d2
             |SELECT event_type, ub, (length(event_type) + ub) % 2
             |FROM (SELECT DISTINCT event_type FROM ev_sqlrs)
             |CROSS JOIN (SELECT explode(array(0L, 1L)) AS ub)""".stripMargin)
    // COALESCE makes the SUM argument provably non-nullable — the
    // rewrite's join-kind soundness gate (the signed fold drives an
    // all-NULL-backed group to 0 where SUM(x) yields NULL) admits
    // exactly this shape, and the fold is EXACT for it
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT wb, db, COUNT(*) AS n,
             |  SUM(COALESCE(vx100, 0)) AS sum_vx100
             |FROM $fact JOIN $d1 USING (event_type)
             |JOIN $d2 USING (event_type, ub)
             |GROUP BY wb, db""".stripMargin)
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.rsf_$id")
    def hidden[T](body: => T): T = withHiddenFiles(factDir)(body)
    val star = s"""FROM $fact JOIN $d1 USING (event_type)
                  |JOIN $d2 USING (event_type, ub)""".stripMargin
    val q = s"SELECT wb, db, COUNT(*) AS cnt, SUM(COALESCE(vx100, 0)) AS total $star GROUP BY wb, db"
    val (r1, r2) = hidden {
      (s.sql(q).collect(),
        s.sql(s"""SELECT wb, CAST(-1 AS BIGINT) AS db, COUNT(*) AS cnt,
                 |  SUM(COALESCE(vx100, 0)) AS total $star WHERE db = 0 GROUP BY wb""".stripMargin)
          .collect())
    }
    // dim rewire: even-length types move wb buckets → basis vector
    // stale on the d1 axis, the star query recomputes (fresh values)
    s.sql(s"""MERGE INTO $d1 t USING (
             |  SELECT event_type, (length(event_type) + 10) % 3 AS wb
             |  FROM (SELECT DISTINCT event_type FROM ev_sqlrs)
             |  WHERE length(event_type) % 2 = 0) src
             |ON t.event_type = src.event_type
             |WHEN MATCHED THEN UPDATE SET t.wb = src.wb""".stripMargin)
    val r3 = s.sql(q).collect()
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.rsv_$id')")
    val r4 = hidden { s.sql(q).collect() }
    import s.implicits._
    (r1.toSeq.map((1L, _)) ++ r2.toSeq.map((2L, _)) ++
      r3.toSeq.map((3L, _)) ++ r4.toSeq.map((4L, _)))
      .map { case (st, r) => (st, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) }
      .toDF("stage", "wb", "db", "cnt", "total")
      .orderBy(col("stage"), col("wb"), col("db"))
  }

  val qSqlMvRewriteStarSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 2 AS ub,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100,
      |    length(event_type) AS len
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, len % 3 AS wb,
      |    (len + ub) % 2 AS db, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f GROUP BY 2, 3),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, len % 3 AS wb,
      |    CAST(-1 AS BIGINT) AS db, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f WHERE (len + ub) % 2 = 0 GROUP BY 2),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage,
      |    (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb,
      |    (len + ub) % 2 AS db, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f GROUP BY 2, 3),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT) AS stage,
      |    (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb,
      |    (len + ub) % 2 AS db, COUNT(*) AS cnt,
      |    CAST(SUM(vx100) AS BIGINT) AS total
      |  FROM f GROUP BY 2, 3)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, wb, db""".stripMargin

  // --- prune_scan_z3: 3-DIMENSIONAL declared z-order —
  // `PARTITIONED BY (zorder(ts, user_id, value))`. The N-dim morton
  // interleave of per-dim quantile buckets (operators/ZOrder,
  // Advanced.zInterleaveN) range-clusters every append, so per-file
  // extents stay tight in ALL THREE dims and a 3-D predicate prunes
  // by manifest min/max stats alone — beyond 2-D, the interleave is
  // what keeps any single dimension from monopolizing the sort (a
  // lexicographic (ts, user_id, value) sort would leave the third
  // column's extents full-range in every file).
  def pruneScanZ3(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.z3_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_z3")
    s.sql(s"""CREATE TABLE $tbl (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
             |  event_type STRING, value DOUBLE)
             |PARTITIONED BY (zorder(ts, user_id, value))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT event_id, ts, user_id, event_type, value FROM ev_z3")
    s.sql(s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl
             |WHERE ts >= (SELECT MIN(ts) + INTERVAL 2 DAY FROM ev_z3)
             |  AND ts < (SELECT MIN(ts) + INTERVAL 4 DAY FROM ev_z3)
             |  AND user_id >= 10 AND user_id < 40
             |  AND value < 25.0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val pruneScanZ3Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events
      |WHERE ts >= (SELECT MIN(ts) + INTERVAL 2 DAY FROM events)
      |  AND ts < (SELECT MIN(ts) + INTERVAL 4 DAY FROM events)
      |  AND user_id >= 10 AND user_id < 40
      |  AND value < 25.0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- prune_scan_trunc: DDL-declared `PARTITIONED BY
  // (truncate(4, p_name))` (the Iceberg transform for
  // high-cardinality string keys). Appends range-cluster on the raw
  // column, so each file's min/max string extent covers a narrow
  // slice of the name space and a PREFIX predicate
  // (`p_name LIKE 'small%'` → StringStartsWith → the [p, p⁺) stat
  // bound in LakeFilters.translate) plans only the files whose
  // extents intersect the prefix interval — at 100 TB a prefix probe
  // reads 1/cardinality of the table, not all of it. The spec pins
  // the plan shape (files touched ≤ total/4).
  def pruneScanTrunc(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.trc_${System.nanoTime()}"
    t(s, dir, "part").createOrReplaceTempView("part_trc")
    s.sql(s"""CREATE TABLE $tbl (p_partkey BIGINT, p_name STRING, p_brand STRING,
             |  p_size INT, p_retailprice DOUBLE)
             |PARTITIONED BY (truncate(4, p_name))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part_trc")
    s.sql(s"""SELECT p_brand, COUNT(*) AS n,
             |  MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key,
             |  CAST(SUM(CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_x100
             |FROM $tbl
             |WHERE p_name LIKE 'small%'
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  }

  val pruneScanTruncSql: String =
    """SELECT p_brand, COUNT(*) AS n,
      |  MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key,
      |  CAST(SUM(CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_x100
      |FROM part
      |WHERE p_name LIKE 'small%'
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --- lake_nested: NESTED TYPES through the lake — struct and
  // array columns commit, round-trip parquet natively, and serve
  // nested-field reads (`ctx.event_type`) straight off the columnar
  // scan. Stats/pruning stay on atomic columns (nested fields carry
  // no manifest stats — pruning is an IO bound, never a capability
  // bound), and Spark's nested-schema pruning keeps the scan reading
  // only the referenced subfields. The array column's size is
  // data-dependent, so the aggregate proves real array round-trip,
  // not a constant.
  def lakeNested(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_nested_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("ts"),
        struct(col("user_id"), col("event_type")).as("ctx"),
        array_repeat(col("event_type"), (length(col("event_type")) % 3 + 1).cast("int")).as("tags"))
    val cfg = BlockWriter.Config("event_id", "event_id", maxRecordsPerFile = 8192)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    LakeTable.read(s, root)
      .groupBy(col("ctx").getField("event_type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("ctx").getField("user_id")).as("n_users"),
        sum(size(col("tags"))).cast("bigint").as("tag_total"))
      .orderBy(col("event_type"))
  }

  val lakeNestedSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(LEN(event_type) % 3 + 1) AS BIGINT) AS tag_total
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_map: MAP-typed columns through the lake — the
  // events/properties schema shape (MAP<STRING,BIGINT> metrics +
  // MAP<STRING,STRING> attributes) exercised end to end: SQL CREATE/
  // INSERT commit maps through the DSv2 write path, snapshot reads
  // extract with element_at / map_contains_key, a positional MoR
  // DELETE keyed on a MAP-VALUE predicate masks exactly the right
  // rows, and time travel serves the pre-delete map content back.
  // The oracle replays every number from the RAW events table (the
  // map values are derived formulas), so any corruption in the map
  // encode → parquet → decode → delete-mask pipeline fails the hash.
  // At 100 TB maps ride the columnar format natively (parquet
  // key_value groups); stats/bloom pruning keys on scalar columns —
  // map predicates are row-level filters by design.
  def lakeMap(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.mpf_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_lm")
    s.sql(s"""CREATE TABLE $fact (event_id BIGINT, event_type STRING,
             |  props MAP<STRING, BIGINT>, attrs MAP<STRING, STRING>)""".stripMargin)
    s.sql(s"""INSERT INTO $fact
             |SELECT event_id, event_type,
             |  map('clicks', event_id % 7,
             |      'score', CAST(FLOOR(value * 100 + 0.5) AS BIGINT)),
             |  map('src', substring(event_type, 1, 1))
             |FROM ev_lm WHERE event_id % 2 = 0""".stripMargin)
    val agg =
      s"""SELECT element_at(attrs, 'src') AS src, COUNT(*) AS n,
         |  SUM(element_at(props, 'clicks')) AS sum_clicks,
         |  SUM(element_at(props, 'score')) AS sum_score,
         |  SUM(CASE WHEN map_contains_key(props, 'score') THEN 1 ELSE 0 END) AS with_score
         |FROM $fact GROUP BY element_at(attrs, 'src')""".stripMargin
    val s1 = s.sql(agg).collect()
    // a positional MoR DELETE keyed on a MAP-VALUE predicate
    s.sql(s"DELETE FROM $fact WHERE element_at(props, 'clicks') = 0")
    val s2 = s.sql(agg).collect()
    // time travel: the pre-delete map content serves back exactly
    val s3 = s.sql(agg.replace(s"FROM $fact GROUP",
      s"FROM $fact VERSION AS OF 1 GROUP")).collect()
    import s.implicits._
    Seq((1L, s1), (2L, s2), (3L, s3)).flatMap { case (st, rows) =>
      rows.toSeq.map(r => (st, r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    }.toDF("stage", "src", "n", "sum_clicks", "sum_score", "with_score")
      .orderBy(col("stage"), col("src"))
  }

  val lakeMapSql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, event_id % 7 AS clicks,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS score,
      |    substring(event_type, 1, 1) AS src
      |  FROM events WHERE event_id % 2 = 0),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, src, COUNT(*) AS n,
      |    CAST(SUM(clicks) AS BIGINT) AS sum_clicks,
      |    CAST(SUM(score) AS BIGINT) AS sum_score,
      |    COUNT(*) AS with_score
      |  FROM f GROUP BY src),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), src, COUNT(*),
      |    CAST(SUM(clicks) AS BIGINT), CAST(SUM(score) AS BIGINT), COUNT(*)
      |  FROM f WHERE clicks <> 0 GROUP BY src),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), src, COUNT(*),
      |    CAST(SUM(clicks) AS BIGINT), CAST(SUM(score) AS BIGINT), COUNT(*)
      |  FROM f GROUP BY src)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, src""".stripMargin

  // --- q_sql_rtas: ATOMIC CTAS / RTAS (a genuine DSv2
  // StagingTableCatalog): `CREATE [OR REPLACE] TABLE … AS SELECT`
  // materializes into a hidden sibling dir, re-points staged
  // metadata (absolute manifest/part paths) at the final location
  // while invisible, then swap-renames — a failed query can never
  // leave a half table, and REPLACE never exposes a dropped-table
  // gap. The query proves all three legs: CTAS lands, RTAS swaps the
  // definition atomically, and a FAILING replace (raise_error
  // mid-write) leaves the committed table bit-identical.
  def qSqlRtas(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.rt_${System.nanoTime()}"
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"), col("c_acctbal"))
      .createOrReplaceTempView("cust_rt")
    s.sql(s"CREATE TABLE $tbl AS SELECT c_custkey, c_mktsegment, c_acctbal FROM cust_rt")
    s.sql(s"""CREATE OR REPLACE TABLE $tbl AS
             |SELECT c_mktsegment, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_x100
             |FROM cust_rt GROUP BY c_mktsegment""".stripMargin)
    // a failing replace must ABORT: committed state untouched
    val attempt = scala.util.Try(s.sql(
      s"""CREATE OR REPLACE TABLE $tbl AS
         |SELECT CASE WHEN c_acctbal > -1e18 THEN CAST(raise_error('rtas abort probe') AS DOUBLE)
         |       ELSE c_acctbal END AS v FROM cust_rt""".stripMargin).collect())
    require(attempt.isFailure, "failing RTAS must raise")
    s.sql(s"SELECT c_mktsegment, n, bal_x100 FROM $tbl ORDER BY c_mktsegment")
  }

  val qSqlRtasSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_x100
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // --- lake_constraint: declared CHECK constraints
  // (`TBLPROPERTIES('graft.check.<name>' = '<boolean sql>')`,
  // managed by `ALTER TABLE … SET/UNSET TBLPROPERTIES`). Enforcement
  // is IN-FLIGHT: the conjunction evaluates inside the write
  // projection (raise_error on definite FALSE; NULL passes — SQL
  // CHECK semantics), so a violating batch fails with the NAMED
  // constraint before any manifest commit and costs no second scan.
  // The query proves both directions: a valid load lands, a
  // violating batch is rejected ATOMICALLY (the read-back below
  // hash-matches the valid subset alone — admitted rows would flip
  // the oracle).
  def lakeConstraint(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.chk_${System.nanoTime()}"
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
      .createOrReplaceTempView("li_chk")
    s.sql(s"""CREATE TABLE $tbl (l_orderkey BIGINT, l_quantity DOUBLE,
             |  l_extendedprice DOUBLE, l_returnflag STRING)
             |TBLPROPERTIES ('graft.check.qty_bounds' = 'l_quantity > 0 AND l_quantity <= 45')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT * FROM li_chk WHERE l_quantity <= 45")
    // the violating batch (every row breaches the bound) must fail
    // with the NAMED constraint and leave no partial rows behind
    val attempt = scala.util.Try(s.sql(
      s"""INSERT INTO $tbl SELECT l_orderkey, l_quantity + 10, l_extendedprice, l_returnflag
         |FROM li_chk WHERE l_quantity > 40""".stripMargin).collect())
    val chain = attempt.failed.toOption.toSeq.flatMap(e =>
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq)
    require(attempt.isFailure && chain.exists(_.contains("qty_bounds")),
      s"violating INSERT must fail on constraint qty_bounds, got: $chain")
    s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
             |  ROUND(SUM(l_quantity), 2) AS qty,
             |  ROUND(SUM(l_extendedprice), 2) AS price
             |FROM $tbl GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  val lakeConstraintSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  ROUND(SUM(l_quantity), 2) AS qty,
      |  ROUND(SUM(l_extendedprice), 2) AS price
      |FROM lineitem
      |WHERE l_quantity <= 45
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --- lake_clone: ZERO-COPY SHALLOW CLONE
  // (`CALL graft.system.clone(src, dst)` — the Delta SHALLOW CLONE
  // pattern): the clone's first manifest references the source's
  // files verbatim (zero data IO at any table size); subsequent
  // writes land under the clone alone, so the two tables diverge
  // independently. Maintenance safety is the ownership rule every
  // reclaim path enforces (a table deletes only under its own root) —
  // a clone can never vacuum its source. The query pins divergence:
  // post-clone rows appear ONLY on the clone side.
  def lakeClone(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val src = s"graft.q.clsrc_$id"; val dst = s"graft.q.cldst_$id"
    t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), col("p_retailprice"))
      .createOrReplaceTempView("part_cl")
    s.sql(s"""CREATE TABLE $src (p_partkey BIGINT, p_name STRING, p_brand STRING,
             |  p_size INT, p_retailprice DOUBLE)""".stripMargin)
    s.sql(s"INSERT INTO $src SELECT * FROM part_cl")
    s.sql(s"CALL graft.system.clone('q.clsrc_$id', 'q.cldst_$id')")
    s.sql(s"""INSERT INTO $dst SELECT p_partkey + 1000000, p_name, p_brand, p_size, p_retailprice
             |FROM part_cl WHERE p_size > 40""".stripMargin)
    s.sql(s"""SELECT side, p_brand, COUNT(*) AS n, MAX(p_partkey) AS max_key FROM (
             |  SELECT 'clone' AS side, p_brand, p_partkey FROM $dst
             |  UNION ALL
             |  SELECT 'src' AS side, p_brand, p_partkey FROM $src)
             |GROUP BY side, p_brand ORDER BY side, p_brand""".stripMargin)
  }

  val lakeCloneSql: String =
    """SELECT side, p_brand, COUNT(*) AS n, MAX(p_partkey) AS max_key FROM (
      |  SELECT 'clone' AS side, p_brand, p_partkey FROM part
      |  UNION ALL
      |  SELECT 'clone' AS side, p_brand, p_partkey + 1000000 AS p_partkey FROM part WHERE p_size > 40
      |  UNION ALL
      |  SELECT 'src' AS side, p_brand, p_partkey FROM part)
      |GROUP BY side, p_brand ORDER BY side, p_brand""".stripMargin

  // --- q_props_variant: SEMI-STRUCTURED columns as VARIANT (Spark
  // 4's public shape for crawl/event metadata): `parse_json` ONCE at
  // ingest stores the binary variant encoding in the lake table, and
  // queries extract typed paths with `variant_get` — a vectorized
  // binary-offset probe, not a per-row JSON re-parse (and never a
  // UDF). The variant column round-trips parquet natively. The
  // oracle replays the extraction over the raw JSON strings in
  // DuckDB; q_props_extract remains the string-JSON baseline of the
  // same aggregate, pinning both surfaces to one answer.
  def qPropsVariant(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_qpv_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("parse_json(props)").as("props_v"))
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id", "user_id"))
    LakeTable.read(s, root)
      .withColumn("k", expr("CAST(variant_get(props_v, '$.k', 'int') AS INT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("k")), 2).as("avg_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).cast("bigint").as("sum_k"))
      .orderBy(col("event_type"))
  }

  val qPropsVariantSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  ROUND(AVG(CAST(json_extract(props, '$.k') AS INT)), 2) AS avg_k,
      |  MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
      |  MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_delete_pos: POSITIONAL merge-on-read delete — the v2
  // delete family's second mode. The delete commit stores row
  // COORDINATES (file, row-index) instead of key values, so it can
  // target exact rows (one copy of a duplicated key) and applies by
  // a broadcast anti-join on (path, idx). Same two-snapshot oracle
  // shape as lake_delete_mor: snapshot 1 = pre-delete, snapshot 2 =
  // table minus the addressed rows; no data file rewritten.
  def lakeDeletePos(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_ldp_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    LakeTable.deletePositions(s, root,
      LakeTable.withRowCoords(s, root).filter(col("event_id") % 10 === 0))
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeDeletePosSql: String =
    """WITH snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 10 <> 0)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_delete_dv: DELETION-VECTOR positional delete (the
  // Iceberg v3 / Delta DV shape): the delete payload is ONE BITMAP
  // PER TARGETED FILE (BitSet bytes in a JSON sidecar) instead of a
  // (path, row_idx) row set — O(files × rowsPerFile/8) bytes however
  // many rows are deleted, where the positional payload and its
  // read-side hash-set join are row-proportional (a 1%-of-100-TB
  // delete is ~10⁹ coordinate rows). Readers mask dirty files with a
  // broadcast byte-array lookup + an O(1) codegen'd bit probe
  // (functions/DvContains). The query duplicates a key family, then
  // deletes ONE copy of each duplicate (row-targeted — an equality
  // delete would drop both) plus a disjoint id family, through BOTH
  // payloads on twin tables: the 'dv' and 'pos' views must
  // hash-match, pinning cross-payload equality in the gated result.
  // LakeSpec pins the O(files)-bytes payload bound + the format read.
  def lakeDeleteDv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val dup = ev.filter(col("event_id") % 97 === 3)
    val data = ev.unionByName(dup)
    // task-sized files: the DV laws are per-file-BITMAP laws, not
    // file-count laws — a handful of files exercises them identically
    // and the twin-table write stops dominating the query
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1 << 16)
    val rootDv = tmp("graft_ldv_"); val rootPos = tmp("graft_ldvp_")
    LakeTable.commit(s, rootDv, data, cfg, Seq("event_id"))
    LakeTable.commit(s, rootPos, data, cfg, Seq("event_id"))
    // one coordinate per duplicated key (first by coordinate order)
    // plus every row of the disjoint %10 family
    def targets(root: String): DataFrame = {
      val wc = LakeTable.withRowCoords(s, root)
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
      val oneDup = wc.filter(col("event_id") % 97 === 3)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val tens = wc.filter(col("event_id") % 10 === 0 && col("event_id") % 97 =!= 3)
      oneDup.unionByName(tens)
        .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    }
    LakeTable.deletePositionsDv(s, rootDv, targets(rootDv))
    LakeTable.deletePositions(s, rootPos, targets(rootPos))
    LakeTable.read(s, rootDv).withColumn("v", lit("dv"))
      .unionByName(LakeTable.read(s, rootPos).withColumn("v", lit("pos")))
      .unionByName(LakeTable.read(s, rootDv, Some(1)).withColumn("v", lit("pre")))
      .groupBy(col("v"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("v"), col("event_type"))
  }

  val lakeDeleteDvSql: String =
    """WITH views AS (
      |  SELECT 'dv' AS v, event_type, value FROM events
      |  WHERE event_id % 10 <> 0 OR event_id % 97 = 3
      |  UNION ALL
      |  SELECT 'pos' AS v, event_type, value FROM events
      |  WHERE event_id % 10 <> 0 OR event_id % 97 = 3
      |  UNION ALL
      |  SELECT 'pre' AS v, event_type, value FROM events
      |  UNION ALL
      |  SELECT 'pre' AS v, event_type, value FROM events WHERE event_id % 97 = 3)
      |SELECT v, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM views
      |GROUP BY v, event_type
      |ORDER BY v, event_type""".stripMargin

  // --- lake_incremental: the lake as a CDC/STREAM SOURCE — an
  // incremental append scan reads only the rows ADDED by snapshots in
  // (from, to], resolved from manifest sequence numbers with no
  // directory listing and no re-read of older data. Three commits
  // land thirds of the events table; "changes since snapshot 1" must
  // be exactly generations 2+3. This is how a downstream consumer
  // tails the table with a checkpointed snapshot id — at 100 TB each
  // poll costs the new data, never the table. The oracle replays the
  // generation predicates.
  def lakeIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_li_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    (0 to 2).foreach(g => LakeTable.commit(s, root,
      ev.filter(col("event_id") % 3 === g), cfg, Seq("event_id")))
    LakeTable.incrementalRead(s, root, 1, 3)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  val lakeIncrementalSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE event_id % 3 IN (1, 2)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_cdf: CHANGE DATA FEED — the changelog read (Iceberg's
  // create_changelog_view / Delta CDF): every row-level change in a
  // snapshot range, tagged insert/delete with its committing
  // snapshot; an update (MERGE) appears as delete-old + insert-new
  // under one snap. The lifecycle exercises all attribution paths:
  // two appends (manifest-attributed inserts), a MoR delete
  // (pre-image semi-join against the delete payload), a foldDeletes
  // REWRITE (replace-type maintenance — must contribute ZERO change
  // rows via the view diff), then a MERGE (delete+insert pair). At
  // 100 TB each non-replace commit's changelog costs O(its changed
  // rows), resolved from the manifest — never a table scan; the
  // oracle replays the five-commit change history relationally.
  def lakeCdf(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_cdf_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    LakeTable.deleteWhere(s, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.foldDeletes(s, root, cfg, Seq("event_id"))
    LakeTable.merge(s, root, "event_id",
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + lit(1000.0d)),
      cfg, Seq("event_id"))
    LakeTable.changelogRead(s, root, 0, 5)
      .select(col("_change_snap").cast("bigint").as("snap"),
        col("_change_type").as("change"), col("event_type"), col("value"))
      .groupBy(col("snap"), col("change"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("change"), col("event_type"))
  }

  val lakeCdfSql: String =
    """WITH ch AS (
      |  SELECT 1 AS snap, 'insert' AS change, event_type, value
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT 2, 'insert', event_type, value FROM events WHERE event_id % 2 = 1
      |  UNION ALL
      |  SELECT 3, 'delete', event_type, value FROM events WHERE event_id % 10 = 0
      |  UNION ALL
      |  SELECT 5, 'delete', event_type, value
      |  FROM events WHERE event_id % 7 = 0 AND event_id % 10 <> 0
      |  UNION ALL
      |  SELECT 5, 'insert', event_type, value + 1000
      |  FROM events WHERE event_id % 7 = 0)
      |SELECT CAST(snap AS BIGINT) AS snap, change, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM ch
      |GROUP BY snap, change, event_type
      |ORDER BY snap, change, event_type""".stripMargin

  // --- lake_merge_mor: atomic MERGE-ON-READ UPSERT (MERGE INTO, the
  // v2 write shape): updated rows land as new data files AND an
  // equality-delete file of their keys in ONE commit — the sequence
  // rule masks only the OLD versions, so readers see exactly
  // old-minus-updated-keys plus updates, with nothing rewritten. At
  // 100 TB an update touching 0.01% of rows costs that 0.01% (plus a
  // key list), not a table rewrite. Snapshot 1 still reads the
  // pre-merge table; the oracle replays both views.
  def lakeMergeMor(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lm_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    LakeTable.merge(s, root, "event_id",
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + lit(1000.0d)),
      cfg, Seq("event_id"))
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeMergeMorSql: String =
    """WITH merged AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0 THEN value + 1000 ELSE value END AS value
      |  FROM events),
      |snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM merged)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_overwrite: PREDICATE OVERWRITE (replaceWhere — the
  // atomic BACKFILL verb): one commit replaces exactly one calendar
  // day of a ts-range-clustered events table with re-processed rows.
  // Files whose stats can't intersect the day are kept BY REFERENCE
  // (the commit inherits the parent's parts and tombstones only the
  // replaced paths — O(touched + new) metadata); boundary files are
  // rewritten without their in-day rows. Pre-overwrite snapshot 1
  // stays readable (time travel). At 100 TB re-crawling one day costs
  // that day's files, never the table; the oracle replays both views.
  def lakeOverwrite(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_ow_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1024)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id", "ts"), rangeCluster = true)
    // 2024-01-10 in epoch micros (manifest ts stats' unit)
    val lo = 1704844800000000L
    val hi = 1704931199999999L
    val day = ev.filter(unix_micros(col("ts")).between(lo, hi))
      .withColumn("value", col("value") + lit(1000.0d))
    LakeTable.overwriteWhere(s, root, Map("ts" -> (lo, hi)), day, cfg,
      Seq("event_id", "ts"), rangeCluster = true)
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeOverwriteSql: String =
    """WITH day AS (
      |  SELECT event_type,
      |    CASE WHEN ts >= TIMESTAMP '2024-01-10 00:00:00'
      |           AND ts < TIMESTAMP '2024-01-11 00:00:00'
      |         THEN value + 1000 ELSE value END AS value
      |  FROM events),
      |snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM day)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- mv_refresh: INCREMENTAL MATERIALIZED-VIEW maintenance — the
  // aggregate table every warehouse pipeline ends in, kept fresh by
  // folding ONLY the base's new rows into the prior state
  // (IncrementalMv: delta via manifest-resolved incrementalRead +
  // distributive-aggregate fold; the refresh basis rides the MV
  // commit note atomically). Stage 1 reads the MV after an
  // APPEND-ONLY refresh (two new generations folded in — at 100 TB
  // this costs the new files plus an |MV|-row shuffle, never a base
  // scan); then a MoR delete lands on the base and stage 2 reads the
  // MV after the refresh that must detect the non-append range and
  // fall back to a full recompute (the Iceberg MV staleness rule —
  // min/max can't be incrementally maintained through deletes). Both
  // stages replayed relationally; the mode switching is spec-pinned.
  def mvRefresh(s: SparkSession, dir: String): DataFrame = {
    val base = tmp("graft_mvb_")
    val mv = tmp("graft_mv_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 4096)
    import graft.lake.IncrementalMv
    val aggs = Seq(
      IncrementalMv.Agg("n", count(lit(1)), sum(_)),
      IncrementalMv.Agg("sum_value_x100",
        sum(floor(col("value") * 100 + 0.5)).cast("bigint"), c => sum(c).cast("bigint")),
      IncrementalMv.Agg("min_id", min(col("event_id")), min(_)))
    val group = Seq("event_type")
    LakeTable.commit(s, base, ev.filter(col("event_id") % 3 === 0), cfg, Seq("event_id"))
    IncrementalMv.create(s, base, mv, group, aggs, mvCfg)
    LakeTable.commit(s, base, ev.filter(col("event_id") % 3 === 1), cfg, Seq("event_id"))
    LakeTable.commit(s, base, ev.filter(col("event_id") % 3 === 2), cfg, Seq("event_id"))
    IncrementalMv.refresh(s, base, mv, group, aggs, mvCfg)
    LakeTable.deleteWhere(s, base, "event_id", ev.filter(col("event_id") % 10 === 0))
    IncrementalMv.refresh(s, base, mv, group, aggs, mvCfg)
    LakeTable.read(s, mv, Some(2)).withColumn("stage", lit(1L))
      .unionByName(LakeTable.read(s, mv, Some(3)).withColumn("stage", lit(2L)))
      .orderBy(col("stage"), col("event_type"))
  }

  val mvRefreshSql: String =
    """WITH s1 AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |    MIN(event_id) AS min_id
      |  FROM events GROUP BY event_type),
      |s2 AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |    MIN(event_id) AS min_id
      |  FROM events WHERE event_id % 10 <> 0 GROUP BY event_type)
      |SELECT CAST(1 AS BIGINT) AS stage, event_type, n, sum_value_x100, min_id FROM s1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS stage, event_type, n, sum_value_x100, min_id FROM s2
      |ORDER BY stage, event_type""".stripMargin

  // --- mv_join_refresh: incremental maintenance of a JOINED
  // aggregate view (fact ⋈ dimension → rollup) by the DELTA-JOIN law
  // Δ(F⋈D) = ΔF⋈D₀ ∪ F₁⋈ΔD with SIGNED change rows from the lake's
  // own change data feed (classic counting-algorithm IVM —
  // IncrementalJoinMv). Three basis states are gated: after create,
  // after a fact-only refresh (ΔF⋈D₀ with the dim broadcast — by
  // construction the fact head is only read when ΔD is non-empty,
  // the changelog serves ΔF from the delta files), and after a combined
  // dim-rewire + fact-delete refresh (groups MOVE between buckets via
  // matching −/+ deltas). The oracle recomputes each stage's join
  // from scratch — the incremental path must land on exactly the
  // recompute, including groups whose count reaches zero leaving the
  // view. At 100 TB: the common fact-append refresh costs O(Δ fact);
  // a dimension rewire costs one fact pass against the broadcast
  // changed keys — never MV-size-proportional shuffles.
  def mvJoinRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.IncrementalJoinMv
    val fact = tmp("graft_jmvf_")
    val dim = tmp("graft_jmvd_")
    val mv = tmp("graft_jmv_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val dimCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 4096)
    val mvCfg = BlockWriter.Config("wb", "wb", maxRecordsPerFile = 4096)
    val dimV1 = ev.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")))
      .withColumn("wb", col("weight") % 3)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg, Seq("event_id"))
    LakeTable.commit(s, dim, dimV1, dimCfg, Seq("event_type"))
    val aggs = Seq(IncrementalJoinMv.sumAgg("sum_value_x100",
      floor(col("value") * 100 + 0.5).cast("bigint")))
    IncrementalJoinMv.create(s, fact, dim, mv, "event_type", Seq("wb"), aggs, mvCfg)
    // fact-only refresh: ΔF ⋈ D₀, dim broadcast, fact never scanned
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg, Seq("event_id"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "event_type", Seq("wb"), aggs, mvCfg)
    // dimension rewire (+10 to even-length types moves their bucket)
    // plus a fact MoR delete, folded in one combined refresh
    val dimUp = LakeTable.read(s, dim)
      .filter(length(col("event_type")) % 2 === 0)
      .withColumn("weight", col("weight") + 10)
      .withColumn("wb", col("weight") % 3)
    LakeTable.merge(s, dim, "event_type", dimUp, dimCfg, Seq("event_type"))
    LakeTable.deleteWhere(s, fact, "event_id", ev.filter(col("event_id") % 10 === 0))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "event_type", Seq("wb"), aggs, mvCfg)
    LakeTable.read(s, mv, Some(1)).withColumn("stage", lit(1L))
      .unionByName(LakeTable.read(s, mv, Some(2)).withColumn("stage", lit(2L)))
      .unionByName(LakeTable.read(s, mv, Some(3)).withColumn("stage", lit(3L)))
      .select(col("stage"), col("wb").cast("bigint").as("wb"), col("n"),
        col("sum_value_x100"))
      .orderBy(col("stage"), col("wb"))
  }

  val mvJoinRefreshSql: String =
    """WITH d1 AS (
      |  SELECT event_type, length(event_type) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type FROM events)),
      |d2 AS (
      |  SELECT event_type,
      |    (length(event_type) + CASE WHEN length(event_type) % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type FROM events)),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, wb, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |  FROM events e JOIN d1 USING (event_type)
      |  WHERE event_id % 3 = 0 GROUP BY wb),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS stage, wb, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |  FROM events e JOIN d1 USING (event_type)
      |  WHERE event_id % 3 IN (0, 1) GROUP BY wb),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT) AS stage, wb, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |  FROM events e JOIN d2 USING (event_type)
      |  WHERE event_id % 3 IN (0, 1) AND event_id % 10 <> 0 GROUP BY wb)
      |SELECT CAST(stage AS BIGINT) AS stage, CAST(wb AS BIGINT) AS wb, n, sum_value_x100
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, wb""".stripMargin

  // --- mv_minmax_refresh: MIN/MAX materialized views — incremental
  // maintenance BEYOND the signed-distributive family. COUNT/SUM fold
  // algebraically under deletes (mv_refresh / mv_join_refresh's
  // counting algorithm); MIN/MAX cannot: deleting a group's current
  // minimum needs the group's OTHER rows to answer "what now" — no
  // signed delta can say. The classic answer, made cheap by the lake:
  // the change feed names exactly the touched groups (insert rows AND
  // delete pre-images carry the group key), those groups recompute
  // from the fact head through the DSv2 scan with an IN filter —
  // manifest stat pruning keeps the read to the touched groups' files
  // on a group-clustered fact — and the fold lands as ONE MoR MERGE
  // (untouched MV files byte-identical, vanished groups retire via
  // the same commit's mask). Stage 3 is the IVM-impossible case the
  // oracle pins: a MoR delete removes rows including group minima, so
  // mins must RISE — which only the targeted recompute gets right.
  // At 100 TB: O(Δ groups × files-per-group) read, O(Δ groups) write.
  def mvMinmaxRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.MinMaxMv
    val fact = tmp("graft_mmvf_")
    val mv = tmp("graft_mmv_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("vx100"))
    // fact CLUSTERED BY the group key — what makes the IN-pruned
    // targeted recompute read only touched groups' files (task-sized
    // files; the per-group file-level pruning pin lives in the spec)
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg, Seq("event_id", "event_type"))
    MinMaxMv.create(s, fact, mv, "event_type", "vx100", mvCfg)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg, Seq("event_id", "event_type"))
    MinMaxMv.refresh(s, fact, mv, "event_type", "vx100", mvCfg)
    // the non-distributive case: a MoR delete takes out rows
    // including group minima/maxima — the refresh must re-derive them
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter(col("event_id") % 5 === 0).select(col("event_id")))
    MinMaxMv.refresh(s, fact, mv, "event_type", "vx100", mvCfg)
    LakeTable.read(s, mv, Some(1)).withColumn("stage", lit(1L))
      .unionByName(LakeTable.read(s, mv, Some(2)).withColumn("stage", lit(2L)))
      .unionByName(LakeTable.read(s, mv, Some(3)).withColumn("stage", lit(3L)))
      .select(col("stage"), col("event_type"), col("n"),
        col("min_vx100"), col("max_vx100"))
      .orderBy(col("stage"), col("event_type"))
  }

  val mvMinmaxRefreshSql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100 FROM events),
      |s1 AS (SELECT CAST(1 AS BIGINT) AS stage, event_type, COUNT(*) AS n,
      |    MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100
      |  FROM e WHERE event_id % 3 = 0 GROUP BY event_type),
      |s2 AS (SELECT CAST(2 AS BIGINT) AS stage, event_type, COUNT(*) AS n,
      |    MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100
      |  FROM e WHERE event_id % 3 IN (0, 1) GROUP BY event_type),
      |s3 AS (SELECT CAST(3 AS BIGINT) AS stage, event_type, COUNT(*) AS n,
      |    MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100
      |  FROM e WHERE event_id % 3 IN (0, 1) AND event_id % 5 <> 0
      |  GROUP BY event_type)
      |SELECT stage, event_type, n, min_vx100, max_vx100
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, event_type""".stripMargin

  // --- mv_minmax_fold: the APPEND-ONLY FOLD mode of the min/max
  // view — over a pure-append range MIN/MAX *are* distributive
  // (new min = min(stored, Δ-min)), so the refresh folds the delta
  // files against the stored MV rows with NO fact-head read at all:
  // O(Δ files) + a touched-leads fold, regardless of how many groups
  // the append touched (no driver collect, no IN list, the
  // over-cap fallback never applies to appends). The gate proves it
  // physically: every PRE-APPEND fact file is hidden during the
  // refresh — only a plan reading nothing but the delta files can
  // commit at all — and the maintenance MODE rides the output as a
  // literal the oracle hard-codes ('fold', then 'targeted' after a
  // MoR delete re-derives the minima the fold cannot).
  def mvMinmaxFold(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.MinMaxMv
    val fact = tmp("graft_mmfd_f_")
    val mv = tmp("graft_mmfd_m_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("vx100"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type"))
    MinMaxMv.create(s, fact, mv, "event_type", "vx100", mvCfg)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type"))
    val head = LakeTable.currentSnapshot(fact)
    withHiddenFiles(fact, _.seq < head) {
      MinMaxMv.refresh(s, fact, mv, "event_type", "vx100", mvCfg): Unit
    }
    val mode2 = MinMaxMv.mode(mv)
    // deletes take out group minima: no algebra answers "what's the
    // new min" — the refresh must fall back to the targeted recompute
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter(col("event_id") % 5 === 0).select(col("event_id")))
    MinMaxMv.refresh(s, fact, mv, "event_type", "vx100", mvCfg)
    val mode3 = MinMaxMv.mode(mv)
    def st(n: Int, m: String) = LakeTable.read(s, mv, Some(n))
      .withColumn("stage", lit(n.toLong)).withColumn("mode", lit(m))
    st(2, mode2).unionByName(st(3, mode3))
      .select(col("stage"), col("mode"), col("event_type"), col("n"),
        col("min_vx100"), col("max_vx100"))
      .orderBy(col("stage"), col("event_type"))
  }

  val mvMinmaxFoldSql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100 FROM events),
      |s2 AS (SELECT CAST(2 AS BIGINT) AS stage, 'fold' AS mode, event_type,
      |    COUNT(*) AS n, MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100
      |  FROM e WHERE event_id % 3 IN (0, 1) GROUP BY event_type),
      |s3 AS (SELECT CAST(3 AS BIGINT) AS stage, 'targeted' AS mode, event_type,
      |    COUNT(*) AS n, MIN(vx100) AS min_vx100, MAX(vx100) AS max_vx100
      |  FROM e WHERE event_id % 3 IN (0, 1) AND event_id % 5 <> 0
      |  GROUP BY event_type)
      |SELECT stage, mode, event_type, n, min_vx100, max_vx100
      |FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, event_type""".stripMargin

  // --- mv_automaint: MVs as a MAINTENANCE POLICY — declare
  // `graft.autorefresh.mvs` on the FACT table and every append-shaped
  // commit refreshes the registered MVs before returning: rollups
  // stay continuously fresh (and the automatic query-rewrite rule
  // keeps serving them) with NO external refresh scheduler and NO
  // refresh calls anywhere in the write path. The gate is the
  // absence: after two policy-era appends the MV must equal the
  // from-scratch recompute although the fixture never calls refresh.
  // Failures skip like every other maintenance action — the MV stays
  // visibly stale in `t.mvs` for the next commit to catch.
  def mvAutomaint(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.{AutoMaintain, IncrementalMv, MaterializedView}
    val fact = tmp("graft_amv_f_")
    val mv = tmp("graft_amv_m_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("vx100"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type"))
    MaterializedView.create(s, mv, MaterializedView.MvDef(fact, "", "",
      Seq("event_type"), Seq(("sum_vx100", "vx100")),
      "SELECT event_type, COUNT(*) AS n, SUM(vx100) AS sum_vx100 " +
        "FROM fact GROUP BY event_type", kind = "single"))
    AutoMaintain.setPolicy(fact, AutoMaintain.AutoRefreshMvKey, 1L)
    // two policy-era appends — each commit auto-refreshes; the fixture
    // never calls refresh itself
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type"))
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 2), cfg,
      Seq("event_id", "event_type"))
    val fresh = IncrementalMv.basis(mv) == LakeTable.currentSnapshot(fact)
    LakeTable.read(s, mv)
      .select(col("event_type"), col("n"), col("sum_vx100"))
      .withColumn("fresh", lit(fresh))
      .orderBy(col("event_type"))
  }

  val mvAutomaintSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vx100,
      |  TRUE AS fresh
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_sql_mv_meta: the FACT-side `t.mvs` metadata table — the
  // operator's answer to "which rollups cover this table, and can a
  // query trust them right now": one row per registered MV with
  // kind/grouping/measures/FRESHNESS (basis vector vs every base
  // head), metadata-only at any table size. Three gated stages:
  // both MVs fresh at create, both stale after an append, exactly
  // the refreshed one fresh again — the same freshness predicate the
  // automatic query-rewrite rule applies, surfaced as SQL.
  def qSqlMvMeta(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.mmf_$id"
    val mv1 = s"graft.q.mmv1_$id"; val mv2 = s"graft.q.mmv2_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlmm")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlmm WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv1 AS
             |SELECT event_type, COUNT(*) AS n, SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv2 AS
             |SELECT event_type, COUNT(*) AS n, MIN(vx100) AS lo, MAX(vx100) AS hi
             |FROM $fact GROUP BY event_type""".stripMargin)
    def stage(n: Int) = s.sql(
      s"""SELECT CAST($n AS BIGINT) AS stage, kind, group_cols, measures, fresh
         |FROM $fact.mvs""".stripMargin)
    val s1 = stage(1)
    ins("event_id % 2 = 1") // both MVs stale
    val s2 = stage(2)
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.mmv1_$id')")
    val s3 = stage(3) // exactly the refreshed one fresh again
    s1.unionByName(s2).unionByName(s3)
      .orderBy(col("stage"), col("kind"))
  }

  val qSqlMvMetaSql: String =
    """WITH m AS (
      |  SELECT 'single' AS kind, 'event_type' AS group_cols,
      |    'sum_vx100=sum(vx100)' AS measures, 0 AS ord
      |  UNION ALL
      |  SELECT 'minmax', 'event_type', 'lo=min(vx100); hi=max(vx100)', 1)
      |SELECT stage, kind, group_cols, measures, fresh FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, kind, group_cols, measures,
      |    TRUE AS fresh, ord FROM m
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), kind, group_cols, measures, FALSE, ord FROM m
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), kind, group_cols, measures,
      |    kind = 'single', ord FROM m)
      |ORDER BY stage, kind""".stripMargin

  // --- q_sql_mv_expr: TIME-BUCKETED materialized views — the single
  // most common rollup in any warehouse (`GROUP BY date_trunc('DAY',
  // ts)`) through the SQL front door: the DDL grammar accepts
  // `<expr> AS <alias>` group items for the COUNT/SUM kind, stores
  // the expression text in the definition, and every refresh
  // RE-DERIVES the bucket column over exactly the base rows it reads
  // (the full scan at CREATE, only the delta files on an incremental
  // refresh) before grouping — so a daily rollup over a 100 TB fact
  // refreshes at O(new files), and the bucket function lives in ONE
  // place (the definition) instead of being copy-pasted into every
  // writer. Timezone-sensitive buckets are guarded: the definition
  // records its session zone and a refresh under a different zone
  // fails pointedly instead of silently shifting every bucket.
  // Stage 1 reads the creation state (time travel), stage 2 the
  // state after an append + REFRESH MATERIALIZED VIEW, stage 3 the
  // rewrite-served read (all fact files hidden), stage 4 the
  // COMPENSATED read over a stale MV (pre-append files hidden) — the
  // oracle recomputes every stage from scratch with DuckDB's own
  // date_trunc.
  def qSqlMvExpr(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.exf_$id"; val mv = s"graft.q.exv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .createOrReplaceTempView("ev_sqlex")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlex WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
             |  SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
    ins("event_id % 2 = 1")
    s.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    // stage 3: the READ side — a plain fact query grouping by the
    // SAME bucket expression is served by the MV via the
    // expression-group rewrite tier; every fact data file is hidden,
    // so only an MV-served plan can produce these rows at all
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.exf_$id")
    val served = withHiddenFiles(factDir) {
      s.sql(s"""SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
               |  SUM(vx100) AS sum_vx100
               |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
        .collect()
    }
    import s.implicits._
    val s3 = served.toSeq
      .map(r => (3L, r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toDF("stage", "d", "n", "sum_vx100")
    // stage 4: the COMPENSATED tier — a THIRD batch lands and the MV
    // is NOT refreshed (stale at its stage-2 basis, gap append-only);
    // every PRE-APPEND fact file is hidden, so fresh bucketed totals
    // (including the new batch) are only reachable as MV ⊎ delta with
    // the bucket RE-DERIVED per delta row at read time — a bare-MV
    // answer misses the batch and fails the hash, a fact scan throws
    // on the hidden files
    val basisPaths = LakeTable
      .manifest(factDir, LakeTable.currentSnapshot(factDir))
      .files.map(_.path).toSet
    ins("event_id % 10 = 3")
    val served4 = withHiddenFiles(factDir, f => basisPaths.contains(f.path)) {
      s.sql(s"""SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
               |  SUM(vx100) AS sum_vx100
               |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
        .collect()
    }
    val s4 = served4.toSeq
      .map(r => (4L, r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toDF("stage", "d", "n", "sum_vx100")
    s.sql(s"""SELECT CAST(1 AS BIGINT) AS stage, d, n, sum_vx100
             |FROM $mv VERSION AS OF 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), d, n, sum_vx100 FROM $mv""".stripMargin)
      .unionByName(s3).unionByName(s4)
      .orderBy(col("stage"), col("d"))
  }

  val qSqlMvExprSql: String =
    """WITH f AS (
      |  SELECT event_id, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, date_trunc('day', ts) AS d,
      |    COUNT(*) AS n, CAST(SUM(vx100) AS BIGINT) AS sum_vx100
      |  FROM f WHERE event_id % 2 = 0 GROUP BY 2),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), date_trunc('day', ts), COUNT(*),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM f GROUP BY 2),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), date_trunc('day', ts), COUNT(*),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM f GROUP BY 2),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT), date_trunc('day', ts), COUNT(*),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM (SELECT * FROM f UNION ALL
      |        SELECT * FROM f WHERE event_id % 10 = 3) u
      |  GROUP BY 2)
      |SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |               UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      |ORDER BY stage, d""".stripMargin

  // --- q_sql_mv_star_expr: TIME-BUCKETED STAR MVs — the warehouse
  // workload (time × dimension rollup: `GROUP BY date_trunc('DAY',
  // ts), wb` over fact ⋈ dim) through the SQL front door: the join
  // kind now accepts `<expr> AS <alias>` group items, storing the
  // expression text, and EVERY Gupta-Mumick staircase term re-derives
  // the bucket over exactly the joined change rows it folds (the same
  // prep hook as the single kind — insert and delete pre-images of a
  // row derive the same bucket, so signed folds cancel exactly). At
  // 100 TB a fact-only refresh of the daily × dimension rollup stays
  // O(Δ fact ⋈ broadcast dims) with the bucket function living in ONE
  // place. Stage 1 reads the creation state (time travel), stage 2
  // after a fact append + CALL refresh (ΔF term, bucket re-derived
  // over the delta), stage 3 after a dim MERGE + refresh (the F¹ ⋈ ΔD
  // term — signed dim pre-images move rows BETWEEN wb groups within
  // each day bucket). The oracle recomputes all three stages from
  // scratch with DuckDB's own date_trunc.
  def qSqlMvStarExpr(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.sef_$id"; val dim = s"graft.q.sed_$id"
    val mv = s"graft.q.sev_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlse")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts, event_type,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlse WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"CREATE TABLE $dim (event_type STRING, wb BIGINT)")
    s.sql(s"""INSERT INTO $dim
             |SELECT event_type, length(event_type) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlse)""".stripMargin)
    // COALESCE: the join kind's non-nullable SUM soundness gate on
    // the READ side (stage 4) admits exactly this shape
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT date_trunc('DAY', ts) AS d, wb, COUNT(*) AS n,
             |  SUM(COALESCE(vx100, 0)) AS sum_vx100
             |FROM $fact JOIN $dim USING (event_type)
             |GROUP BY date_trunc('DAY', ts), wb""".stripMargin)
    ins("event_id % 2 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.sev_$id')").collect()
    s.sql(s"""MERGE INTO $dim t USING (
             |  SELECT event_type, (length(event_type) + 10) % 3 AS wb
             |  FROM (SELECT DISTINCT event_type FROM ev_sqlse)
             |  WHERE length(event_type) % 2 = 0) src
             |ON t.event_type = src.event_type
             |WHEN MATCHED THEN UPDATE SET t.wb = src.wb""".stripMargin)
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.sev_$id')").collect()
    // stage 4: the READ side — the plain star query grouping by the
    // SAME bucket expression is served by the fresh MV via the
    // expression tier; every fact data file hidden, so only an
    // MV-served plan can produce these rows at all
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.sef_$id")
    val served = withHiddenFiles(factDir) {
      s.sql(s"""SELECT date_trunc('DAY', ts) AS d, wb, COUNT(*) AS n,
               |  SUM(COALESCE(vx100, 0)) AS sum_vx100
               |FROM $fact JOIN $dim USING (event_type)
               |GROUP BY date_trunc('DAY', ts), wb""".stripMargin).collect()
    }
    import s.implicits._
    val s4 = served.toSeq
      .map(r => (4L, r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("stage", "d", "wb", "n", "sum_vx100")
    // stage 5: the COMPENSATED tier — a THIRD fact batch lands
    // UNREFRESHED, and every PRE-APPEND fact file is hidden: the
    // fresh bucketed star totals are then only reachable via
    // MV ⊎ (ΔF ⋈ dim) — the delta-join staircase evaluated at read
    // time, with the bucket RE-DERIVED per joined delta row (a bare
    // MV answer returns stale numbers and fails the hash; a fact
    // scan throws)
    val preSnap = graft.lake.LakeTable.currentSnapshot(factDir)
    ins("event_id % 10 = 3")
    val served5 = withHiddenFiles(factDir, _.seq <= preSnap) {
      s.sql(s"""SELECT date_trunc('DAY', ts) AS d, wb, COUNT(*) AS n,
               |  SUM(COALESCE(vx100, 0)) AS sum_vx100
               |FROM $fact JOIN $dim USING (event_type)
               |GROUP BY date_trunc('DAY', ts), wb""".stripMargin).collect()
    }
    val s5 = served5.toSeq
      .map(r => (5L, r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("stage", "d", "wb", "n", "sum_vx100")
    s.sql(s"""SELECT CAST(1 AS BIGINT) AS stage, d, CAST(wb AS BIGINT) AS wb,
             |  n, sum_vx100
             |FROM $mv VERSION AS OF 1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), d, CAST(wb AS BIGINT), n, sum_vx100
             |FROM $mv VERSION AS OF 2
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), d, CAST(wb AS BIGINT), n, sum_vx100
             |FROM $mv VERSION AS OF 3
             |ORDER BY stage, d, wb""".stripMargin)
      .unionByName(s4)
      .unionByName(s5)
      .orderBy(col("stage"), col("d"), col("wb"))
  }

  val qSqlMvStarExprSql: String =
    """WITH f AS (
      |  SELECT event_id, ts, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100,
      |    length(event_type) AS len
      |  FROM events),
      |d1 AS (
      |  SELECT event_type, len % 3 AS wb
      |  FROM (SELECT DISTINCT event_type, length(event_type) AS len FROM events)),
      |d2 AS (
      |  SELECT event_type,
      |    (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type, length(event_type) AS len FROM events)),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, date_trunc('day', ts) AS d,
      |    CAST(wb AS BIGINT) AS wb, COUNT(*) AS n,
      |    CAST(SUM(vx100) AS BIGINT) AS sum_vx100
      |  FROM f JOIN d1 USING (event_type)
      |  WHERE event_id % 2 = 0 GROUP BY 2, 3),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), date_trunc('day', ts),
      |    CAST(wb AS BIGINT), COUNT(*), CAST(SUM(vx100) AS BIGINT)
      |  FROM f JOIN d1 USING (event_type) GROUP BY 2, 3),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), date_trunc('day', ts),
      |    CAST(wb AS BIGINT), COUNT(*), CAST(SUM(vx100) AS BIGINT)
      |  FROM f JOIN d2 USING (event_type) GROUP BY 2, 3),
      |s4 AS (
      |  SELECT CAST(4 AS BIGINT), date_trunc('day', ts),
      |    CAST(wb AS BIGINT), COUNT(*), CAST(SUM(vx100) AS BIGINT)
      |  FROM f JOIN d2 USING (event_type) GROUP BY 2, 3),
      |s5 AS (
      |  SELECT CAST(5 AS BIGINT), date_trunc('day', ts),
      |    CAST(wb AS BIGINT), COUNT(*), CAST(SUM(vx100) AS BIGINT)
      |  FROM (SELECT * FROM f UNION ALL
      |        SELECT * FROM f WHERE event_id % 10 = 3) u
      |  JOIN d2 USING (event_type) GROUP BY 2, 3)
      |SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |               UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |               UNION ALL SELECT * FROM s5)
      |ORDER BY stage, d, wb""".stripMargin

  // --- q_sql_mv_profile_expr: TIME-BUCKETED PROFILE views — the
  // minmax kind accepts `<expr> AS <alias>` group items ("daily
  // min/max latency per endpoint": GROUP BY date_trunc('DAY', ts),
  // event_type with MIN/MAX/SUM measures). Every maintenance read —
  // CREATE, the append-only fold's delta, the targeted recompute —
  // re-derives the bucket over exactly the fact rows it reads (the
  // same prep hook as the other kinds; tz + ANSI guards carry over),
  // while the IN filter and equality-delete mask key on the first
  // STORED NON-TIMESTAMP group column (event_type — the changelog
  // names it, the manifest prunes on it, the mask equality-applies).
  // Stage 2 appends (mode `fold`: integral-SUM extras fold, no fact
  // head read); stage 3 deletes every low value — day-bucket minima
  // must RISE in the refreshed view and value-empty (bucket, type)
  // groups must retire (mode `targeted`). The oracle recomputes all
  // three stages from scratch with DuckDB's own date_trunc; mode
  // literals ride the output.
  def qSqlMvProfileExpr(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.pxf_$id"; val mv = s"graft.q.pxv_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlpx")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts, event_type,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlpx WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT date_trunc('DAY', ts) AS d, event_type, COUNT(*) AS n,
             |  MIN(vx100) AS mn, MAX(vx100) AS mx, SUM(vx100) AS sx
             |FROM $fact GROUP BY date_trunc('DAY', ts), event_type""".stripMargin)
    def mode(): String =
      s.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    val mode1 = mode()
    // stage 2: pure appends → the distributive fold (extras are
    // integral SUMs), no fact-head read
    ins("event_id % 3 = 1")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.pxv_$id')")
    val mode2 = mode()
    // stage 3: delete every LOW value — day-bucket minima rise, and
    // (bucket, type) groups whose rows all died retire — in one
    // group-targeted recompute keyed on event_type
    s.sql(s"DELETE FROM $fact WHERE vx100 < 2000")
    s.sql(s"CALL graft.system.refresh_mv(table => 'q.pxv_$id')")
    val mode3 = mode()
    def stage(k: Int, m: String) =
      s"""SELECT CAST($k AS BIGINT) AS stage, '$m' AS mode, d, event_type,
         |  n, mn, mx, sx
         |FROM $mv VERSION AS OF $k""".stripMargin
    s.sql(Seq(stage(1, mode1), stage(2, mode2), stage(3, mode3))
      .mkString("", "\nUNION ALL\n", "\nORDER BY stage, d, event_type"))
  }

  val qSqlMvProfileExprSql: String =
    """WITH f AS (
      |  SELECT event_id, ts, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'full' AS mode,
      |    date_trunc('day', ts) AS d, event_type, COUNT(*) AS n,
      |    MIN(vx100) AS mn, MAX(vx100) AS mx,
      |    CAST(SUM(vx100) AS BIGINT) AS sx
      |  FROM f WHERE event_id % 3 = 0 GROUP BY 3, 4),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT), 'fold', date_trunc('day', ts),
      |    event_type, COUNT(*), MIN(vx100), MAX(vx100),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM f WHERE event_id % 3 IN (0, 1) GROUP BY 3, 4),
      |s3 AS (
      |  SELECT CAST(3 AS BIGINT), 'targeted', date_trunc('day', ts),
      |    event_type, COUNT(*), MIN(vx100), MAX(vx100),
      |    CAST(SUM(vx100) AS BIGINT)
      |  FROM f WHERE event_id % 3 IN (0, 1) AND vx100 >= 2000
      |  GROUP BY 3, 4)
      |SELECT * FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |ORDER BY stage, d, event_type""".stripMargin

  // --- q_sql_mv_drop: the DDL lifecycle's other half — DROP
  // MATERIALIZED VIEW (with EAGER fact-side deregistration: the
  // `t.mvs` row and the rewrite candidacy disappear with the
  // statement, not at the next lazy registry sweep) and REFRESH
  // MATERIALIZED VIEW (statement sugar over the one refresh verb,
  // `CALL graft.system.refresh_mv`). Guard rails gated alongside:
  // IF EXISTS swallows a missing name, a bare DROP on a missing name
  // throws, and DROP MATERIALIZED VIEW on a PLAIN TABLE throws (the
  // two drop statements must not be interchangeable by accident).
  // The final stage hides every fact data file after the REFRESH
  // statement ran: fresh post-append totals can then only come from
  // the refreshed MV — proving the statement really folded and the
  // automatic rewrite still serves the surviving view.
  def qSqlMvDrop(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.dpf_$id"
    val mva = s"graft.q.dpa_$id"; val mvb = s"graft.q.dpb_$id"
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqldp")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, event_type STRING, ub BIGINT, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, event_type, event_id % 3,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqldp WHERE $pred""".stripMargin)
    ins("event_id % 2 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mva AS
             |SELECT event_type, COUNT(*) AS n, SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY event_type""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mvb AS
             |SELECT event_type, ub, COUNT(*) AS n
             |FROM $fact GROUP BY event_type, ub""".stripMargin)
    def mvsCount = s.sql(s"SELECT count(*) FROM $fact.mvs").collect()(0).getLong(0)
    def fails(sql: String): Long =
      if (scala.util.Try(s.sql(sql).collect()).isFailure) 1L else 0L
    val flags = Seq.newBuilder[(Long, String, Long)]
    flags += ((1L, "mvs_before", mvsCount))
    s.sql(s"DROP MATERIALIZED VIEW $mvb")
    flags += ((2L, "mvs_after", mvsCount))
    flags += ((2L, "read_fails", fails(s"SELECT * FROM $mvb")))
    s.sql(s"DROP MATERIALIZED VIEW IF EXISTS graft.q.nosuch_$id")
    flags += ((3L, "if_exists_ok", 1L))
    flags += ((3L, "missing_throws",
      fails(s"DROP MATERIALIZED VIEW graft.q.nosuch_$id")))
    flags += ((3L, "plain_table_throws", fails(s"DROP MATERIALIZED VIEW $fact")))
    ins("event_id % 2 = 1") // mva now stale
    val refreshed = s.sql(s"REFRESH MATERIALIZED VIEW $mva").collect()
    flags += ((4L, "refresh_rows", refreshed.length.toLong))
    val factDir = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"q.dpf_$id")
    val served = withHiddenFiles(factDir) {
      s.sql(s"SELECT event_type, SUM(vx100) AS v FROM $fact GROUP BY event_type")
        .collect()
    }
    import s.implicits._
    (flags.result() ++ served.toSeq.map(r => (5L, r.getString(0), r.getLong(1))))
      .toDF("stage", "k", "v")
      .orderBy(col("stage"), col("k"))
  }

  val qSqlMvDropSql: String =
    """WITH f AS (
      |  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events),
      |flags(stage, k, v) AS (VALUES
      |  (1, 'mvs_before', 2), (2, 'mvs_after', 1), (2, 'read_fails', 1),
      |  (3, 'if_exists_ok', 1), (3, 'missing_throws', 1),
      |  (3, 'plain_table_throws', 1), (4, 'refresh_rows', 1)),
      |s5 AS (
      |  SELECT 5 AS stage, event_type AS k, SUM(vx100) AS v
      |  FROM f GROUP BY event_type)
      |SELECT CAST(stage AS BIGINT) AS stage, k, CAST(v AS BIGINT) AS v
      |FROM (SELECT * FROM flags UNION ALL SELECT * FROM s5)
      |ORDER BY stage, k""".stripMargin

  // --- stream_mv_minmax: the CONTINUOUSLY-MAINTAINED min/max view —
  // mv_minmax_refresh's production deployment shape, same
  // exactly-once-by-construction law as stream_mv_refresh: the fact
  // table's change-feed stream triggers a MinMaxMv.refresh per
  // micro-batch; each refresh reads the basis from the MV's own head
  // note and folds exactly the changes since it, so replayed or
  // coalesced micro-batches no-op (basis == head) and a crash
  // between commits just leaves a basis the next trigger completes —
  // the MV table IS the state. A MoR delete mid-stream takes out
  // group minima, so the final state must re-derive them (the
  // targeted-recompute law), which the from-scratch oracle replays.
  // At 100 TB each trigger costs O(touched groups × files-per-group)
  // read + O(touched groups) write via the IN-pruned scan.
  def streamMvMinmax(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.MinMaxMv
    import org.apache.spark.sql.streaming.Trigger
    val fact = tmp("graft_smmf_")
    val mv = tmp("graft_smm_")
    val ckpt = tmp("graft_smm_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("vx100"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type"))
    MinMaxMv.create(s, fact, mv, "event_type", "vx100", mvCfg)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(fact)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          MinMaxMv.refresh(s, fact, mv, "event_type", "vx100", mvCfg): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type"))
    drain()
    // a MoR delete removes rows including group minima between
    // drains; the next trigger's targeted recompute re-derives them
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter(col("event_id") % 5 === 0).select(col("event_id")))
    drain()
    LakeTable.read(s, mv)
      .select(col("event_type"), col("n"), col("min_vx100"), col("max_vx100"))
      .orderBy(col("event_type"))
  }

  val streamMvMinmaxSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  MIN(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS min_vx100,
      |  MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS max_vx100
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND event_id % 5 <> 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_mv_single: the CONTINUOUSLY-MAINTAINED single-table
  // COUNT/SUM view — the third MV kind's production deployment
  // shape, closing the kind×surface square (all three kinds now run
  // batch, SQL DDL, and streaming): the fact table's change-feed
  // stream triggers an IncrementalMv.refresh per micro-batch under
  // the same exactly-once-by-construction law (basis in the MV head
  // note; replays/coalesces no-op; the MV table IS the state). The
  // stream crosses a MoR DELETE mid-flight: the appendOnly gate
  // flips that trigger's fold to the full-recompute mode — mode
  // switching under streaming is exactly what the oracle's
  // from-scratch replay gates. Each append-only trigger costs
  // O(delta files) + a |MV|-row fold, never a base scan.
  def streamMvSingle(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.IncrementalMv
    import org.apache.spark.sql.streaming.Trigger
    val fact = tmp("graft_ssvf_")
    val mv = tmp("graft_ssv_")
    val ckpt = tmp("graft_ssv_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("vx100"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    val aggs = Seq(
      IncrementalMv.Agg("n", count(lit(1)).cast("bigint"), c => sum(c).cast("bigint")),
      IncrementalMv.Agg("sum_vx100", sum(col("vx100")).cast("bigint"),
        c => sum(c).cast("bigint")))
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type"))
    IncrementalMv.create(s, fact, mv, Seq("event_type"), aggs, mvCfg)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(fact)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          IncrementalMv.refresh(s, fact, mv, Seq("event_type"), aggs, mvCfg): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type"))
    drain() // append-only range → incr fold
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter(col("event_id") % 5 === 0).select(col("event_id")))
    drain() // MoR delete in range → full-recompute mode
    LakeTable.read(s, mv)
      .select(col("event_type"), col("n"), col("sum_vx100"))
      .withColumn("mode", lit(IncrementalMv.mode(mv)))
      .orderBy(col("event_type"))
  }

  val streamMvSingleSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vx100,
      |  'full' AS mode
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND event_id % 5 <> 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_mv_distinct: the CONTINUOUSLY-MAINTAINED distinct-count
  // view — q_sql_mv_distinct's deployment shape, closing the
  // kind×surface square for the distinct kind (batch law + SQL DDL +
  // streaming, like every other MV kind): the fact table's CDF stream
  // triggers a DistinctMv.refresh per micro-batch under the same
  // exactly-once-by-construction law (the basis rides the MV head
  // note; replayed/coalesced batches no-op; the hidden (group, key)
  // state and the visible view both re-derive idempotently from
  // durable state). A MoR DELETE mid-stream retires keys whose
  // multiplicity reaches 0 — and the mode stays SIGNED (the captured
  // literal gates it): the distinct kind never pays a full recompute
  // for deletes, streaming or batch.
  def streamMvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.DistinctMv
    import org.apache.spark.sql.streaming.Trigger
    val fact = tmp("graft_sdvf_")
    val mv = tmp("graft_sdv_")
    val ckpt = tmp("graft_sdv_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("event_id") % 997).as("uid"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("vx100"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type", "uid"))
    DistinctMv.create(s, fact, mv, Seq("event_type"), "uid", "uniq", mvCfg,
      sums = Seq(("sum_vx100", "COALESCE(vx100, 0)")))
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(fact)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          DistinctMv.refresh(s, fact, mv, Seq("event_type"), "uid", "uniq",
            mvCfg, sums = Seq(("sum_vx100", "COALESCE(vx100, 0)"))): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type", "uid"))
    drain() // appends: new uids appear, old uids duplicate
    // MoR delete mid-stream: every row of uids ≡ 0 (mod 10) dies —
    // those keys RETIRE from the hidden state; mode stays signed
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter((col("event_id") % 3).isin(0, 1) && col("uid") % 10 === 0)
        .select(col("event_id")))
    drain()
    LakeTable.read(s, mv)
      .select(col("event_type"), col("n"), col("uniq"), col("sum_vx100"))
      .withColumn("mode", lit(DistinctMv.mode(mv)))
      .orderBy(col("event_type"))
  }

  val streamMvDistinctSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT event_id % 997) AS uniq,
      |  CAST(SUM(COALESCE(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0)) AS BIGINT) AS sum_vx100,
      |  'signed' AS mode
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND (event_id % 997) % 10 <> 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_mv_bitmap: the CONTINUOUSLY-MAINTAINED bitmap
  // distinct view — q_sql_mv_distinct_bm's deployment shape, closing
  // the kind×surface square for the bitmap kind (batch law + SQL DDL
  // + read tiers + streaming): the fact table's CDF stream triggers a
  // SketchStateMv.refresh per micro-batch under the same
  // exactly-once-by-construction law (the basis rides the MV head
  // note; replayed/coalesced batches no-op; word state and visible
  // view re-derive idempotently from durable state). Per-trigger cost
  // is the kind's selling point AT STREAM CADENCE: an append trigger
  // folds OR-distributively from the trigger's delta files alone —
  // never the fact head, never a changelog — and writes one MoR merge
  // on the touched word cells. A MoR DELETE mid-stream breaks
  // OR-distributivity, so the final drain pays the group-targeted
  // recompute — the captured `targeted` literal gates that the stream
  // path lands the same lattice as batch.
  def streamMvBitmap(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.{BitmapDistinctMv, SketchStateMv}
    import org.apache.spark.sql.streaming.Trigger
    val fact = tmp("graft_sbvf_")
    val mv = tmp("graft_sbv_")
    val ckpt = tmp("graft_sbv_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("event_id") % 997).as("uid"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type", "uid"))
    SketchStateMv.create(s, BitmapDistinctMv(1024L), fact, mv,
      Seq("event_type"), "uid", "uniq", mvCfg)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(fact)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          SketchStateMv.refresh(s, BitmapDistinctMv(1024L), fact, mv,
            Seq("event_type"), "uid", "uniq", mvCfg): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type", "uid"))
    drain() // append trigger: OR-fold from the trigger's delta only
    // MoR delete mid-stream: every row of uids ≡ 0 (mod 10) dies —
    // no bit can retire without the group's other rows, so the drain
    // pays the targeted recompute of the touched groups
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter((col("event_id") % 3).isin(0, 1) && col("uid") % 10 === 0)
        .select(col("event_id")))
    drain()
    LakeTable.read(s, mv)
      .select(col("event_type"), col("n"), col("uniq"))
      .withColumn("mode", lit(BitmapDistinctMv.mode(mv)))
      .orderBy(col("event_type"))
  }

  val streamMvBitmapSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT event_id % 997) AS uniq,
      |  'targeted' AS mode
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND (event_id % 997) % 10 <> 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_mv_hll: the CONTINUOUSLY-MAINTAINED approximate
  // distinct view — q_sql_mv_distinct_hll's deployment shape, closing
  // the kind×surface square for the HLL kind (batch law + SQL DDL +
  // rewrite veto + streaming): the fact CDF stream triggers an
  // SketchStateMv.refresh per micro-batch; an append trigger folds
  // MAX-distributively (register max = sketch union) from the
  // trigger's delta files alone — at stream cadence over an UNBOUNDED
  // key domain this is the whole point: per-trigger writes bounded by
  // O(touched groups × 2^p) registers no matter how many distinct
  // keys the day has seen. A MoR DELETE mid-stream drops the drain to
  // the group-targeted recompute (sketches cannot subtract) — the
  // captured `targeted` literal gates the lattice, the final
  // register state replays EXACTLY in the oracle (same md5/rank
  // math), and the estimate is tolerance-gated (est_ok).
  def streamMvHll(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.{HllDistinctMv, SketchStateMv}
    import org.apache.spark.sql.streaming.Trigger
    val fact = tmp("graft_shvf_")
    val mv = tmp("graft_shv_")
    val ckpt = tmp("graft_shv_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        concat(lit("u"), (col("event_id") % 1499).cast("string")).as("uid"))
    val cfg = BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 1 << 20)
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg,
      Seq("event_id", "event_type", "uid"))
    SketchStateMv.create(s, HllDistinctMv(12), fact, mv,
      Seq("event_type"), "uid", "uniq", mvCfg)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(fact)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          SketchStateMv.refresh(s, HllDistinctMv(12), fact, mv,
            Seq("event_type"), "uid", "uniq", mvCfg): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg,
      Seq("event_id", "event_type", "uid"))
    drain() // append trigger: register-max fold from the delta only
    // MoR delete mid-stream: every row whose numeric id part ≡ 0
    // (mod 10) dies — registers cannot lower without rehashing the
    // survivors, so the drain pays the targeted recompute
    LakeTable.deleteWhere(s, fact, "event_id",
      ev.filter((col("event_id") % 3).isin(0, 1) &&
          (col("event_id") % 1499) % 10 === 0)
        .select(col("event_id")))
    drain()
    val exact = LakeTable.read(s, fact)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("uid")).as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = LakeTable.read(s, HllDistinctMv.stateRoot(mv))
      .filter(col(HllDistinctMv.RidxCol) >= 0L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("occ"),
        sum(col(HllDistinctMv.RvalCol)).cast("long").as("rsum"))
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    import s.implicits._
    LakeTable.read(s, mv).collect().toSeq.map { r =>
      val et = r.getAs[String]("event_type"); val (occ, rsum) = st(et)
      (et, r.getAs[Long]("n"), occ, rsum,
        math.abs(r.getAs[Long]("uniq") - exact(et)) * 20L <= exact(et),
        HllDistinctMv.mode(mv))
    }.toDF("event_type", "n", "occ", "rsum", "est_ok", "mode")
      .orderBy(col("event_type"))
  }

  val streamMvHllSql: String = {
    val b2 = 1L << 48
    s"""WITH f AS (
       |  SELECT event_type, 'u' || CAST(event_id % 1499 AS VARCHAR) AS uid
       |  FROM events
       |  WHERE event_id % 3 IN (0, 1) AND (event_id % 1499) % 10 <> 0)
       |SELECT n.event_type, n.n, r.occ, r.rsum, TRUE AS est_ok,
       |  'targeted' AS mode
       |FROM (
       |  SELECT event_type, COUNT(*) AS n FROM f GROUP BY event_type) n
       |JOIN (
       |  SELECT event_type, COUNT(*) AS occ,
       |    CAST(SUM(mr) AS BIGINT) AS rsum
       |  FROM (
       |    SELECT event_type, ridx,
       |      MAX(CASE WHEN w = 0 THEN 49
       |               ELSE 49 - length(bin(w)) END) AS mr
       |    FROM (
       |      SELECT event_type, h // $b2 AS ridx, h % $b2 AS w
       |      FROM (
       |        SELECT event_type,
       |          ('0x'||substr(md5(uid),1,15))::BIGINT AS h
       |        FROM f))
       |    GROUP BY event_type, ridx)
       |  GROUP BY event_type) r
       |ON n.event_type = r.event_type
       |ORDER BY n.event_type""".stripMargin
  }

  // --- stream_mv_expr: the CONTINUOUSLY-MAINTAINED time-bucket
  // rollup — q_sql_mv_expr's deployment shape, closing the
  // kind×surface square for expression-group MVs (batch + SQL DDL +
  // streaming): the fact table's CDF stream triggers
  // MaterializedView.refresh per micro-batch THROUGH THE STORED
  // DEFINITION, so each refresh re-derives the bucket column over
  // exactly the delta files it folds (the prep hook) under the same
  // exactly-once-by-construction law as every MV stream (the basis
  // rides the MV head note; replayed/coalesced batches no-op). A MoR
  // DELETE mid-stream drops the incr fold to the full-recompute
  // fallback — the final state must equal a from-scratch recompute,
  // which the oracle replays with DuckDB's own date_trunc.
  def streamMvExpr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.smef_$id"; val mv = s"graft.q.smev_$id"
    val ckpt = tmp("graft_sme_ck_")
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .createOrReplaceTempView("ev_sqlsme")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlsme WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
             |  SUM(vx100) AS sum_vx100
             |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
    val cat = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"q.smef_$id")
    val mvDir = cat.tableDir(s"q.smev_$id")
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(factDir)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.lake.MaterializedView.refresh(s, mvDir): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ins("event_id % 3 = 1")
    drain() // append-only → incr fold, bucket re-derived per delta row
    s.sql(s"DELETE FROM $fact WHERE event_id % 10 = 3")
    drain() // MoR delete in range → full-recompute fallback
    s.sql(s"SELECT d, n, sum_vx100 FROM $mv")
      .withColumn("mode", lit(graft.lake.IncrementalMv.mode(mvDir)))
      .orderBy(col("d"))
  }

  val streamMvExprSql: String =
    """SELECT date_trunc('day', ts) AS d, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vx100,
      |  'full' AS mode
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND event_id % 10 <> 3
      |GROUP BY 1
      |ORDER BY d""".stripMargin

  // --- stream_mv_star_expr: the CONTINUOUSLY-MAINTAINED time ×
  // dimension rollup — q_sql_mv_star_expr's deployment shape,
  // closing the kind×surface square for expression groups on the
  // JOIN kind too (batch law + SQL DDL + streaming): the fact CDF
  // stream triggers MaterializedView.refresh per micro-batch through
  // the stored definition, so every Gupta-Mumick staircase term
  // re-derives the bucket over exactly the joined change rows it
  // folds, under the same exactly-once-by-construction law as every
  // MV stream (basis rides the MV head note; replayed batches
  // no-op). A dim MERGE lands mid-stream: the F¹ ⋈ ΔD term folds at
  // the NEXT fact trigger, moving rows between wb groups inside each
  // day bucket. The final state must equal a from-scratch recompute,
  // which the oracle replays with DuckDB's own date_trunc; the
  // freshness literal (basis vector == current heads) is
  // oracle-hard-coded true.
  def streamMvStarExpr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.q.ssef_$id"; val dim = s"graft.q.ssed_$id"
    val mv = s"graft.q.ssev_$id"
    val ckpt = tmp("graft_sse_ck_")
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sqlsse")
    s.sql(s"CREATE TABLE $fact (event_id BIGINT, ts TIMESTAMP, event_type STRING, vx100 BIGINT)")
    def ins(pred: String) =
      s.sql(s"""INSERT INTO $fact
               |SELECT event_id, ts, event_type,
               |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               |FROM ev_sqlsse WHERE $pred""".stripMargin)
    ins("event_id % 3 = 0")
    s.sql(s"CREATE TABLE $dim (event_type STRING, wb BIGINT)")
    s.sql(s"""INSERT INTO $dim
             |SELECT event_type, length(event_type) % 3
             |FROM (SELECT DISTINCT event_type FROM ev_sqlsse)""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW $mv AS
             |SELECT date_trunc('DAY', ts) AS d, wb, COUNT(*) AS n,
             |  SUM(vx100) AS sum_vx100
             |FROM $fact JOIN $dim USING (event_type)
             |GROUP BY date_trunc('DAY', ts), wb""".stripMargin)
    val cat = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"q.ssef_$id")
    val dimDir = cat.tableDir(s"q.ssed_$id")
    val mvDir = cat.tableDir(s"q.ssev_$id")
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(factDir)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.lake.MaterializedView.refreshAll(s, mvDir): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ins("event_id % 3 = 1")
    drain() // ΔF term: bucket re-derived over the joined fact delta
    // dim rewire mid-stream + a fact trigger: the F¹ ⋈ ΔD term folds
    s.sql(s"""MERGE INTO $dim t USING (
             |  SELECT event_type, (length(event_type) + 10) % 3 AS wb
             |  FROM (SELECT DISTINCT event_type FROM ev_sqlsse)
             |  WHERE length(event_type) % 2 = 0) src
             |ON t.event_type = src.event_type
             |WHEN MATCHED THEN UPDATE SET t.wb = src.wb""".stripMargin)
    ins("event_id % 3 = 2 AND event_id % 7 = 0")
    drain()
    val fresh = graft.lake.IncrementalJoinMv.basisAll(mvDir) ==
      Seq(LakeTable.currentSnapshot(factDir), LakeTable.currentSnapshot(dimDir))
    s.sql(s"SELECT d, CAST(wb AS BIGINT) AS wb, n, sum_vx100 FROM $mv")
      .withColumn("fresh", lit(fresh))
      .orderBy(col("d"), col("wb"))
  }

  val streamMvStarExprSql: String =
    """WITH f AS (
      |  SELECT event_id, ts, event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vx100
      |  FROM events
      |  WHERE event_id % 3 IN (0, 1) OR (event_id % 3 = 2 AND event_id % 7 = 0)),
      |d2 AS (
      |  SELECT event_type,
      |    (len + CASE WHEN len % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type, length(event_type) AS len FROM events))
      |SELECT date_trunc('day', ts) AS d, CAST(wb AS BIGINT) AS wb,
      |  COUNT(*) AS n, CAST(SUM(vx100) AS BIGINT) AS sum_vx100, true AS fresh
      |FROM f JOIN d2 USING (event_type)
      |GROUP BY 1, 2
      |ORDER BY d, wb""".stripMargin

  // --- stream_mv_refresh: the CONTINUOUSLY-MAINTAINED join view —
  // mv_join_refresh's production deployment shape: the fact table's
  // own CHANGE DATA FEED stream (readStream changeFeed=true, the v1
  // CDF source — delete commits included) triggers an
  // IncrementalJoinMv.refresh per micro-batch. Each refresh folds
  // exactly the (fact, dim) delta since the basis recorded in the
  // MV's head note, so the composition is exactly-once BY
  // CONSTRUCTION: replayed or coalesced micro-batches re-read the
  // basis and no-op (basis == heads), a crash between commits leaves
  // a basis that the next trigger completes — no checkpoint-to-state
  // coordination problem at all, the MV table IS the state. The
  // final MV must equal a from-scratch recompute of the join on the
  // final fact/dim heads — which is what the oracle replays. At
  // 100 TB: each trigger costs O(commits since basis) via the
  // delta-join law, and a dimension rewire folds in at the next fact
  // trigger (one fact pass vs the broadcast changed keys).
  def streamMvRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.IncrementalJoinMv
    import org.apache.spark.sql.streaming.Trigger
    val fact = tmp("graft_smvf_")
    val dim = tmp("graft_smvd_")
    val mv = tmp("graft_smv_")
    val ckpt = tmp("graft_smv_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val dimCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 4096)
    val mvCfg = BlockWriter.Config("wb", "wb", maxRecordsPerFile = 4096)
    val dimV1 = ev.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")))
      .withColumn("wb", col("weight") % 3)
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 0), cfg, Seq("event_id"))
    LakeTable.commit(s, dim, dimV1, dimCfg, Seq("event_type"))
    val aggs = Seq(IncrementalJoinMv.sumAgg("sum_value_x100",
      floor(col("value") * 100 + 0.5).cast("bigint")))
    IncrementalJoinMv.create(s, fact, dim, mv, "event_type", Seq("wb"), aggs, mvCfg)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(fact)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          IncrementalJoinMv.refresh(s, fact, dim, mv,
            "event_type", Seq("wb"), aggs, mvCfg): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // two more fact commits arrive, the stream drains them
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 1), cfg, Seq("event_id"))
    LakeTable.commit(s, fact, ev.filter(col("event_id") % 3 === 2), cfg, Seq("event_id"))
    drain()
    // a dimension rewire lands between drains plus a fact MoR delete;
    // the next drained trigger folds BOTH deltas in one refresh
    val dimUp = LakeTable.read(s, dim)
      .filter(length(col("event_type")) % 2 === 0)
      .withColumn("weight", col("weight") + 10)
      .withColumn("wb", col("weight") % 3)
    LakeTable.merge(s, dim, "event_type", dimUp, dimCfg, Seq("event_type"))
    LakeTable.deleteWhere(s, fact, "event_id", ev.filter(col("event_id") % 10 === 0))
    drain()
    LakeTable.read(s, mv)
      .select(col("wb").cast("bigint").as("wb"), col("n"), col("sum_value_x100"))
      .orderBy(col("wb"))
  }

  val streamMvRefreshSql: String =
    """WITH d2 AS (
      |  SELECT event_type,
      |    (length(event_type) + CASE WHEN length(event_type) % 2 = 0 THEN 10 ELSE 0 END) % 3 AS wb
      |  FROM (SELECT DISTINCT event_type FROM events))
      |SELECT CAST(wb AS BIGINT) AS wb, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM events e JOIN d2 USING (event_type)
      |WHERE event_id % 10 <> 0
      |GROUP BY wb
      |ORDER BY wb""".stripMargin

  // --- lake_history: the snapshot-history METADATA table (Iceberg's
  // `snapshots`): append → append → MoR delete, then one row per
  // snapshot computed purely from manifests — zero data-file IO, so
  // at 100 TB this answers "what happened to this table" from a few
  // KB of metadata. The oracle replays the manifest bookkeeping laws
  // (cumulative/added row counts from the commit predicates; the
  // delete commit carries exactly one delete file holding the
  // distinct deleted keys and adds no data rows). Wall-clock and
  // layout-dependent columns (ts_ms, file counts) are metadata the
  // API exposes but the deterministic gate cannot pin — file-count
  // laws are spec-asserted instead (LakeSpec, partitioned_write).
  def lakeHistory(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lh_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    LakeTable.deleteWhere(s, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.history(s, root)
      .select(col("snap"), col("parent"), col("n_rows"), col("n_added_rows"),
        col("n_delete_files"), col("n_delete_keys"))
      .orderBy(col("snap"))
  }

  val lakeHistorySql: String =
    """WITH ec AS (SELECT COUNT(*) AS n FROM events WHERE event_id % 2 = 0),
      |oc AS (SELECT COUNT(*) AS n FROM events WHERE event_id % 2 = 1),
      |dk AS (SELECT COUNT(DISTINCT event_id) AS k FROM events WHERE event_id % 10 = 0)
      |SELECT CAST(1 AS BIGINT) AS snap, CAST(0 AS BIGINT) AS parent,
      |  ec.n AS n_rows, ec.n AS n_added_rows,
      |  CAST(0 AS BIGINT) AS n_delete_files, CAST(0 AS BIGINT) AS n_delete_keys
      |FROM ec
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), ec.n + oc.n, oc.n,
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM ec, oc
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(2 AS BIGINT), ec.n + oc.n, CAST(0 AS BIGINT),
      |  CAST(1 AS BIGINT), dk.k FROM ec, oc, dk
      |ORDER BY snap""".stripMargin

  // --- lake_rollback: ROLLBACK TO SNAPSHOT — operational undo as one
  // metadata-only commit that re-references the target snapshot's
  // part files (no data IO, O(1) new metadata at any table size).
  // Build: commit two-thirds (snap 1) → MoR-delete every 10th key
  // (snap 2) → append the last third (snap 3) → rollback to snap 1
  // (snap 4). The head must read EXACTLY snapshot 1's content (delete
  // undone, append gone), while snapshot 3 stays time-travelable —
  // history is append-only, a rollback hides nothing. The oracle
  // replays both views; the sequence rule matters in snap 3: the
  // delete (seq 2) masks only seq-1 files, so appended rows keep
  // their %10 keys.
  // --- lake_expire: SNAPSHOT RETENTION — the maintenance verb every
  // production table runs on a schedule (Iceberg expire_snapshots /
  // Delta VACUUM): drop history below a keep-point, physically
  // reclaim data files referenced ONLY by expired manifests, and
  // honor TAGS as retention pins. The fixture drives the whole
  // lifecycle: two appends (snapshot 2 TAGGED as an audit pin), a MoR
  // delete, a CoW fold (which strands snapshot 3's delete files —
  // the reclaim payload), one more append, then expire(keepFrom=4).
  // Gated: exact content of every SURVIVING snapshot — the tagged
  // pin (2) still serves its full view through expiry, and snapshots
  // 4/5 serve theirs; metadata/file-reclaim invariants (manifests
  // 1/3 gone, 2 pinned, stranded delete files reclaimed, expired
  // changelog ranges refused pointedly) are spec territory
  // (LakeSpec), not hash territory — file counts depend on write
  // fan-out. At 100 TB: expire is METADATA-SIZED (walks manifests,
  // diffs path sets) plus one delete per reclaimed file — never a
  // data scan; the ownership rule (a chain deletes only under its
  // own root, never under branches/) keeps concurrent branch work
  // safe, and tags make legal-hold retention first-class.
  def lakeExpire(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_exp_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 3 === 0), cfg, Seq("event_id"))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 3 === 1), cfg, Seq("event_id"))
    LakeTable.tag(root, "audit", 2)
    LakeTable.deleteWhere(s, root, "event_id", ev.filter(col("event_id") % 12 === 0))
    LakeTable.foldDeletes(s, root, cfg, Seq("event_id"))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 3 === 2), cfg, Seq("event_id"))
    // drop snapshots 1 and 3 (the tag pins 2); 4 (the fold) and the
    // head 5 are inside retention
    LakeTable.expire(root, 4)
    LakeTable.read(s, root, Some(2)).withColumn("snap", lit(2L))
      .unionByName(LakeTable.read(s, root, Some(4)).withColumn("snap", lit(4L)))
      .unionByName(LakeTable.read(s, root).withColumn("snap", lit(5L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeExpireSql: String =
    """WITH snaps AS (
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 3 IN (0, 1)
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 3 IN (0, 1) AND event_id % 12 <> 0
      |  UNION ALL
      |  SELECT CAST(5 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE (event_id % 3 IN (0, 1) AND event_id % 12 <> 0) OR event_id % 3 = 2)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  def lakeRollback(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_rb_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 3 < 2), cfg, Seq("event_id"))
    LakeTable.deleteWhere(s, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 3 === 2), cfg, Seq("event_id"))
    LakeTable.rollback(root, 1)
    LakeTable.read(s, root, Some(3)).withColumn("snap", lit(3L))
      .unionByName(LakeTable.read(s, root).withColumn("snap", lit(4L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeRollbackSql: String =
    """WITH snaps AS (
      |  SELECT CAST(3 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE (event_id % 3 < 2 AND event_id % 10 <> 0) OR event_id % 3 = 2
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 3 < 2)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_manifest_compact: MANIFEST COMPACTION (Iceberg's
  // `rewrite_manifests`): a streaming-cadence table accumulates one
  // metadata part per commit — the reference flushes every MaxAge=60s
  // (main.go:75-77), so a month of commits is ~43k parts walked per
  // planning call. `CALL graft.system.rewrite_manifests` folds the
  // chain into ONE consolidated part as a METADATA-ONLY snapshot
  // (zero data IO; original sequence numbers preserved), resetting
  // resolution to one part read. The query lands 8 commits + a MoR
  // delete, compacts, and pins the exactness laws: head view
  // unchanged, the PRE-compaction snapshot still resolves through its
  // own manifests, an incremental range SPANNING the call returns the
  // pre-call answer, the compaction snapshot ADDS nothing
  // (n_added_10 = 0), and the head is one part (n_parts_head = 1).
  // LakeSpec pins the changelog-zero-rows law + idempotence.
  def lakeManifestCompact(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_mfc_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    // part count (the law under test) is per-COMMIT metadata,
    // independent of files per commit — task-sized files keep the 8
    // ingest commits from dominating the metadata-compaction query
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1 << 17)
    (0 until 8).foreach { k =>
      LakeTable.commit(s, root, ev.filter(col("event_id") % 8 === k), cfg,
        Seq("event_id")): Unit
    }
    LakeTable.deleteWhere(s, root, "event_id",
      ev.filter(col("event_id") % 10 === 0).select(col("event_id")))
    val compacted = LakeTable.rewriteManifests(root) // snapshot 10
    val nParts = LakeTable.partCount(root, compacted)
    val nAdded = LakeTable.manifest(root, compacted).files.count(_.seq == compacted)
    val head = LakeTable.read(s, root).withColumn("v", lit("head"))
    val pre = LakeTable.read(s, root, Some(compacted - 1)).withColumn("v", lit("pre"))
    // incremental range spanning the compaction boundary: append-scan
    // semantics, files with seq in (4, 10] — the metadata-only
    // snapshot contributes nothing
    val incr = LakeTable.incrementalRead(s, root, 4, compacted)
      .withColumn("v", lit("incr"))
    head.unionByName(pre).unionByName(incr)
      .groupBy(col("v"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .withColumn("n_parts_head", lit(nParts))
      .withColumn("n_added_10", lit(nAdded))
      .orderBy(col("v"), col("event_type"))
  }

  val lakeManifestCompactSql: String =
    """WITH views AS (
      |  SELECT 'head' AS v, event_type, value FROM events WHERE event_id % 10 <> 0
      |  UNION ALL
      |  SELECT 'pre' AS v, event_type, value FROM events WHERE event_id % 10 <> 0
      |  UNION ALL
      |  SELECT 'incr' AS v, event_type, value FROM events WHERE event_id % 8 >= 4)
      |SELECT v, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  CAST(1 AS INTEGER) AS n_parts_head,
      |  CAST(0 AS INTEGER) AS n_added_10
      |FROM views
      |GROUP BY v, event_type
      |ORDER BY v, event_type""".stripMargin

  // --- lake_tag: SNAPSHOT TAGS — named refs as retention pins. Tag
  // the first cut ("v1"), append the rest, compact (a rewrite that
  // RETIRES every pre-compaction file from the current view), then
  // expire everything below the head. Without the tag, snapshot 1's
  // manifest and files are reclaimed; with it, `readTag("v1")` still
  // reads the exact audited cut while routine retention swept the
  // untagged middle generation. This is how a 100 TB training-set
  // release stays pinned by name for years of table churn. The oracle
  // replays both views; LakeSpec pins the reclamation asymmetry.
  def lakeTag(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_tag_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.tag(root, "v1", 1)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    LakeTable.rewrite(s, root, LakeTable.read(s, root), cfg, Seq("event_id"))
    LakeTable.expire(root, 3)
    LakeTable.readTag(s, root, "v1").withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root).withColumn("snap", lit(3L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeTagSql: String =
    """WITH snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT) AS snap, event_type, value FROM events)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_branch: WRITE-AUDIT-PUBLISH — the staging pattern for
  // risky data at scale. Fork the table into a branch (O(1) metadata:
  // the fork re-references the head's part files), land the new
  // generation ON THE BRANCH, audit it there, MoR-delete the rows the
  // audit rejects, then PUBLISH: one atomic fast-forward commit makes
  // the audited branch head the main head. Readers of main never see
  // unaudited rows — the query proves it by reading main's pre-publish
  // snapshot (still only generation 1) next to the published head
  // (gen 1 + audited gen 2). The oracle replays both views; the
  // fast-forward race (main moved past the fork) is spec-pinned.
  def lakeBranch(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_br_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.branch(root, "audit")
    val bRoot = LakeTable.branchRoot(root, "audit")
    LakeTable.commit(s, bRoot, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    // the audit rejects part of the NEW generation (odd ids ≡ 3 mod 5)
    LakeTable.deleteWhere(s, bRoot, "event_id",
      ev.filter(col("event_id") % 2 === 1 && col("event_id") % 5 === 3))
    LakeTable.publishBranch(root, "audit")
    LakeTable.read(s, root, Some(1)).withColumn("snap", lit(1L))
      .unionByName(LakeTable.read(s, root).withColumn("snap", lit(2L)))
      .groupBy(col("snap"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("snap"), col("event_type"))
  }

  val lakeBranchSql: String =
    """WITH snaps AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_type, value FROM events
      |  WHERE event_id % 2 = 0
      |     OR (event_id % 2 = 1 AND NOT event_id % 5 = 3))
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM snaps
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- lake_branch_diff: the WRITE-AUDIT-PUBLISH DIFF — the audit
  // step's own question, "what exactly would publishing this branch
  // change on main?", answered BEFORE the publish from the branch's
  // own changelog folded by sign (LakeTable.branchDiff): O(branch
  // work) at any table size (the fork shares main's basis manifest,
  // so the signed fold IS the main-vs-branch multiset difference),
  // and in-branch churn cancels — rows the audit itself rejected
  // (added in one branch commit, deleted in the next) appear NOWHERE
  // in the report, which the oracle pins by construction (the %5==3
  // slice is inserted then audit-deleted on the branch and must
  // vanish). Inherited-row deletes surface as 'delete' rows. The
  // report is the human gate of the WAP workflow; publish replays the
  // same commits under CAS afterwards.
  def lakeBranchDiff(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_brd_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.branch(root, "audit")
    val bRoot = LakeTable.branchRoot(root, "audit")
    LakeTable.commit(s, bRoot, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    // the audit rejects part of the branch's OWN new generation
    // (in-branch churn — must cancel out of the diff entirely) …
    LakeTable.deleteWhere(s, bRoot, "event_id",
      ev.filter(col("event_id") % 2 === 1 && col("event_id") % 5 === 3))
    // … and retracts some INHERITED main rows (surfaces as deletes)
    LakeTable.deleteWhere(s, bRoot, "event_id",
      ev.filter(col("event_id") % 2 === 0 && col("event_id") % 7 === 0))
    LakeTable.branchDiff(s, root, "audit")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L)).as("n_insert"),
        sum(when(col("_change_type") === "delete", 1L).otherwise(0L)).as("n_delete"),
        sum(when(col("_change_type") === "insert",
            floor(col("value") * 100 + 0.5).cast("bigint"))
          .otherwise(-floor(col("value") * 100 + 0.5).cast("bigint")))
          .cast("bigint").as("net_value_x100"))
      .orderBy(col("event_type"))
  }

  val lakeBranchDiffSql: String =
    """WITH ch AS (
      |  SELECT event_type, value, 'insert' AS ct FROM events
      |  WHERE event_id % 2 = 1 AND NOT event_id % 5 = 3
      |  UNION ALL
      |  SELECT event_type, value, 'delete' AS ct FROM events
      |  WHERE event_id % 2 = 0 AND event_id % 7 = 0)
      |SELECT event_type,
      |  CAST(SUM(CASE WHEN ct = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
      |  CAST(SUM(CASE WHEN ct = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
      |  CAST(SUM(CASE WHEN ct = 'insert' THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
      |       ELSE -CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS net_value_x100
      |FROM ch
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_lake: streaming ingest INTO the manifest-tracked
  // table — the reference's whole pipeline (file stream → block
  // writer → iceberg commit; main.go:62-115) in one operator. The
  // source is staged as 3 files replayed as 3 micro-batches, each
  // becoming one ATOMIC lake commit (idempotent by batch id); the
  // result reads the final snapshot and pins n_commits = 3, so the
  // oracle checks exactly-once delivery AND the per-batch commit
  // cadence.
  def streamLake(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_sl_")
    val staged = tmp("graft_sl_in_")
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .repartition(3).write.mode("overwrite").parquet(staged)
    val n = graft.streaming.LakeStream.runOnceToLake(s, staged, root,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096),
      Seq("event_id", "user_id"))
    LakeTable.read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("n_commits", lit(n.toLong))
      .orderBy(col("event_type"))
  }

  val streamLakeSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(3 AS BIGINT) AS n_commits
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_upsert: CDC APPLY — the streaming half of the
  // changelog lifecycle: a stream of change records lands on a lake
  // table as one atomic MoR MERGE per micro-batch (new files + an
  // equality-delete of the batch's keys in ONE commit), idempotent by
  // batch id. Within a batch, duplicate change records for one key
  // resolve latest-wins on the order column BEFORE the merge (the
  // loser carries ts-1s and a decoy value — if resolution were
  // missing or wrong, the decoy would surface in the sum). Across
  // batches, latest-wins falls out of the sequence rule: each
  // commit's delete masks only OLDER files. The staged CDC files are
  // hash-partitioned BY KEY so every key's records share a batch —
  // exactly how a real CDC feed shards by primary key to keep
  // ordering per key. At 100 TB a batch touching 0.01% of rows costs
  // 0.01%, never a rewrite. The oracle replays the net upsert result.
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_su_")
    val staged = tmp("graft_su_in_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev, cfg, Seq("event_id"))
    val winners0 = ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + lit(1000.0d))
    val losers0 = ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + lit(500.0d))
      .withColumn("ts", col("ts") - expr("INTERVAL 1 SECOND"))
    val winners1 = ev.filter(col("event_id") % 3 === 1)
      .withColumn("value", col("value") + lit(2000.0d))
    winners0.unionByName(losers0).unionByName(winners1)
      .repartition(3, col("event_id"))
      .write.mode("overwrite").parquet(staged)
    val head = graft.streaming.LakeStream.applyCdcToLake(
      s, staged, root, "event_id", "ts", cfg, Seq("event_id"))
    LakeTable.read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .withColumn("n_commits", lit(head.toLong))
      .orderBy(col("event_type"))
  }

  val streamUpsertSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(
      |    (CASE WHEN event_id % 3 = 0 THEN value + 1000
      |          WHEN event_id % 3 = 1 THEN value + 2000
      |          ELSE value END) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  CAST(4 AS BIGINT) AS n_commits
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_format_read: the registered DataSource front door —
  // `spark.read.format("graft-lake")` with time travel by option and
  // a filter whose pushdown translates to manifest-stats pruning
  // (LakeSourceProvider). Semantics must be indistinguishable from
  // LakeTable.read: snapshot 1 sees only generation 1, the head sees
  // both, the event_type equality is answered exactly through the
  // prune-then-refilter path.
  def lakeFormatRead(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_fmt_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg,
      Seq("event_id", "user_id", "event_type"))
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg,
      Seq("event_id", "user_id", "event_type"))
    val s1 = s.read.format("graft-lake").option("snapshot", "1").load(root)
      .withColumn("snap", lit(1L))
    val head = s.read.format("graft-lake").load(root)
      .withColumn("snap", lit(2L))
    s1.unionByName(head)
      .filter(col("event_type") === "click")
      .groupBy(col("snap"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("snap"))
  }

  val lakeFormatReadSql: String =
    """WITH u AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_id, event_type, value
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_id, event_type, value FROM events)
      |SELECT snap, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |WHERE event_type = 'click'
      |GROUP BY snap
      |ORDER BY snap""".stripMargin

  // --- lake_stream_read: the lake as a STREAMING source —
  // `spark.readStream.format("graft-lake")` tails the commit log
  // (offset = snapshot id, micro-batch = incrementalRead of the
  // appended files). Two drain cycles with a commit between them:
  // the second run must deliver ONLY the new snapshot (the
  // checkpoint carries the offset), so the sink holds every event
  // exactly once — n_events == n proves no re-read and no loss.
  def lakeStreamRead(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_lsr_")
    val sink = tmp("graft_lsr_sink_")
    val ckpt = tmp("graft_lsr_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    drain()
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    drain()
    s.read.parquet(sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("event_id")).as("n_events"))
      .orderBy(col("event_type"))
  }

  val lakeStreamReadSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  COUNT(DISTINCT event_id) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_cdf_stream: the change feed AS A STREAM —
  // `readStream.format("graft-lake").option("changeFeed", "true")`
  // serves `changelogRead` micro-batches through the v1 Source path
  // ([[graft.sources.GraftCdfSource]]): each batch is the committed
  // range's row-level changes tagged `_change_type`/`_change_snap`,
  // O(changed rows) for metadata-attributed commits. Two drain
  // cycles: cycle 1 delivers commit 1's inserts; commits 2 (append)
  // and 3 (MoR positional delete of every click) land between, and
  // cycle 2 must deliver ONLY their changes — the checkpointed
  // snapshot offset prevents re-delivery, so the sink aggregate
  // equals insert=all events, delete=the click pre-images, each
  // exactly once. At 100 TB the feed never rescans the table: a
  // delete commit re-reads just the masked rows.
  def lakeCdfStream(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_cdfs_")
    val sink = tmp("graft_cdfs_sink_")
    val ckpt = tmp("graft_cdfs_ck_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(root)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    drain()
    LakeTable.commit(s, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    val clicks = LakeTable.withRowCoords(s, root)
      .filter(col("event_type") === "click")
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    LakeTable.deletePositions(s, root, clicks)
    drain()
    s.read.parquet(sink)
      .withColumnRenamed("_change_type", "change_type")
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("event_id")).as("n_events"))
      .orderBy(col("change_type"))
  }

  val lakeCdfStreamSql: String =
    """WITH ch AS (
      |  SELECT 'insert' AS change_type, event_id, value FROM events
      |  UNION ALL
      |  SELECT 'delete' AS change_type, event_id, value FROM events
      |  WHERE event_type = 'click')
      |SELECT change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  COUNT(DISTINCT event_id) AS n_events
      |FROM ch
      |GROUP BY change_type
      |ORDER BY change_type""".stripMargin

  // --- stream_cdc_apply: CDC CONSUMPTION — the downstream half of
  // the change feed: a MIRROR table maintained exclusively from
  // `readStream.option("changeFeed")`, never by re-reading the
  // upstream table. Each micro-batch is applied per upstream
  // snapshot IN ORDER as ONE mirror commit: insert rows become one
  // atomic MERGE carrying the snapshot's pure-delete keys (pre-image
  // keys minus its insert keys) as EXTRA equality-delete keys — the
  // upsert fold of the delete+insert changelog encoding, with commit
  // cadence matching the upstream 1:1 (a delete-only snapshot is the
  // one standalone eq-delete commit). Every mirror commit stamps
  // `cdc:<snap>:<verb>` in its note and the apply loop skips
  // snapshots already stamped, so a replayed batch (foreachBatch is
  // at-least-once on driver crash) re-applies nothing — exactly-once
  // end to end, checkpoint offsets across drains + note markers
  // within a batch. At 100 TB the mirror's write amplification is
  // O(changed rows) per upstream commit and its commit count equals
  // the upstream's — the whole point of consuming the feed instead
  // of diffing snapshots. Upstream lifecycle: append evens, then TWO
  // atomic merge-with-deletes (value+1000 on ids ending in 0 +
  // delete clicks; insert odds ending in 1 + delete views); the gate
  // pins mirror == upstream EXACTLY (symmetric exceptAll both ways
  // empty) AND the 1:1 cadence (n_commits == 3 upstream snapshots,
  // oracle-hard-coded — the legacy two-commit flow spent 5).
  def streamCdcApply(s: SparkSession, dir: String): DataFrame = {
    val up = tmp("graft_cdca_up_")
    val mir = tmp("graft_cdca_mir_")
    val ck = tmp("graft_cdca_ck_")
    // even-user subset: the gate exercises commit MACHINERY (4
    // upstream snapshots × changelog × apply × exact mirror compare),
    // whose cost is per-commit fixed work — row volume only pads the
    // bench without strengthening the gate
    val ev = t(s, dir, "events")
      .filter(col("user_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake")
        .option("changeFeed", "true").load(up)
        .writeStream
        .foreachBatch((batch: DataFrame, _: Long) => {
          graft.streaming.CdcApply.applyBatch(s, mir, batch, "event_id",
            cfg, Seq("event_id")); ()
        })
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(s, up, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    drain()
    // upstream snapshots 2 and 3: ATOMIC merge-with-deletes — the
    // extraDeleteKeys shape the MV fold writes. Snap 2 bumps the ids
    // ending in 0 (+1000) AND deletes every click (a click ending in
    // 0 is upserted and deleted in the SAME commit — the new row
    // wins, the MoR delete masks only older files); snap 3 inserts
    // the odd ids ending in 1 (+2000) AND deletes every view. The
    // mirror must apply EACH as one commit: `n_commits` below pins
    // the 1:1 cadence — the legacy apply flow spent TWO mirror
    // commits (eq-delete, then merge) per mixed snapshot, 5 total.
    LakeTable.merge(s, up, "event_id",
      ev.filter(col("event_id") % 2 === 0 && col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0),
      cfg, Seq("event_id"),
      extraDeleteKeys = Some(LakeTable.read(s, up)
        .filter(col("event_type") === "click").select(col("event_id"))))
    LakeTable.merge(s, up, "event_id",
      ev.filter(col("event_id") % 2 === 1 && col("event_id") % 10 === 1)
        .withColumn("value", col("value") + 2000.0),
      cfg, Seq("event_id"),
      extraDeleteKeys = Some(LakeTable.read(s, up)
        .filter(col("event_type") === "view").select(col("event_id"))))
    drain()
    val upF = LakeTable.read(s, up)
    // exact multiset equality in ONE shuffle: sign the sides ±1,
    // group by the full row, any non-zero signed count is a diff.
    // The double exceptAll this replaces planned each MoR-resolved
    // side into two replicate-and-subtract subtrees (4 reads, 2 wide
    // shuffles); diff == 0 ⇔ the multisets match, which is the only
    // thing the gate publishes (`mirror_exact`)
    val mirF = LakeTable.read(s, mir)
      .select(upF.columns.map(col).toIndexedSeq: _*).persist()
    val rowCols = upF.columns.toIndexedSeq.map(col)
    val diff = upF.withColumn("_s", lit(1L))
      .unionByName(mirF.withColumn("_s", lit(-1L)))
      .groupBy(rowCols: _*).agg(sum(col("_s")).as("_d"))
      .filter(col("_d") =!= 0L).count()
    val out = mirF.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .withColumn("mirror_exact", lit(diff == 0L))
      .withColumn("n_commits", lit(LakeTable.currentSnapshot(mir).toLong))
      .orderBy(col("event_type"))
      .collect()
    mirF.unpersist()
    import s.implicits._
    out.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
      .toDF("event_type", "n", "sum_value_x100", "mirror_exact", "n_commits")
      .orderBy(col("event_type"))
  }

  val streamCdcApplySql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, value FROM events WHERE user_id % 2 = 0),
      |base AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value
      |  FROM ev
      |  WHERE event_id % 2 = 0
      |    AND (event_type <> 'click' OR event_id % 10 = 0)
      |    AND event_type <> 'view'),
      |ups AS (
      |  SELECT event_type, value + 2000 AS value FROM ev
      |  WHERE event_id % 2 = 1 AND event_id % 10 = 1),
      |final AS (SELECT * FROM base UNION ALL SELECT * FROM ups)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  true AS mirror_exact, CAST(3 AS BIGINT) AS n_commits
      |FROM final
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_cdc_coalesce: OPT-IN CDC CADENCE COALESCING — the
  // escape hatch for cadence-bound mirrors: a batch carrying N
  // upstream snapshots applies as ONE folded mirror commit under a
  // `cdc:a-b:range` note, latest-wins per key across the range (a
  // key's final state is its last touching snapshot's state — insert
  // there → upsert that row, delete-only there → pure delete).
  // Exactly-once rides the same note ledger, INCLUDING the crash
  // window the 1:1 flow never sees: the gate deletes the applied-
  // snapshot watermark after the folded commit (simulating a crash
  // between the range commit and the watermark write) and replays
  // the whole batch — the replay must see its own range note and
  // NO-OP in the coalesced path (the mode-flip fallback keys on
  // individual marks only; re-applying per snapshot would regress
  // keys mid-loop). Oracle-hard-coded: n_commits = 1 (three upstream
  // snapshots, one mirror commit), first_apply = 1, replay_applies =
  // 0, mirror == upstream exactly.
  def streamCdcCoalesce(s: SparkSession, dir: String): DataFrame = {
    val up = tmp("graft_cdcco_up_")
    val mir = tmp("graft_cdcco_mir_")
    val ev = t(s, dir, "events")
      .filter(col("user_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    // same upstream lifecycle as stream_cdc_apply: append evens, two
    // atomic merge-with-deletes
    LakeTable.commit(s, up, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.merge(s, up, "event_id",
      ev.filter(col("event_id") % 2 === 0 && col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0),
      cfg, Seq("event_id"),
      extraDeleteKeys = Some(LakeTable.read(s, up)
        .filter(col("event_type") === "click").select(col("event_id"))))
    LakeTable.merge(s, up, "event_id",
      ev.filter(col("event_id") % 2 === 1 && col("event_id") % 10 === 1)
        .withColumn("value", col("value") + 2000.0),
      cfg, Seq("event_id"),
      extraDeleteKeys = Some(LakeTable.read(s, up)
        .filter(col("event_type") === "view").select(col("event_id"))))
    val batch = LakeTable.changelogRead(s, up, 0, 3)
    val first = graft.streaming.CdcApply.applyBatch(s, mir, batch,
      "event_id", cfg, Seq("event_id"), coalesce = true)
    // the crash window: range commit durable, watermark write lost
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(mir, "meta", "_cdc_watermark.json")): Unit
    val replay = graft.streaming.CdcApply.applyBatch(s, mir, batch,
      "event_id", cfg, Seq("event_id"), coalesce = true)
    val upF = LakeTable.read(s, up)
    val mirF = LakeTable.read(s, mir)
      .select(upF.columns.map(col).toIndexedSeq: _*).persist()
    // one-shuffle signed multiset compare (see stream_cdc_apply)
    val rowCols = upF.columns.toIndexedSeq.map(col)
    val diff = upF.withColumn("_s", lit(1L))
      .unionByName(mirF.withColumn("_s", lit(-1L)))
      .groupBy(rowCols: _*).agg(sum(col("_s")).as("_d"))
      .filter(col("_d") =!= 0L).count()
    val out = mirF.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .withColumn("mirror_exact", lit(diff == 0L))
      .withColumn("n_commits", lit(LakeTable.currentSnapshot(mir).toLong))
      .withColumn("first_apply", lit(first.toLong))
      .withColumn("replay_applies", lit(replay.toLong))
      .orderBy(col("event_type"))
      .collect()
    mirF.unpersist()
    import s.implicits._
    out.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toDF("event_type", "n", "sum_value_x100", "mirror_exact",
        "n_commits", "first_apply", "replay_applies")
      .orderBy(col("event_type"))
  }

  val streamCdcCoalesceSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, value FROM events WHERE user_id % 2 = 0),
      |base AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value
      |  FROM ev
      |  WHERE event_id % 2 = 0
      |    AND (event_type <> 'click' OR event_id % 10 = 0)
      |    AND event_type <> 'view'),
      |ups AS (
      |  SELECT event_type, value + 2000 AS value FROM ev
      |  WHERE event_id % 2 = 1 AND event_id % 10 = 1),
      |final AS (SELECT * FROM base UNION ALL SELECT * FROM ups)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  true AS mirror_exact, CAST(1 AS BIGINT) AS n_commits,
      |  CAST(1 AS BIGINT) AS first_apply, CAST(0 AS BIGINT) AS replay_applies
      |FROM final
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_automaint: AUTO-MAINTENANCE policies — unattended
  // small-file + metadata hygiene (the guardrail the reference's
  // 60 s flush cadence needs, main.go:75): TBLPROPERTIES
  // `graft.autocompact.files` / `graft.automanifest.parts` /
  // `graft.autoexpire.keep` fire POST-COMMIT, best-effort, CAS-safe
  // (the compaction rewrite carries basis = head, so a racing append
  // wins and the attempt abandons; retention never commits). Eight
  // small appends land with NO manual CALLs; the policies must keep
  // the live-file count, the manifest part chain AND the snapshot
  // history bounded while content stays exactly the union of the
  // appends; a TAG-pinned early snapshot must survive retention
  // (readable, manifest on disk) while its untagged peers are
  // reclaimed — the oracle checks content AND every bounded-ness /
  // retention flag.
  def lakeAutomaint(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.AutoMaintain
    val root = tmp("graft_automq_")
    AutoMaintain.setPolicy(root, AutoMaintain.AutoCompactKey, 6L)
    AutoMaintain.setPolicy(root, AutoMaintain.AutoManifestKey, 3L)
    AutoMaintain.setPolicy(root, AutoMaintain.AutoParallelismKey, 2L)
    AutoMaintain.setPolicy(root, AutoMaintain.AutoExpireKey, 4L)
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "event_id",
      maxRecordsPerFile = 1 << 20, parallelism = Some(2))
    var tagSnap = 0
    (0 until 8).foreach { i =>
      LakeTable.commit(s, root, ev.filter(col("event_id") % 8 === i), cfg,
        Seq("event_id"))
      // pin the state after the SECOND append: retention must carry
      // this snapshot (and its files) forever while expiring its
      // untagged contemporaries
      if (i == 1) {
        tagSnap = LakeTable.currentSnapshot(root)
        LakeTable.tag(root, "pin", tagSnap)
      }
    }
    val head = LakeTable.currentSnapshot(root)
    val files = LakeTable.manifest(root, head).files.size
    val parts = LakeTable.partCount(root, head)
    val (nCompact, nManifest) = AutoMaintain.firedCounts(root)
    def manifestOnDisk(i: Int) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "meta", s"manifest-$i.json"))
    // retention flags: history bounded to keep + the pin, snapshot 1
    // (untagged, pre-pin) reclaimed, the pinned snapshot readable
    // with exactly its commit-time content
    val survivors = (1 to head).count(manifestOnDisk)
    val tagCnt = LakeTable.read(s, root, Some(tagSnap)).count()
    val expectTag = ev.filter(col("event_id") % 8 <= 1).count()
    LakeTable.read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .withColumn("files_bounded", lit(files <= 8))
      .withColumn("parts_bounded", lit(parts <= 3))
      .withColumn("auto_fired", lit(nCompact >= 1 && nManifest >= 1))
      .withColumn("history_bounded", lit(survivors <= 5))
      .withColumn("expired_gone", lit(!manifestOnDisk(1)))
      .withColumn("tag_survives",
        lit(manifestOnDisk(tagSnap) && tagCnt == expectTag))
      .orderBy(col("event_type"))
  }

  val lakeAutomaintSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  true AS files_bounded, true AS parts_bounded, true AS auto_fired,
      |  true AS history_bounded, true AS expired_gone, true AS tag_survives
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_format_write: the registered WRITE front door —
  // `df.write.format("graft-lake")` with append and overwrite modes
  // (V1Write bridge onto the staged-commit OCC path: executors write
  // the files, the driver commits the manifest). Two appends build
  // the full table; an overwrite then replaces it with the hot subset
  // as ONE atomic rewrite snapshot, and time travel by option still
  // reads the pre-overwrite generation — the oracle recomputes both
  // views from the source table.
  def lakeFormatWrite(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_fmtw_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    def write(df: DataFrame, mode: String): Unit =
      df.write.format("graft-lake")
        .option("partitionCol", "user_id").option("keyCol", "ts")
        .option("stats", "event_id,user_id,event_type")
        .mode(mode).save(root)
    write(ev.filter(col("event_id") % 2 === 0), "append")
    write(ev.filter(col("event_id") % 2 === 1), "append")
    write(ev.filter(col("value") > 100), "overwrite")
    val full = s.read.format("graft-lake").option("snapshot", "2").load(root)
      .withColumn("gen", lit("full"))
    val hot = s.read.format("graft-lake").load(root)
      .withColumn("gen", lit("hot"))
    full.unionByName(hot)
      .groupBy(col("gen"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("gen"), col("event_type"))
  }

  val lakeFormatWriteSql: String =
    """WITH u AS (
      |  SELECT 'full' AS gen, event_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT 'hot' AS gen, event_id, event_type, value FROM events WHERE value > 100)
      |SELECT gen, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY gen, event_type
      |ORDER BY gen, event_type""".stripMargin

  // --- q_sql_lake: lake tables NAMEABLE IN SQL through the
  // TableCatalog (GraftCatalog): CTAS creates + seeds the table,
  // INSERT INTO commits through Spark's column alignment + the OCC
  // path, VERSION AS OF time-travels by name. Snapshot 1 must see
  // only the CTAS generation, the head both — the same isolation
  // contract as snapshot_read, now proven through the SQL front door.
  def qSqlLake(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    // unique per invocation: the catalog root is JVM-stable, so a
    // rerun in the same session must not collide with its past self
    val tbl = s"graft.q.ev_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sql_lake")
    s.sql(s"""CREATE TABLE $tbl AS
             |SELECT event_id, user_id, event_type, value
             |FROM ev_sql_lake WHERE event_id % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $tbl
             |SELECT event_id, user_id, event_type, value
             |FROM ev_sql_lake WHERE event_id % 2 = 1""".stripMargin)
    s.sql(s"""SELECT snap, event_type, n, sum_value_x100, min_id, max_id FROM (
             |  SELECT CAST(1 AS BIGINT) AS snap, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |    MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |  FROM $tbl VERSION AS OF 1 GROUP BY event_type
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT) AS snap, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |    MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |  FROM $tbl GROUP BY event_type)
             |ORDER BY snap, event_type""".stripMargin)
  }

  val qSqlLakeSql: String =
    """WITH u AS (
      |  SELECT CAST(1 AS BIGINT) AS snap, event_id, event_type, value
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS snap, event_id, event_type, value FROM events)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- q_sql_call: the whole OPERATIONAL LIFECYCLE through SQL CALL
  // procedures (ProcedureCatalog): CTAS → CALL tag → INSERT → DELETE
  // (position-delta MoR) → CALL fold_deletes (mask-fold equivalence:
  // content must not move) → CALL rollback (head returns to the
  // tagged cut). The result reads the pre-rollback head (snapshot 4)
  // next to the post-rollback head — proving the fold preserved the
  // delete semantics exactly and the rollback restored generation 1,
  // all driven by name from SQL. The oracle replays both views.
  def qSqlCall(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val nm = s"ev_${System.nanoTime()}"
    val tbl = s"graft.q.$nm"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sql_call")
    s.sql(s"""CREATE TABLE $tbl AS
             |SELECT event_id, user_id, event_type, value
             |FROM ev_sql_call WHERE event_id % 2 = 0""".stripMargin)
    s.sql(s"CALL graft.system.tag('q.$nm', 'v1', 1)")
    s.sql(s"""INSERT INTO $tbl
             |SELECT event_id, user_id, event_type, value
             |FROM ev_sql_call WHERE event_id % 2 = 1""".stripMargin)
    s.sql(s"DELETE FROM $tbl WHERE event_id % 10 = 0")
    s.sql(s"CALL graft.system.fold_deletes('q.$nm')")
    s.sql(s"CALL graft.system.rollback('q.$nm', 1)")
    s.sql(s"""SELECT snap, event_type, n, sum_value_x100 FROM (
             |  SELECT CAST(4 AS BIGINT) AS snap, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
             |  FROM $tbl VERSION AS OF 4 GROUP BY event_type
             |  UNION ALL
             |  SELECT CAST(5 AS BIGINT) AS snap, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
             |  FROM $tbl GROUP BY event_type)
             |ORDER BY snap, event_type""".stripMargin)
  }

  val qSqlCallSql: String =
    """WITH u AS (
      |  SELECT CAST(4 AS BIGINT) AS snap, event_type, value
      |  FROM events WHERE event_id % 10 <> 0
      |  UNION ALL
      |  SELECT CAST(5 AS BIGINT) AS snap, event_type, value
      |  FROM events WHERE event_id % 2 = 0)
      |SELECT snap, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM u
      |GROUP BY snap, event_type
      |ORDER BY snap, event_type""".stripMargin

  // --- q_sql_analyze: the ANALYZE verb — `CALL graft.system
  // .analyze(t)` computes PER-FILE column sketches (exact null/length
  // accounting, 256-codepoint min/max, a 65536-bucket linear-counting
  // NDV bitmap over the engine's md5-derived hash) in ONE distributed
  // melt job over files not yet sketched, persists them as the
  // `_colstats.json` sidecar, and `t.stats` serves the merged profile
  // with ZERO data IO. Profiling becomes a CATALOG FACT: re-analyze
  // after an append costs the append (file sketches are immutable and
  // mergeable — LakeSpec pins the incremental law), scans serve CBO
  // column stats merged over the PRUNED file set, and the 100 TB
  // workflow is analyze-once/probe-many instead of a profile scan per
  // question. The table lands in TWO commits so the sidecar provably
  // merges across file generations; `n_occupied` (exact bitmap
  // occupancy) is the cross-engine-replayable core — DuckDB replays
  // it as COUNT(DISTINCT md5-hash % 65536). The width (vs the old
  // 1024) keeps the estimator in its linear regime to several hundred
  // thousand distincts per file; past that `t.stats` reports
  // ndv_saturated = true and the estimate is an explicit floor.
  def qSqlAnalyze(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val nm = s"an_${System.nanoTime()}"
    val tbl = s"graft.q.$nm"
    t(s, dir, "documents").createOrReplaceTempView("docs_analyze")
    s.sql(s"""CREATE TABLE $tbl AS
             |SELECT doc_id, text, lang, source, n_chars
             |FROM docs_analyze WHERE doc_id % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $tbl
             |SELECT doc_id, text, lang, source, n_chars
             |FROM docs_analyze WHERE doc_id % 2 = 1""".stripMargin)
    s.sql(s"CALL graft.system.analyze('q.$nm')")
    s.sql(s"""SELECT col, n_rows, n_null, n_occupied, min_v, max_v, avg_len
             |FROM $tbl.stats ORDER BY col""".stripMargin)
  }

  val qSqlAnalyzeSql: String = {
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    cols.map(c =>
      s"""SELECT '$c' AS col, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT(v) AS n_null,
         |  COUNT(DISTINCT ('0x'||substr(md5(v),1,15))::BIGINT % 65536) AS n_occupied,
         |  substr(MIN(v), 1, 256) AS min_v, substr(MAX(v), 1, 256) AS max_v,
         |  CAST(SUM(len(v)) // COUNT(v) AS BIGINT) AS avg_len
         |FROM (SELECT CAST($c AS VARCHAR) AS v FROM documents)""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col")
  }

  // --- q_sql_update: SQL UPDATE on a lake table — the DSv2
  // POSITION-DELTA row-level path (SupportsRowLevelOperations +
  // SupportsDelta): the scan emits each candidate row's
  // (_graft_file_path, _graft_row_idx) metadata columns as the row
  // id, executors stage the updated rows as new data files and the
  // old coordinates as a positional-delete payload, and ONE atomic
  // merge-on-read commit binds both — no data file is rewritten, so
  // an UPDATE touching 0.01% of 100 TB costs 0.01%. The predicate
  // here (event_id % 3) is deliberately NOT v1-Filter-translatable,
  // so the metadata-only SupportsDelete shortcut cannot serve it.
  def qSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.upd_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sql_update")
    s.sql(s"CREATE TABLE $tbl AS SELECT * FROM ev_sql_update")
    s.sql(s"""UPDATE $tbl SET value = value + 1000
             |WHERE event_type = 'click' AND event_id % 3 = 0""".stripMargin)
    s.sql(s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val qSqlUpdateSql: String =
    """WITH u AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_type = 'click' AND event_id % 3 = 0
      |         THEN value + 1000 ELSE value END AS value
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_sql_merge: SQL MERGE INTO on a lake table — all three
  // clause kinds through the same position-delta write (matched
  // DELETE, matched UPDATE referencing source columns, NOT MATCHED
  // INSERT *), landing as ONE atomic snapshot. Target = even events,
  // source = every third event: the overlap exercises matched rows,
  // the odd thirds the inserts; the oracle replays the merge
  // algebra with a left join.
  def qSqlMerge(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.mrg_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sql_merge")
    s.sql(s"CREATE TABLE $tbl AS SELECT * FROM ev_sql_merge WHERE event_id % 2 = 0")
    s.sql(s"""MERGE INTO $tbl AS tgt
             |USING (SELECT * FROM ev_sql_merge WHERE event_id % 3 = 0) AS src
             |ON tgt.event_id = src.event_id
             |WHEN MATCHED AND tgt.event_type = 'view' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET value = src.value * 2
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val qSqlMergeSql: String =
    """WITH tgt AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
      |src AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0),
      |merged AS (
      |  SELECT t.event_id,
      |         t.event_type,
      |         CASE WHEN s.event_id IS NOT NULL THEN s.value * 2
      |              ELSE t.value END AS value
      |  FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
      |  WHERE NOT (s.event_id IS NOT NULL AND t.event_type = 'view')
      |  UNION ALL
      |  SELECT s.event_id, s.event_type, s.value
      |  FROM src s LEFT JOIN tgt t ON s.event_id = t.event_id
      |  WHERE t.event_id IS NULL)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM merged
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_sql_merge_evolve: `MERGE … WITH SCHEMA EVOLUTION` — a
  // source carrying a column the target lacks auto-ADDs it (Spark 4's
  // public clause; the analyzer routes the addition through
  // GraftCatalog.alterTable as the same METADATA-ONLY additive
  // evolution ADD COLUMNS takes, gated on the table's
  // AUTOMATIC_SCHEMA_EVOLUTION capability) and the merge then runs as
  // the usual position-delta commit. Pre-merge rows that no clause
  // touches serve NULL for the new column (additive-evolution
  // null-fill); matched/inserted rows carry the source's values.
  def qSqlMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.mrge_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sql_mergee")
    s.sql(s"CREATE TABLE $tbl AS SELECT event_id, event_type, value " +
      "FROM ev_sql_mergee WHERE event_id % 2 = 0")
    s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl AS tgt
             |USING (SELECT event_id, event_type, value,
             |         CONCAT('o', CAST(event_id % 4 AS STRING)) AS origin
             |       FROM ev_sql_mergee WHERE event_id % 3 = 0) AS src
             |ON tgt.event_id = src.event_id
             |WHEN MATCHED THEN UPDATE SET value = src.value * 2, origin = src.origin
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(s"""SELECT COALESCE(origin, 'none') AS origin, event_type,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val qSqlMergeEvolveSql: String =
    """WITH tgt AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
      |src AS (
      |  SELECT event_id, event_type, value,
      |    'o' || CAST(event_id % 4 AS VARCHAR) AS origin
      |  FROM events WHERE event_id % 3 = 0),
      |merged AS (
      |  SELECT t.event_id, t.event_type,
      |    CASE WHEN s.event_id IS NOT NULL THEN s.value * 2 ELSE t.value END AS value,
      |    CASE WHEN s.event_id IS NOT NULL THEN s.origin ELSE NULL END AS origin
      |  FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
      |  UNION ALL
      |  SELECT s.event_id, s.event_type, s.value, s.origin
      |  FROM src s LEFT JOIN tgt t ON s.event_id = t.event_id
      |  WHERE t.event_id IS NULL)
      |SELECT COALESCE(origin, 'none') AS origin, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM merged
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- q_sql_merge_nmbs: MERGE with the fourth clause family —
  // `WHEN NOT MATCHED BY SOURCE` (Spark 3.4+'s completion of the
  // ANSI MERGE matrix). Target rows with no source partner can be
  // DELETEd or UPDATEd in the same atomic position-delta commit as
  // the classic three clauses; the rewrite still touches only the
  // affected rows' coordinates, never the table. The oracle replays
  // the four-way algebra relationally.
  def qSqlMergeNmbs(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.mrgn_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_sql_mergen")
    s.sql(s"CREATE TABLE $tbl AS SELECT event_id, event_type, value FROM ev_sql_mergen WHERE event_id % 2 = 0")
    s.sql(s"""MERGE INTO $tbl AS tgt
             |USING (SELECT event_id, event_type, value FROM ev_sql_mergen
             |       WHERE event_id % 3 = 0) AS src
             |ON tgt.event_id = src.event_id
             |WHEN MATCHED THEN UPDATE SET value = src.value * 2
             |WHEN NOT MATCHED THEN INSERT *
             |WHEN NOT MATCHED BY SOURCE AND tgt.event_type = 'error' THEN DELETE
             |WHEN NOT MATCHED BY SOURCE AND tgt.event_type = 'view'
             |  THEN UPDATE SET value = 0""".stripMargin)
    s.sql(s"""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |FROM $tbl GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val qSqlMergeNmbsSql: String =
    """WITH tgt AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
      |src AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0),
      |merged AS (
      |  SELECT event_id, event_type,
      |         CASE WHEN event_id % 3 = 0 THEN value * 2
      |              WHEN event_type = 'view' THEN 0
      |              ELSE value END AS value
      |  FROM tgt
      |  WHERE NOT (event_id % 3 <> 0 AND event_type = 'error')
      |  UNION ALL
      |  SELECT event_id, event_type, value
      |  FROM src WHERE event_id % 2 <> 0)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM merged
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- prune_scan_days: DECLARED TEMPORAL LAYOUT — `PARTITIONED BY
  // (days(ts))` in DDL makes every append range-cluster on the raw
  // timestamp, so per-file ts extents come out disjoint and tight and
  // a time-window predicate prunes files via manifest stats — the
  // Iceberg event-table layout, with the layout as table METADATA
  // (declared once) rather than per-query writer discipline.
  // DsV2Spec pins the file-skip ratio; this query gates the RESULT.
  def pruneScanDays(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.psd_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_psd")
    s.sql(s"CREATE TABLE $tbl PARTITIONED BY (days(ts)) AS SELECT * FROM ev_psd")
    val b = s.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                    |       min(ts) + INTERVAL 4 DAYS AS hi FROM ev_psd""".stripMargin)
      .collect()(0)
    s.table(tbl)
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .orderBy(col("event_type"))
  }

  val pruneScanDaysSql: String =
    """WITH b AS (SELECT MIN(ts) + INTERVAL 2 DAY AS lo,
      |                  MIN(ts) + INTERVAL 4 DAY AS hi FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM events, b
      |WHERE ts >= b.lo AND ts < b.hi
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_layout_evolve: PARTITION-SPEC EVOLUTION — `CALL
  // graft.system.set_layout(t, 'days(ts)')` replaces the declared
  // write layout, METADATA-ONLY and O(1) at any table size. The
  // design makes evolution nearly free: pruning here is per-file
  // min/max stats on the RAW column, never partition values baked
  // into paths — so old files (written identity-clustered on
  // user_id) keep their extents and their pruning behavior, new
  // appends range-cluster on days(ts) and prune tightly under
  // time-range predicates, and ONE scan serves both generations with
  // no rewrite, no dual-path reader, no migration job. Iceberg's
  // hidden-partitioning evolution contract; the honest cost (old
  // files don't time-prune until rewritten) is pinned in DsV2Spec.
  def lakeLayoutEvolve(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val short = s"q.ple_${System.nanoTime()}"
    val tbl = s"graft.$short"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_ple")
    s.sql(s"""CREATE TABLE $tbl PARTITIONED BY (user_id)
             |AS SELECT * FROM ev_ple WHERE event_id % 2 = 0""".stripMargin)
    val changed = s.sql(s"CALL graft.system.set_layout('$short', 'days(ts)')")
      .collect()(0).getBoolean(0)
    s.sql(s"INSERT INTO $tbl SELECT * FROM ev_ple WHERE event_id % 2 = 1")
    val b = s.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                    |       min(ts) + INTERVAL 4 DAYS AS hi FROM ev_ple""".stripMargin)
      .collect()(0)
    s.table(tbl)
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"))
      .withColumn("layout_evolved", lit(changed))
      .orderBy(col("event_type"))
  }

  val lakeLayoutEvolveSql: String =
    """WITH b AS (SELECT MIN(ts) + INTERVAL 2 DAY AS lo,
      |                  MIN(ts) + INTERVAL 4 DAY AS hi FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  true AS layout_evolved
      |FROM events, b
      |WHERE ts >= b.lo AND ts < b.hi
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_meta_tables: FILE + PARTITION INVENTORY AS TABLES —
  // Iceberg's `files` / `partitions` metadata tables: `SELECT …
  // FROM t.files` serves one row per live data file straight from
  // the manifest (path, rows, bytes, seq, bucket, per-file NDV when
  // analyzed) and `t.partitions` the per-bucket rollup — the
  // health/skew view an operator checks before trusting a
  // storage-partitioned plan. Both are MANIFEST-only: zero data-file
  // IO at any table size, which is the whole point — inspecting a
  // 100 TB table's layout must not cost a 100 TB scan. The fixture
  // bucket(8)-partitions two appends; the gate pins per-generation
  // BUCKET COVERAGE (each commit lands files in all 8 buckets),
  // per-bucket file-count balance (a flag — raw counts are
  // task-size-dependent), and row conservation, all replayable
  // without knowing Spark's hash.
  def lakeMetaTables(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val tbl = s"graft.q.meta_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_meta")
    s.sql(s"""CREATE TABLE $tbl PARTITIONED BY (bucket(8, user_id))
             |AS SELECT * FROM ev_meta WHERE event_id % 2 = 0""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT * FROM ev_meta WHERE event_id % 2 = 1")
    val files = s.sql(s"""SELECT CONCAT('files_seq', seq) AS metric,
                         |  COUNT(DISTINCT bucket) AS a, CAST(SUM(rows) AS BIGINT) AS b
                         |FROM $tbl.files GROUP BY seq""".stripMargin)
    val parts = s.sql(s"""SELECT 'parts_total' AS metric,
                         |  COUNT(*) AS a, CAST(SUM(n_rows) AS BIGINT) AS b
                         |FROM $tbl.partitions
                         |UNION ALL
                         |SELECT 'parts_balance' AS metric,
                         |  CAST(MIN(n_files) = MAX(n_files) AS BIGINT) AS a,
                         |  COUNT(*) AS b
                         |FROM $tbl.partitions""".stripMargin)
    files.unionByName(parts).orderBy(col("metric"))
  }

  val lakeMetaTablesSql: String =
    """WITH c AS (
      |  SELECT COUNT(*) FILTER (event_id % 2 = 0) AS even,
      |         COUNT(*) FILTER (event_id % 2 = 1) AS odd
      |  FROM events)
      |SELECT 'files_seq1' AS metric, CAST(8 AS BIGINT) AS a, even AS b FROM c
      |UNION ALL
      |SELECT 'files_seq2', CAST(8 AS BIGINT), odd FROM c
      |UNION ALL
      |SELECT 'parts_total', CAST(8 AS BIGINT), even + odd FROM c
      |UNION ALL
      |SELECT 'parts_balance', CAST(1 AS BIGINT), CAST(8 AS BIGINT) FROM c
      |ORDER BY metric""".stripMargin

  // --- q_spj: STORAGE-PARTITIONED JOIN — two lake tables co-bucketed
  // on the join key (the manifest records each file's hash bucket and
  // the layout spec at commit time; the scan reports
  // KeyGroupedPartitioning(bucket(n, key)) and the catalog serves the
  // bucket function) join with ZERO shuffles on either side. At
  // 100 TB this is the fact-fact join path: no exchange, no spill —
  // the write-time clustering is the shuffle, paid once. The spec
  // (RowLevelSpec) pins the shuffle-free plan and its negative
  // control; this query gates the RESULT against the oracle.
  def qSpj(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val lt = s"graft.q.spjl_${System.nanoTime()}"
    val rt = s"graft.q.spjr_${System.nanoTime()}"
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_spj")
    s.sql(s"CREATE TABLE $lt AS SELECT user_id, event_id, event_type, value FROM ev_spj")
    s.sql(s"""CREATE TABLE $rt AS
             |SELECT user_id, CAST(user_id % 7 AS BIGINT) AS segment
             |FROM (SELECT DISTINCT user_id FROM ev_spj)""".stripMargin)
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.getOption(k))
    val out = tmp("graft_spj_out_")
    try {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // materialized under the SPJ confs (a lazily-returned plan
      // would re-plan under restored confs)
      s.sql(s"""SELECT r.segment, l.event_type, COUNT(*) AS n,
               |  CAST(SUM(CAST(FLOOR(l.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
               |FROM $lt l JOIN $rt r ON l.user_id = r.user_id
               |GROUP BY r.segment, l.event_type""".stripMargin)
        .write.mode("overwrite").parquet(out)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    s.read.parquet(out).orderBy(col("segment"), col("event_type"))
  }

  val qSpjSql: String =
    """SELECT CAST(user_id % 7 AS BIGINT) AS segment, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- lake_avro: AVRO DATA FILES on the lake's data plane — the
  // reference's actual storage format (partitioned snappy Avro
  // container files, main.go:47-54), under the SAME manifest/OCC
  // machinery as the parquet plane. Three range-clustered appends
  // (event_id thirds → tight per-file stats), then an EQUALITY delete
  // (value-mask downstream of the decode — format-agnostic), read
  // back four ways: the post-delete head, the pre-delete snapshot
  // (time travel), the first append alone (snapshot isolation), and
  // a stats-PRUNED range probe (manifest min/max over the in-stream
  // writer-reported stats bound IO before any decode). The oracle
  // replays every generation relationally from events.
  def lakeAvro(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_avro_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    (0 to 2).foreach { i =>
      LakeTable.appendAvro(s, root,
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .repartitionByRange(4, col("event_id")),
        statCols = Seq("event_id", "event_type"))
    }
    LakeTable.deleteWhere(s, root, "event_type",
      s.range(1).select(lit("error").as("event_type")))
    val head = LakeTable.read(s, root).withColumn("gen", lit("head"))
    val snap3 = LakeTable.read(s, root, Some(3)).withColumn("gen", lit("snap3"))
    val snap1 = LakeTable.read(s, root, Some(1)).withColumn("gen", lit("snap1"))
    val (pruned, _, _) =
      LakeTable.prunedRead(s, root, Map("event_id" -> (1000L, 1999L)))
    head.unionByName(snap3).unionByName(snap1)
      .unionByName(pruned.withColumn("gen", lit("pruned")))
      .groupBy(col("gen"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("gen"), col("event_type"))
  }

  val lakeAvroSql: String =
    """WITH u AS (
      |  SELECT 'head' AS gen, event_id, event_type, value FROM events
      |    WHERE event_type <> 'error'
      |  UNION ALL
      |  SELECT 'pruned' AS gen, event_id, event_type, value FROM events
      |    WHERE event_type <> 'error' AND event_id BETWEEN 1000 AND 1999
      |  UNION ALL
      |  SELECT 'snap1' AS gen, event_id, event_type, value FROM events
      |    WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT 'snap3' AS gen, event_id, event_type, value FROM events)
      |SELECT gen, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY gen, event_type
      |ORDER BY gen, event_type""".stripMargin

  // --- lake_avro_evolve: ADDITIVE schema evolution on the avro data
  // plane — the evolution Avro's own reader-schema resolution makes
  // native (and the one the reference's versioned Location schema
  // hits in real deployments, main.go:20-42): `ADD COLUMN <nullable>`
  // is a METADATA-ONLY commit; containers written BEFORE the column
  // existed null-fill it BY NAME at decode (never by index — field
  // order is irrelevant), and the writer schema advances at the next
  // append so new containers carry the column physically. Everything
  // non-additive (rename/drop/retype, non-nullable adds) stays
  // rejected at every evolution verb. The oracle replays the mixed
  // old/new-container read: COUNT(score) counts exactly the
  // evolved-append rows, proving old rows serve genuine NULLs.
  def lakeAvroEvolve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = tmp("graft_avev_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    LakeTable.appendAvro(s, root, ev.filter(col("event_id") % 2 === 0),
      statCols = Seq("event_id", "event_type"))
    LakeTable.evolveSchema(root, StructType(
      LakeTable.storedSchemaOf(root).get.fields :+
        StructField("score", LongType, nullable = true)))
    LakeTable.appendAvro(s, root,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("score", col("event_id") % 97),
      statCols = Seq("event_id", "event_type"))
    LakeTable.read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("score")).as("n_scored"),
        sum(col("score")).cast("bigint").as("score_sum"),
        sumValX100.as("sum_value_x100"))
      .orderBy(col("event_type"))
  }

  val lakeAvroEvolveSql: String =
    """WITH u AS (
      |  SELECT event_type, value,
      |    CASE WHEN event_id % 2 = 1 THEN event_id % 97 END AS score
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n, COUNT(score) AS n_scored,
      |  CAST(SUM(score) AS BIGINT) AS score_sum,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100
      |FROM u
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- stream_avro: the REFERENCE PIPELINE VERBATIM, data plane
  // included — a file stream drained as partitioned SNAPPY AVRO
  // container files under the manifest (main.go:62-115 is exactly
  // this: file stream → BlockManager → snappy Avro blocks on a
  // MaxAge cadence), one atomic appendAvro commit per micro-batch,
  // idempotent by batch id. n_commits = 3 pins the per-batch commit
  // cadence and exactly-once delivery; the oracle replays the fully
  // drained corpus.
  def streamAvro(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_sav_")
    val staged = tmp("graft_sav_in_")
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .repartition(3).write.mode("overwrite").parquet(staged)
    val n = graft.streaming.LakeStream.runOnceToAvroLake(s, staged, root,
      Seq("event_id", "user_id"))
    LakeTable.read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("n_commits", lit(n.toLong))
      .orderBy(col("event_type"))
  }

  val streamAvroSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(3 AS BIGINT) AS n_commits
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- lake_avro_migrate: FORMAT MIGRATION as a maintenance rewrite
  // (Iceberg's "migrate data files" shape): an avro-ingested table is
  // rewritten to parquet in ONE basis-validated CoW commit — content
  // provably identical across the boundary, pre-migration snapshots
  // still read their avro files (time travel is format-stable), and
  // the migration UNLOCKS the parquet-only row-level machinery: the
  // positional delete that the avro plane rejects works on the
  // migrated head. This is the operational answer to the avro plane's
  // append-only scope — ingest in the reference's format, migrate to
  // the analytics format when row-level ops are needed.
  def lakeAvroMigrate(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_avmig_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.appendAvro(s, root, ev.filter(col("event_id") % 2 === 0),
      Seq("event_id"))
    LakeTable.appendAvro(s, root, ev.filter(col("event_id") % 2 === 1),
      Seq("event_id"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    // the migration: one CoW rewrite of the current view to parquet
    LakeTable.rewrite(s, root, LakeTable.read(s, root), cfg, Seq("event_id"),
      basis = Some(2), note = "migrate-avro-parquet")
    // parquet-only capability unlocked: positional delete by predicate
    val coords = LakeTable.withRowCoords(s, root)
      .filter(col("event_id") % 10 === 4)
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    LakeTable.deletePositions(s, root, coords)
    val avro = LakeTable.read(s, root, Some(2)).withColumn("gen", lit("avro"))
    val pq = LakeTable.read(s, root, Some(3)).withColumn("gen", lit("parquet"))
    val head = LakeTable.read(s, root).withColumn("gen", lit("head"))
    avro.unionByName(pq).unionByName(head)
      .groupBy(col("gen"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("gen"), col("event_type"))
  }

  val lakeAvroMigrateSql: String =
    """WITH u AS (
      |  SELECT 'avro' AS gen, event_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT 'parquet' AS gen, event_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT 'head' AS gen, event_id, event_type, value FROM events
      |    WHERE event_id % 10 <> 4)
      |SELECT gen, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY gen, event_type
      |ORDER BY gen, event_type""".stripMargin

  // --- lake_avro_compact: AVRO-PRESERVING small-file compaction —
  // the canonical maintenance verb for the reference's write cadence
  // (MaxAge=60 s flushes one small block per minute, main.go:75-77;
  // a day is ~1.4k tiny containers): fold the accumulated files into
  // a few consolidated snappy containers in ONE basis-validated
  // replace commit, KEEPING the avro data plane (an ingest-side
  // table keeps its format; lake_avro_migrate is the verb that
  // changes it). Delete debt folds in; pre-compaction snapshots keep
  // reading the original small files. The gated output pins the
  // post-compaction file count (2) alongside view equality across
  // the boundary.
  def lakeAvroCompact(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("graft_avcmp_")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    (0 to 2).foreach { i =>
      LakeTable.appendAvro(s, root,
        ev.filter(pmod(col("event_id"), lit(3)) === i).repartition(6),
        statCols = Seq("event_id"))
    }
    LakeTable.deleteWhere(s, root, "event_type",
      s.range(1).select(lit("error").as("event_type")))
    LakeTable.rewriteAvro(s, root, Seq("event_id"), parts = 2)
    val nFiles = LakeTable.manifest(root, LakeTable.currentSnapshot(root)).files.size
    val pre = LakeTable.read(s, root, Some(3)).withColumn("gen", lit("pre"))
    val head = LakeTable.read(s, root).withColumn("gen", lit("head"))
    pre.unionByName(head)
      .groupBy(col("gen"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValX100.as("sum_value_x100"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .withColumn("n_files_head", lit(nFiles.toLong))
      .orderBy(col("gen"), col("event_type"))
  }

  val lakeAvroCompactSql: String =
    """WITH u AS (
      |  SELECT 'head' AS gen, event_id, event_type, value FROM events
      |    WHERE event_type <> 'error'
      |  UNION ALL
      |  SELECT 'pre' AS gen, event_id, event_type, value FROM events)
      |SELECT gen, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
      |  CAST(2 AS BIGINT) AS n_files_head
      |FROM u
      |GROUP BY gen, event_type
      |ORDER BY gen, event_type""".stripMargin

  // --- lake_avro_sql: the avro plane as a FIRST-CLASS SQL CITIZEN —
  // a table ingested in the reference's own format (partitioned
  // snappy Avro containers, main.go:47-54) reads through the DSv2
  // catalog BY NAME: `SELECT … FROM graft.ns.t`, `VERSION AS OF`
  // time travel, and predicate pushdown all work without migrating
  // to parquet first. The scan format-dispatches per file (parquet →
  // vectorized reader, `.avro` → container decoder with reader-schema
  // projection); the equality-delete mask applies downstream of the
  // decode exactly as on the library path; manifest min/max stats
  // (reported in-stream by the avro write tasks) prune the range
  // probe's file list before any container opens. Three generations
  // gate it: the post-delete head, the pre-delete snapshot, and the
  // pruned range probe — all via spark.sql against the catalog name.
  def lakeAvroSqlQ(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val name = s"av_${System.nanoTime()}"
    val tbl = s"graft.q.$name"
    val root = graft.util.Scratch.root.resolve("sqlcat").resolve("q")
      .resolve(name).toString
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    (0 to 2).foreach { i =>
      LakeTable.appendAvro(s, root,
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .repartitionByRange(4, col("event_id")),
        statCols = Seq("event_id", "event_type"))
    }
    LakeTable.deleteWhere(s, root, "event_type",
      s.range(1).select(lit("error").as("event_type")))
    s.sql(s"""SELECT gen, event_type, n, sum_value_x100, min_id, max_id FROM (
             |  SELECT 'head' AS gen, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |    MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |  FROM $tbl GROUP BY event_type
             |  UNION ALL
             |  SELECT 'snap3' AS gen, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |    MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |  FROM $tbl VERSION AS OF 3 GROUP BY event_type
             |  UNION ALL
             |  SELECT 'pruned' AS gen, event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
             |    MIN(event_id) AS min_id, MAX(event_id) AS max_id
             |  FROM $tbl WHERE event_id BETWEEN 1000 AND 1999 GROUP BY event_type)
             |ORDER BY gen, event_type""".stripMargin)
  }

  val lakeAvroSqlQSql: String =
    """WITH u AS (
      |  SELECT 'head' AS gen, event_id, event_type, value FROM events
      |    WHERE event_type <> 'error'
      |  UNION ALL
      |  SELECT 'pruned' AS gen, event_id, event_type, value FROM events
      |    WHERE event_type <> 'error' AND event_id BETWEEN 1000 AND 1999
      |  UNION ALL
      |  SELECT 'snap3' AS gen, event_id, event_type, value FROM events)
      |SELECT gen, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_x100,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM u
      |GROUP BY gen, event_type
      |ORDER BY gen, event_type""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_avro_sql" -> lakeAvroSqlQ,
    "lake_avro" -> lakeAvro,
    "lake_avro_evolve" -> lakeAvroEvolve,
    "stream_avro" -> streamAvro,
    "lake_avro_migrate" -> lakeAvroMigrate,
    "lake_avro_compact" -> lakeAvroCompact,
    "stream_lake" -> streamLake,
    "stream_upsert" -> streamUpsert,
    "lake_format_read" -> lakeFormatRead,
    "lake_stream_read" -> lakeStreamRead,
    "lake_cdf_stream" -> lakeCdfStream,
    "stream_cdc_apply" -> streamCdcApply,
    "stream_cdc_coalesce" -> streamCdcCoalesce,
    "lake_layout_evolve" -> lakeLayoutEvolve,
    "lake_meta_tables" -> lakeMetaTables,
    "lake_automaint" -> lakeAutomaint,
    "snapshot_read" -> snapshotRead,
    "prune_scan" -> pruneScan,
    "lake_compact" -> lakeCompact,
    "lake_delete" -> lakeDelete,
    "lake_delete_mor" -> lakeDeleteMor,
    "prune_scan_str" -> pruneScanStr,
    "prune_scan_point" -> pruneScanPoint,
    "lake_evolve" -> lakeEvolve,
    "lake_evolve_rename" -> lakeEvolveRename,
    "lake_evolve_widen" -> lakeEvolveWiden,
    "lake_evolve_default" -> lakeEvolveDefault,
    "lake_history" -> lakeHistory,
    "lake_merge_mor" -> lakeMergeMor,
    "lake_incremental" -> lakeIncremental,
    "lake_cdf" -> lakeCdf,
    "mv_refresh" -> mvRefresh,
    "mv_join_refresh" -> mvJoinRefresh,
    "mv_minmax_refresh" -> mvMinmaxRefresh,
    "mv_minmax_fold" -> mvMinmaxFold,
    "mv_automaint" -> mvAutomaint,
    "q_sql_mv_meta" -> qSqlMvMeta,
    "q_sql_mv_drop" -> qSqlMvDrop,
    "q_sql_mv_expr" -> qSqlMvExpr,
    "stream_mv_expr" -> streamMvExpr,
    "stream_mv_minmax" -> streamMvMinmax,
    "stream_mv_refresh" -> streamMvRefresh,
    "lake_overwrite" -> lakeOverwrite,
    "lake_delete_pos" -> lakeDeletePos,
    "lake_delete_dv" -> lakeDeleteDv,
    "lake_delete_bulk" -> lakeDeleteBulk,
    "lake_rewrite" -> lakeRewrite,
    "lake_rollback" -> lakeRollback,
    "lake_expire" -> lakeExpire,
    "lake_manifest_compact" -> lakeManifestCompact,
    "lake_tag" -> lakeTag,
    "lake_branch" -> lakeBranch,
    "lake_branch_diff" -> lakeBranchDiff,
    "lake_format_write" -> lakeFormatWrite,
    "q_sql_lake" -> qSqlLake,
    "q_sql_call" -> qSqlCall,
    "q_sql_analyze" -> qSqlAnalyze,
    "q_sql_update" -> qSqlUpdate,
    "q_sql_merge" -> qSqlMerge,
    "q_sql_merge_nmbs" -> qSqlMergeNmbs,
    "q_sql_merge_evolve" -> qSqlMergeEvolve,
    "q_props_variant" -> qPropsVariant,
    "prune_scan_z_ddl" -> pruneScanZDdl,
    "prune_scan_trunc" -> pruneScanTrunc,
    "prune_scan_z3" -> pruneScanZ3,
    "q_sql_view" -> qSqlView,
    "q_sql_mv" -> qSqlMv,
    "q_sql_mv_minmax" -> qSqlMvMinmax,
    "q_sql_mv_single" -> qSqlMvSingle,
    "q_sql_mv_distinct" -> qSqlMvDistinct,
    "q_sql_mv_distinct2" -> qSqlMvDistinct2,
    "q_sql_mv_distinct_bm" -> qSqlMvDistinctBm,
    "q_sql_mv_distinct_bm2" -> qSqlMvDistinctBm2,
    "q_sql_mv_distinct_hll" -> qSqlMvDistinctHll,
    "q_sql_mv_hll_expr" -> qSqlMvHllExpr,
    "q_sql_mv_distinct_grain" -> qSqlMvDistinctGrain,
    "q_sql_mv_global" -> qSqlMvGlobal,
    "q_sql_mv_distinct_expr" -> qSqlMvDistinctExpr,
    "q_sql_mv_profile" -> qSqlMvProfile,
    "q_sql_mv_profile_expr" -> qSqlMvProfileExpr,
    "q_sql_mv_rewrite" -> qSqlMvRewrite,
    "q_sql_mv_rewrite_stale" -> qSqlMvRewriteStale,
    "q_sql_mv_rewrite_stale_star" -> qSqlMvRewriteStaleStar,
    "q_sql_mv_rewrite_star" -> qSqlMvRewriteStar,
    "q_sql_mv_star" -> qSqlMvStar,
    "q_sql_mv_star_expr" -> qSqlMvStarExpr,
    "stream_mv_star_expr" -> streamMvStarExpr,
    "stream_mv_distinct" -> streamMvDistinct,
    "stream_mv_bitmap" -> streamMvBitmap,
    "stream_mv_hll" -> streamMvHll,
    "lake_avro_prune" -> lakeAvroPrune,
    "stream_mv_single" -> streamMvSingle,
    "q_sql_rtas" -> qSqlRtas,
    "lake_nested" -> lakeNested,
    "lake_map" -> lakeMap,
    "lake_constraint" -> lakeConstraint,
    "lake_clone" -> lakeClone,
    "prune_scan_days" -> pruneScanDays,
    "q_spj" -> qSpj)

  val oracles: Map[String, String] = Map(
    "lake_avro_sql" -> lakeAvroSqlQSql,
    "lake_avro" -> lakeAvroSql,
    "lake_avro_evolve" -> lakeAvroEvolveSql,
    "stream_avro" -> streamAvroSql,
    "lake_avro_migrate" -> lakeAvroMigrateSql,
    "lake_avro_compact" -> lakeAvroCompactSql,
    "stream_lake" -> streamLakeSql,
    "stream_upsert" -> streamUpsertSql,
    "lake_format_read" -> lakeFormatReadSql,
    "lake_stream_read" -> lakeStreamReadSql,
    "lake_cdf_stream" -> lakeCdfStreamSql,
    "stream_cdc_apply" -> streamCdcApplySql,
    "stream_cdc_coalesce" -> streamCdcCoalesceSql,
    "lake_layout_evolve" -> lakeLayoutEvolveSql,
    "lake_meta_tables" -> lakeMetaTablesSql,
    "lake_automaint" -> lakeAutomaintSql,
    "snapshot_read" -> snapshotReadSql,
    "prune_scan" -> pruneScanSql,
    "lake_compact" -> lakeCompactSql,
    "lake_delete" -> lakeDeleteSql,
    "lake_delete_mor" -> lakeDeleteMorSql,
    "prune_scan_str" -> pruneScanStrSql,
    "prune_scan_point" -> pruneScanPointSql,
    "lake_evolve" -> lakeEvolveSql,
    "lake_evolve_rename" -> lakeEvolveRenameSql,
    "lake_evolve_widen" -> lakeEvolveWidenSql,
    "lake_evolve_default" -> lakeEvolveDefaultSql,
    "lake_history" -> lakeHistorySql,
    "lake_merge_mor" -> lakeMergeMorSql,
    "lake_incremental" -> lakeIncrementalSql,
    "lake_cdf" -> lakeCdfSql,
    "mv_refresh" -> mvRefreshSql,
    "mv_join_refresh" -> mvJoinRefreshSql,
    "mv_minmax_refresh" -> mvMinmaxRefreshSql,
    "mv_minmax_fold" -> mvMinmaxFoldSql,
    "mv_automaint" -> mvAutomaintSql,
    "q_sql_mv_meta" -> qSqlMvMetaSql,
    "q_sql_mv_drop" -> qSqlMvDropSql,
    "q_sql_mv_expr" -> qSqlMvExprSql,
    "stream_mv_expr" -> streamMvExprSql,
    "stream_mv_minmax" -> streamMvMinmaxSql,
    "stream_mv_refresh" -> streamMvRefreshSql,
    "lake_overwrite" -> lakeOverwriteSql,
    "lake_delete_pos" -> lakeDeletePosSql,
    "lake_delete_dv" -> lakeDeleteDvSql,
    "lake_delete_bulk" -> lakeDeleteBulkSql,
    "lake_rewrite" -> lakeRewriteSql,
    "lake_rollback" -> lakeRollbackSql,
    "lake_expire" -> lakeExpireSql,
    "lake_manifest_compact" -> lakeManifestCompactSql,
    "lake_tag" -> lakeTagSql,
    "lake_branch" -> lakeBranchSql,
    "lake_branch_diff" -> lakeBranchDiffSql,
    "lake_format_write" -> lakeFormatWriteSql,
    "q_sql_lake" -> qSqlLakeSql,
    "q_sql_call" -> qSqlCallSql,
    "q_sql_analyze" -> qSqlAnalyzeSql,
    "q_sql_update" -> qSqlUpdateSql,
    "q_sql_merge" -> qSqlMergeSql,
    "q_sql_merge_nmbs" -> qSqlMergeNmbsSql,
    "q_sql_merge_evolve" -> qSqlMergeEvolveSql,
    "q_props_variant" -> qPropsVariantSql,
    "prune_scan_z_ddl" -> pruneScanZDdlSql,
    "prune_scan_trunc" -> pruneScanTruncSql,
    "prune_scan_z3" -> pruneScanZ3Sql,
    "q_sql_view" -> qSqlViewSql,
    "q_sql_mv" -> qSqlMvSql,
    "q_sql_mv_minmax" -> qSqlMvMinmaxSql,
    "q_sql_mv_single" -> qSqlMvSingleSql,
    "q_sql_mv_distinct" -> qSqlMvDistinctSql,
    "q_sql_mv_distinct2" -> qSqlMvDistinct2Sql,
    "q_sql_mv_distinct_bm" -> qSqlMvDistinctBmSql,
    "q_sql_mv_distinct_bm2" -> qSqlMvDistinctBm2Sql,
    "q_sql_mv_distinct_hll" -> qSqlMvDistinctHllSql,
    "q_sql_mv_hll_expr" -> qSqlMvHllExprSql,
    "q_sql_mv_distinct_grain" -> qSqlMvDistinctGrainSql,
    "q_sql_mv_global" -> qSqlMvGlobalSql,
    "q_sql_mv_distinct_expr" -> qSqlMvDistinctExprSql,
    "q_sql_mv_profile_expr" -> qSqlMvProfileExprSql,
    "q_sql_mv_profile" -> qSqlMvProfileSql,
    "q_sql_mv_rewrite" -> qSqlMvRewriteSql,
    "q_sql_mv_rewrite_stale" -> qSqlMvRewriteStaleSql,
    "q_sql_mv_rewrite_stale_star" -> qSqlMvRewriteStaleStarSql,
    "q_sql_mv_rewrite_star" -> qSqlMvRewriteStarSql,
    "q_sql_mv_star" -> qSqlMvStarSql,
    "q_sql_mv_star_expr" -> qSqlMvStarExprSql,
    "stream_mv_star_expr" -> streamMvStarExprSql,
    "lake_avro_prune" -> lakeAvroPruneSql,
    "stream_mv_single" -> streamMvSingleSql,
    "stream_mv_distinct" -> streamMvDistinctSql,
    "stream_mv_bitmap" -> streamMvBitmapSql,
    "stream_mv_hll" -> streamMvHllSql,
    "q_sql_rtas" -> qSqlRtasSql,
    "lake_nested" -> lakeNestedSql,
    "lake_map" -> lakeMapSql,
    "lake_constraint" -> lakeConstraintSql,
    "lake_clone" -> lakeCloneSql,
    "prune_scan_days" -> pruneScanDaysSql,
    "q_spj" -> qSpjSql)
}
