package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DsV2Shim
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{ColumnMapping, LakeTable}
import graft.sources.GraftLakeTable
import graft.writer.BlockWriter

/** `LakeTable.read` and its siblings are frames over the lake's one
  * DSv2 scan: at every snapshot they return the rows, row coordinates
  * and (nullable, stored-order) schema of the SQL read of the same
  * snapshot, as a single scan with no join — unless an equality-delete
  * group is bulk or keyed on a type the readers cannot probe, which
  * is anti-joined.
  */
class OneReadPathSpec extends AnyFunSuite {
  import TestSpark._

  private def events: DataFrame =
    graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))

  private val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 128)

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  /** A fresh table of the `graft` catalog, so SQL reads it by name:
    * (SQL name, directory).
    */
  private def catalogTable(prefix: String): (String, String) = {
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val name = s"${prefix}_${System.nanoTime()}"
    (s"graft.db.$name", graftCatRoot.resolve("db").resolve(name).toString)
  }

  private def lakeScans(df: DataFrame): Seq[DataSourceV2ScanRelation] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r }

  private def joins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }

  /** One DSv2 lake scan, no join. */
  private def assertOneScan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.optimizedPlan
    assert(lakeScans(df).size === 1 && plan.collectLeaves().size === 1, s"$what:\n$plan")
    assert(joins(df).isEmpty, s"$what:\n$plan")
  }

  /** The schema of a file-source read of the snapshot: its logical
    * names in stored order, every field nullable.
    */
  private def storedSchema(root: String, snap: Int): StructType =
    DsV2Shim.fileSourceSchema(ColumnMapping.logicalClean(
      DataType.fromJson(LakeTable.manifest(root, snap).schemaJson).asInstanceOf[StructType]))

  /** At every snapshot of `t`: `LakeTable.read` returns the rows of
    * `VERSION AS OF`, with the stored schema, through one scan and no
    * join; and (`coords`) `withRowCoords` returns the SQL read's
    * metadata columns.
    */
  private def checkSnapshots(t: String, root: String, coords: Boolean = true): Unit =
    (1 to LakeTable.currentSnapshot(root)).foreach { s =>
      val got = LakeTable.read(spark, root, Some(s))
      val sql = spark.sql(s"SELECT * FROM $t VERSION AS OF $s")
      assert(rows(got) === rows(sql), s"snapshot $s rows")
      assert(got.schema === storedSchema(root, s), s"snapshot $s schema")
      assertOneScan(got, s"snapshot $s")
      if (coords) {
        val key = Seq(LakeTable.CoordPath, LakeTable.CoordIdx)
        val withCoords = LakeTable.withRowCoords(spark, root, Some(s))
        assertOneScan(withCoords, s"snapshot $s coordinates")
        assert(rows(withCoords.select(("event_id" +: key).map(col): _*)) ===
          rows(spark.sql(s"SELECT event_id, ${key.mkString(", ")} FROM $t VERSION AS OF $s")),
          s"snapshot $s coordinates")
      }
    }

  /** Snapshots 1–5: a commit; positional, equality and
    * deletion-vector deletes; a clean later append.
    */
  private def deletesTable(prefix: String): (String, String) = {
    val (t, root) = catalogTable(prefix)
    LakeTable.commit(spark, root, events.filter(col("event_id") < 600), cfg, Seq("event_id"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 10 === 3))
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.range(1).select(lit("click").as("event_type")))
    LakeTable.deletePositionsDv(spark, root, LakeTable.withRowCoords(spark, root)
      .filter(col("event_id") % 10 === 7)
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx)))
    LakeTable.commit(spark, root, events.filter(col("event_id") >= 600), cfg, Seq("event_id"))
    assert(LakeTable.manifest(root, 5).deletes.map(_.kind).toSet === Set("pos", "eq", "dv"))
    (t, root)
  }

  test("one path: equality, positional and DV deletes and a clean group, at every snapshot") {
    val (t, root) = deletesTable("onepath_del")
    checkSnapshots(t, root)
    // the delete-masked head, in one scan
    val expect = events.filter(!(col("event_id") < 600 && (col("event_id") % 10 === 3 ||
      col("event_id") % 10 === 7 || col("event_type") <=> lit("click"))))
    assert(rows(LakeTable.read(spark, root)) === rows(expect))
    graft.util.Scratch.rmNow(root)
  }

  test("one path: a mixed avro and parquet table with an equality delete, at every snapshot") {
    val (t, root) = catalogTable("onepath_avro")
    LakeTable.appendAvro(spark, root, events.filter(col("event_id") < 500), Seq("event_id"))
    LakeTable.commit(spark, root, events.filter(col("event_id") >= 500), cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.range(1).select(lit("error").as("event_type")))
    val paths = LakeTable.manifest(root, 3).files.map(_.path)
    assert(paths.exists(_.endsWith(".avro")) && paths.exists(_.endsWith(".parquet")))
    // an avro file has no row index to address
    checkSnapshots(t, root, coords = false)
    assert(rows(LakeTable.read(spark, root)) ===
      rows(events.filter(!(col("event_type") <=> lit("error")))))
    graft.util.Scratch.rmNow(root)
  }

  test("one path: a column-mapped rename and drop, then an equality delete, at every snapshot") {
    val (t, root) = catalogTable("onepath_cm")
    LakeTable.commit(spark, root, events.filter(col("event_id") % 3 =!= 0), cfg,
      Seq("event_id", "user_id"))
    LakeTable.renameColumn(root, "user_id", "uid")
    LakeTable.dropColumn(root, "event_type")
    LakeTable.commit(spark, root, events.filter(col("event_id") % 3 === 0)
      .select(col("event_id"), col("user_id").as("uid"), col("ts"), col("value")),
      cfg.copy(partitionCol = "uid"), Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "uid",
      events.select(col("user_id").as("uid")).distinct().orderBy(col("uid")).limit(2))
    assert(LakeTable.read(spark, root).columns.toSeq === Seq("event_id", "uid", "ts", "value"))
    checkSnapshots(t, root)
    graft.util.Scratch.rmNow(root)
  }

  test("one path: additive evolution null-fills older files, at every snapshot") {
    val (t, root) = catalogTable("onepath_evo")
    val base = events.select(col("event_id"), col("user_id"), col("event_type"))
    LakeTable.commit(spark, root, base.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.commit(spark, root, base.filter(col("event_id") % 2 === 1)
      .withColumn("extra", when(lit(true), col("event_id") * 2)), cfg, Seq("event_id"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 7 === 0))
    checkSnapshots(t, root)
    graft.util.Scratch.rmNow(root)
  }

  test("one path: incremental reads are one scan of exactly the range's files") {
    val (_, root) = deletesTable("onepath_incr")
    Seq((0, 5), (0, 1), (1, 5), (4, 5), (2, 4)).foreach { case (from, to) =>
      val got = LakeTable.incrementalRead(spark, root, from, to)
      val files = LakeTable.manifest(root, to).files.filter(f => f.seq > from && f.seq <= to)
      if (files.isEmpty) assert(got.isEmpty, s"($from, $to]")
      else {
        assertOneScan(got, s"($from, $to]")
        assert(rows(got) === rows(spark.read.schema(storedSchema(root, to))
          .parquet(files.map(_.path): _*)), s"($from, $to]")
      }
      assert(got.schema === storedSchema(root, to), s"($from, $to] schema")
    }
    graft.util.Scratch.rmNow(root)
  }

  test("one path: a multi-commit changelog equals the diff of adjacent SQL snapshots") {
    val (t, root) = deletesTable("onepath_cl")
    val cl = LakeTable.changelogRead(spark, root, 0, 5)
    def sqlAt(s: Int): DataFrame =
      if (s == 0) spark.sql(s"SELECT * FROM $t VERSION AS OF 1").limit(0)
      else spark.sql(s"SELECT * FROM $t VERSION AS OF $s")
    (1 to 5).foreach { s =>
      def tagged(kind: String): DataFrame = cl
        .filter(col("_change_snap") === s && col("_change_type") === kind)
        .drop("_change_snap", "_change_type")
      assert(rows(tagged("insert")) === rows(sqlAt(s).exceptAll(sqlAt(s - 1))),
        s"snapshot $s inserts")
      assert(rows(tagged("delete")) === rows(sqlAt(s - 1).exceptAll(sqlAt(s))),
        s"snapshot $s deletes")
    }
    // the two append commits' inserts read through one scan
    val inserts = LakeTable.changelogRead(spark, root, 0, 5)
      .filter(col("_change_type") === "insert")
    assert(inserts.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation if r.relation.table.asInstanceOf[GraftLakeTable]
        .root == root => r
    }.nonEmpty)
    graft.util.Scratch.rmNow(root)
  }

  test("bulk equality and positional delete groups are shuffle anti-joined; the rows stay the SQL read's") {
    val (t, root) = deletesTable("onepath_bulk")
    val key = Seq(LakeTable.CoordPath, LakeTable.CoordIdx)
    spark.conf.set(LakeTable.BroadcastDeleteRowsKey, "0")
    try {
      val got = LakeTable.read(spark, root)
      // both groups come off the pinned manifest into anti-joins of the
      // first commit's files — the positional one on the row
      // coordinates; the DV stays in the readers and the later files
      // read on their own
      assert(joins(got).map(_.joinType.toString) === Seq("LeftAnti", "LeftAnti"))
      assert(joins(got).flatMap(_.condition.toSeq.flatMap(_.references.map(_.name))).toSet ===
        Set("event_type") ++ key)
      assert(lakeScans(got).size === 2)
      assert(lakeScans(got).forall(s => s.relation.table.asInstanceOf[GraftLakeTable]
        .mvRewritable === false))
      (1 to 5).foreach { s =>
        val read = LakeTable.read(spark, root, Some(s))
        assert(rows(read) === rows(spark.sql(s"SELECT * FROM $t VERSION AS OF $s")),
          s"snapshot $s rows")
        assert(read.schema === storedSchema(root, s), s"snapshot $s schema")
        assert(rows(LakeTable.withRowCoords(spark, root, Some(s))
          .select(("event_id" +: key).map(col): _*)) ===
          rows(spark.sql(s"SELECT event_id, ${key.mkString(", ")} FROM $t VERSION AS OF $s")),
          s"snapshot $s coordinates")
      }
    } finally spark.conf.unset(LakeTable.BroadcastDeleteRowsKey)
    graft.util.Scratch.rmNow(root)
  }

  test("a double-keyed equality delete matches -0.0 to 0.0 and NaN to NaN, as a join does") {
    val root = graft.util.Scratch.dir("graft_onepath_dbl_")
    val xs = spark.range(40).select(col("id").as("event_id"),
      when(col("id") % 4 === 0, lit(0.0)).when(col("id") % 4 === 1, lit(-0.0))
        .when(col("id") % 4 === 2, lit(Double.NaN)).otherwise(col("id").cast("double"))
        .as("x"))
    LakeTable.commit(spark, root, xs, BlockWriter.Config("event_id", "event_id",
      maxRecordsPerFile = 16), Seq("event_id"))
    val keys = spark.createDataFrame(Seq(Tuple1(0.0), Tuple1(Double.NaN))).toDF("x")
    // the join the probe stands for
    val expect = xs.join(keys, Seq("x"), "left_anti")
    assert(expect.count() === 10)
    LakeTable.deleteWhere(spark, root, "x", keys)
    val got = LakeTable.read(spark, root)
    assertOneScan(got, "double key")
    assert(rows(got) === rows(expect))
    assert(rows(spark.read.format("graft-lake").load(root)) === rows(expect))
    graft.util.Scratch.rmNow(root)
  }

  test("a decimal-keyed equality delete takes the anti-join") {
    val root = graft.util.Scratch.dir("graft_onepath_dec_")
    val amounts = events.select(col("event_id"), col("user_id"),
      (col("event_id") % 50).cast("decimal(10,2)").as("amt"))
    LakeTable.commit(spark, root, amounts, cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "amt",
      spark.range(3).select(col("id").cast("decimal(10,2)").as("amt")))
    val got = LakeTable.read(spark, root)
    assert(joins(got).map(_.joinType.toString) === Seq("LeftAnti"))
    assert(rows(got) === rows(amounts.filter(col("event_id") % 50 >= 3)))
    assert(got.schema === storedSchema(root, 2))
    // the readers have no probe for it: the SQL read refuses
    intercept[UnsupportedOperationException] {
      spark.read.format("graft-lake").load(root).collect()
    }
    graft.util.Scratch.rmNow(root)
  }

  test("LakeTable.read of a base table with a fresh MV is not rewritten to the MV") {
    val (fact, factDir) = catalogTable("onepath_mvf")
    val mv = s"${fact}_mv"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    spark.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT g, COUNT(*) AS n, SUM(x) AS sx " +
      s"FROM $fact GROUP BY g")
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    def scannedRoots(df: DataFrame): Set[String] = lakeScans(df)
      .map(_.relation.table.asInstanceOf[GraftLakeTable].root).toSet
    // the catalog read of the same rollup is answered from the MV
    val viaCatalog = rollup(spark.table(fact))
    assert(!scannedRoots(viaCatalog).contains(factDir), "the MV is fresh and matches")
    val viaRead = rollup(LakeTable.read(spark, factDir))
    assert(scannedRoots(viaRead) === Set(factDir))
    assert(rows(viaRead) === rows(viaCatalog))
    spark.sql(s"DROP TABLE $mv"); spark.sql(s"DROP TABLE $fact")
  }
}
