package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable
import graft.sources.GraftScan
import graft.writer.BlockWriter

/** The graft-lake DataSource V2 front door: the scan must be a real
  * DSv2 BatchScan (columnar parquet underneath, codegen above),
  * pushed filters must prune files through the manifest stats, and
  * merge-on-read deletes must be applied exactly — all
  * indistinguishable from the Scala read path's results.
  */
class DsV2Spec extends AnyFunSuite {
  import TestSpark._

  private val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1024)

  private def events: DataFrame =
    graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))

  private def graftScanOf(df: DataFrame): GraftScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "plan has no DSv2 BatchScan node:\n" +
      df.queryExecution.executedPlan.toString)
    scans.collectFirst { case g: GraftScan => g }
      .getOrElse(fail(s"BatchScan is not a GraftScan: ${scans.head.getClass}"))
  }

  // normalize column order before comparing: the Scala read path's
  // anti-join hoists the join key to the front, the format path keeps
  // table schema order — both are the same relation
  private def sorted(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  test("format read is a DSv2 BatchScan with codegen above and matches LakeTable.read") {
    val root = graft.util.Scratch.dir("graft_v2_")
    LakeTable.commit(spark, root, events, cfg, Seq("event_id", "event_type"))
    val byFormat = spark.read.format("graft-lake").load(root)
    graftScanOf(byFormat): Unit
    // whole-stage codegen survives above the scan (columnar batches →
    // ColumnarToRow feeds a codegen stage)
    // the `*(n)` prefix is the tree-string rendering of a
    // WholeStageCodegen stage wrapping the node
    val planStr = byFormat.filter(col("value") > 10)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("*(1) Filter"), planStr)
    assert(sorted(byFormat) === sorted(LakeTable.read(spark, root)))
    graft.util.Scratch.rmNow(root)
  }

  test("pushed filters prune files via manifest stats; snapshot option time-travels") {
    val root = graft.util.Scratch.dir("graft_v2p_")
    // range-cluster on event_id so per-file min/max are tight
    LakeTable.commit(spark, root,
      events.orderBy(col("event_id")),
      BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 256),
      Seq("event_id"), rangeCluster = true)
    val filtered = spark.read.format("graft-lake").load(root)
      .filter(col("event_id") <= 100)
    val scan = graftScanOf(filtered)
    assert(scan.survivors.size < scan.totalFiles,
      s"expected pruning: ${scan.survivors.size}/${scan.totalFiles}")
    val expect = events.filter(col("event_id") <= 100)
    assert(sorted(filtered) === sorted(expect))
    // time travel by option: append a second generation, snapshot 1 is stable
    val n1 = spark.read.format("graft-lake").load(root).count()
    LakeTable.commit(spark, root, events.limit(10),
      BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 256), Seq("event_id"))
    assert(spark.read.format("graft-lake").option("snapshot", "1").load(root).count() === n1)
    assert(spark.read.format("graft-lake").load(root).count() === n1 + 10)
    graft.util.Scratch.rmNow(root)
  }

  test("format read applies equality deletes (sequence rule: later appends survive)") {
    val root = graft.util.Scratch.dir("graft_v2eq_")
    LakeTable.commit(spark, root, events, cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "user_id",
      events.select(col("user_id")).distinct().limit(5))
    // re-insert one deleted user AFTER the delete: the new rows must survive
    val delUsers = LakeTable.manifest(root, 2).deletes
    assert(delUsers.nonEmpty)
    val reinserted = events.limit(7)
    LakeTable.commit(spark, root, reinserted, cfg, Seq("event_id"))
    val byFormat = spark.read.format("graft-lake").load(root)
    assert(sorted(byFormat) === sorted(LakeTable.read(spark, root)))
    // and the delete really removed rows
    assert(byFormat.count() < events.count() + 7)
    graft.util.Scratch.rmNow(root)
  }

  test("format read applies positional deletes exactly (one copy of a dup survives)") {
    val root = graft.util.Scratch.dir("graft_v2pos_")
    LakeTable.commit(spark, root, events, cfg, Seq("event_id"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 10 === 3))
    val byFormat = spark.read.format("graft-lake").load(root)
    assert(sorted(byFormat) === sorted(LakeTable.read(spark, root)))
    assert(byFormat.filter(col("event_id") % 10 === 3).count() === 0)
    assert(byFormat.count() === events.filter(col("event_id") % 10 =!= 3).count())
    graft.util.Scratch.rmNow(root)
  }

  test("format read applies mixed eq+pos deletes with pruning and column pruning") {
    val root = graft.util.Scratch.dir("graft_v2mix_")
    LakeTable.commit(spark, root, events, cfg, Seq("event_id", "event_type"))
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.createDataFrame(Seq(Tuple1("click"))).toDF("event_type"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 7 === 2))
    val byFormat = spark.read.format("graft-lake").load(root)
      .filter(col("event_id") > 50)
      .select(col("event_id"), col("value")) // prunes away both key columns
    val expect = LakeTable.read(spark, root)
      .filter(col("event_id") > 50)
      .select(col("event_id"), col("value"))
    assert(sorted(byFormat) === sorted(expect))
    assert(byFormat.count() > 0)
    graft.util.Scratch.rmNow(root)
  }

  // ---- the single-schema read: one parquet reader per scan ----

  /** A table of four appends on disjoint `event_id` quarters (range
    * clustered, so a runtime key filter prunes whole appends), with
    * `dels(k)` run after the k-th append.
    */
  private def quarters(prefix: String)(dels: PartialFunction[Int, String => Unit]): String = {
    val root = graft.util.Scratch.dir(prefix)
    (0 until 4).foreach { k =>
      LakeTable.commit(spark, root,
        events.filter(col("event_id") >= k * 250 && col("event_id") < (k + 1) * 250)
          .orderBy(col("event_id")),
        BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 64),
        Seq("event_id", "event_type"), rangeCluster = true)
      dels.lift(k).foreach(_(root))
    }
    root
  }

  private def splitKey(pf: org.apache.spark.sql.execution.datasources.PartitionedFile) =
    (pf.filePath.toPath.toString, pf.start, pf.length)

  /** Each group's and bucket's file splits equal what Spark's own
    * parquet scan plans over a file index of the same files.
    */
  private def assertSparkSplits(g: GraftScan): Unit = {
    val parts = g.planInputPartitions().toSeq
      .collect { case t: graft.sources.TaggedPartition => t }
    parts.groupBy(t => (t.tag, t.bucket)).foreach { case (key, ps) =>
      val paths = ps.flatMap(_.inner.files.map(_.filePath.toPath.toString)).toSet
      val files = g.plannedFiles.filter(f => paths(f.path))
      assert(files.map(_.path).toSet === paths, s"group $key: unknown files")
      val expect = g.scan.copy(fileIndex = new org.apache.spark.sql.graftshim
          .ManifestFileIndex(spark, files.map(f => (f.path, f.bytes))))
        .planInputPartitions().toSeq
        .map(_.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition])
      val got = ps.map(_.inner.files.toSeq.map(splitKey))
      val want = expect.map(_.files.toSeq.map(splitKey))
      // a group that needs file coordinates plans one file per partition
      if (got.size == want.size) assert(got === want, s"group $key")
      else {
        assert(got.forall(_.size == 1), s"group $key: $got vs $want")
        assert(got.flatten === want.flatten, s"group $key")
      }
    }
  }

  private def assertSameAsLibrary(root: String, shape: DataFrame => DataFrame): GraftScan = {
    val byFormat = shape(spark.read.format("graft-lake").load(root))
    assert(sorted(byFormat) === sorted(shape(LakeTable.read(spark, root))))
    val g = graftScanOf(byFormat)
    assertSparkSplits(g)
    g
  }

  test("single-schema read: positional, two equality keys, a DV and a clean group in one scan match LakeTable.read") {
    val root = quarters("graft_v2one_") {
      case 0 => r => LakeTable.deletePositions(spark, r,
        LakeTable.withRowCoords(spark, r).filter(col("event_id") % 10 === 3)): Unit
      case 1 => r => LakeTable.deleteWhere(spark, r, "event_type",
        spark.range(1).select(lit("click").as("event_type"))): Unit
      case 2 => r =>
        LakeTable.deleteWhere(spark, r, "user_id",
          events.select(col("user_id")).distinct().orderBy(col("user_id")).limit(3)): Unit
        LakeTable.deletePositionsDv(spark, r, LakeTable.withRowCoords(spark, r)
          .filter(col("event_id") % 10 === 7)
          .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))): Unit
    }
    val m = LakeTable.manifest(root, LakeTable.currentSnapshot(root))
    assert(m.deletes.map(_.kind).toSet === Set("pos", "eq", "dv"))
    assert(m.deletes.filter(_.kind == "eq").map(_.keyCol).toSet ===
      Set("event_type", "user_id"))
    // four groups: the last append is clean
    val g = assertSameAsLibrary(root, identity)
    assert(g.planInputPartitions().collect {
      case t: graft.sources.TaggedPartition => t.tag
    }.distinct.length === 4)
    // both key columns and the row index pruned from the output
    assertSameAsLibrary(root, _.filter(col("event_id") > 100)
      .select(col("event_id"), col("value")))
    assertSameAsLibrary(root, _.select(col("user_id"), col("ts")))
    // the row coordinates requested: every group emits them
    val coords = spark.read.format("graft-lake").load(root)
      .select(col("event_id"), col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    val viaScala = LakeTable.withRowCoords(spark, root)
      .select(col("event_id"), col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    assert(coords.exceptAll(viaScala).isEmpty && viaScala.exceptAll(coords).isEmpty)
    assert(coords.count() === LakeTable.read(spark, root).count())
    assertSparkSplits(graftScanOf(coords))
    graft.util.Scratch.rmNow(root)
  }

  test("single-schema read: avro files in a dirty scan emit the augmented schema") {
    val root = graft.util.Scratch.dir("graft_v2oneav_")
    LakeTable.appendAvro(spark, root, events.filter(col("event_id") < 500),
      Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.range(1).select(lit("view").as("event_type")))
    LakeTable.appendAvro(spark, root, events.filter(col("event_id") >= 500),
      Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "user_id",
      events.select(col("user_id")).distinct().orderBy(col("user_id")).limit(2))
    assertSameAsLibrary(root, identity)
    assertSameAsLibrary(root, _.select(col("event_id"), col("value")))
    graft.util.Scratch.rmNow(root)
  }

  test("single-schema read: runtime filtering re-plans a subset of the first plan with stable group tags") {
    val root = quarters("graft_v2onerf_") {
      case 0 => r => LakeTable.deletePositions(spark, r,
        LakeTable.withRowCoords(spark, r).filter(col("event_id") % 10 === 3)): Unit
      case 1 => r => LakeTable.deleteWhere(spark, r, "event_type",
        spark.range(1).select(lit("click").as("event_type"))): Unit
    }
    val g = assertSameAsLibrary(root, identity)
    val first = g.planInputPartitions()
    def tagged(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.toSeq.collect { case t: graft.sources.TaggedPartition =>
        t.inner.files.toSeq.map(pf => splitKey(pf) -> t.tag)
      }.flatten
    // a join-key set over the first quarter only
    g.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("event_id",
      Array[Any](3L, 17L, 101L))))
    val narrowed = g.planInputPartitions()
    assert(narrowed ne first, "a narrowed file set must re-plan")
    assert(g.plannedFiles.size < g.survivors.size)
    val before = tagged(first).toMap
    assert(tagged(narrowed).nonEmpty)
    tagged(narrowed).foreach { case (split, tag) =>
      assert(before.get(split) === Some(tag), s"$split: re-planned outside the first plan")
    }
    assertSparkSplits(g)
    graft.util.Scratch.rmNow(root)
  }

  test("single-schema read: a storage-partitioned join over a dirty bucketed table plans per group and bucket") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val s = spark
    import s.implicits._
    val left = (0 until 3000).map(i => (i.toLong, i.toLong % 97, i * 1.5))
      .toDF("event_id", "user_id", "value")
    val right = (0 until 300).map(i => (s"seg${i % 9}", i.toLong % 97))
      .toDF("segment", "user_id").distinct()
    left.createOrReplaceTempView("v2one_spj_left")
    right.createOrReplaceTempView("v2one_spj_right")
    val id = System.nanoTime()
    val lt = s"graft.psd.onel_$id"; val rt = s"graft.psd.oner_$id"
    spark.sql(s"CREATE TABLE $lt PARTITIONED BY (bucket(8, user_id)) AS SELECT * FROM v2one_spj_left WHERE event_id < 2000")
    spark.sql(s"CREATE TABLE $rt PARTITIONED BY (bucket(8, user_id)) AS SELECT * FROM v2one_spj_right")
    spark.sql(s"DELETE FROM $lt WHERE event_id % 10 = 3")
    spark.sql(s"INSERT INTO $lt SELECT * FROM v2one_spj_left WHERE event_id >= 2000")
    val q = s"""SELECT r.segment, count(*) AS n, sum(l.value) AS sv
               |FROM %s l JOIN %s r ON l.user_id = r.user_id
               |GROUP BY r.segment""".stripMargin
    val expect = spark.sql(q.format(
        "(SELECT * FROM v2one_spj_left WHERE event_id % 10 != 3 OR event_id >= 2000)",
        "v2one_spj_right"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.sql(q.format(lt, rt))
      val plan = joined.queryExecution.executedPlan
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty && smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"the join must be storage-partitioned:\n$plan")
      assert(joined.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq === expect)
      val scans = plan.collect { case b: BatchScanExec => b.scan }
        .collect { case g: GraftScan => g }
      val dirty = scans.find(_.planInputPartitions().exists {
        case t: graft.sources.TaggedPartition => t.tag > 0
        case _ => false
      }).getOrElse(fail(s"no two-group scan in:\n$plan"))
      assert(dirty.planInputPartitions().collect {
        case t: graft.sources.TaggedPartition => t.bucket
      }.distinct.length > 1)
      scans.foreach(assertSparkSplits)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(s"DROP TABLE $lt"); spark.sql(s"DROP TABLE $rt")
  }

  test("plan once: every plan copy of a scan shares one reader factory holding one parquet factory, and partitions plan once per file set") {
    // three groups: two under positional deletes, the last append clean
    val root = graft.util.Scratch.dir("graft_v2once_")
    (0 until 3).foreach { k =>
      LakeTable.commit(spark, root,
        events.filter(col("event_id") >= k * 300 && col("event_id") < (k + 1) * 300),
        cfg, Seq("event_id"))
      if (k < 2) LakeTable.deletePositions(spark, root,
        LakeTable.withRowCoords(spark, root)
          .filter(col("event_id") % 10 === 3 + k)): Unit
    }
    def query: DataFrame = spark.read.format("graft-lake").load(root)
      .filter(col("user_id") > 2)
    val df = query
    val jobs = SparkJobs.during(spark)(df.collect(): Unit).size
    // the same count as before the single-reader change: planning once
    // adds or removes no Spark job
    assert(jobs === 1)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val nodes = Seq(df.queryExecution.sparkPlan, df.queryExecution.executedPlan)
      .flatMap(p => helper.collect(p) { case b: BatchScanExec => b })
    assert(nodes.size >= 2, df.queryExecution.executedPlan.toString)
    val g = nodes.head.scan.asInstanceOf[GraftScan]
    assert(nodes.forall(_.scan eq g))
    val factory = g.createReaderFactory()
    nodes.foreach(n => assert(n.readerFactory eq factory))
    factory match {
      case f: graft.sources.GraftReaderFactory =>
        assert(f.inner.isInstanceOf[org.apache.spark.sql.execution.datasources
          .v2.parquet.ParquetPartitionReaderFactory])
      case other => fail(s"unexpected factory $other")
    }
    assert(g.planInputPartitions() eq g.planInputPartitions())
    assert(g.planInputPartitions().collect {
      case t: graft.sources.TaggedPartition => t.tag
    }.distinct.length === 3)
    assert(sorted(query) === sorted(LakeTable.read(spark, root)
      .filter(col("user_id") > 2)))
    graft.util.Scratch.rmNow(root)
  }

  test("format write: append + overwrite round-trip, distributed commit") {
    val root = graft.util.Scratch.dir("graft_v2w_")
    events.limit(100).write.format("graft-lake")
      .option("partitionCol", "user_id").option("keyCol", "ts")
      .option("stats", "event_id,user_id").mode("append").save(root)
    events.limit(100).write.format("graft-lake")
      .option("partitionCol", "user_id").option("keyCol", "ts")
      .mode("append").save(root)
    assert(LakeTable.currentSnapshot(root) === 2)
    assert(spark.read.format("graft-lake").load(root).count() === 200)
    // overwrite = one atomic rewrite snapshot; history preserved
    events.limit(30).write.format("graft-lake")
      .option("partitionCol", "user_id").mode("overwrite").save(root)
    assert(LakeTable.currentSnapshot(root) === 3)
    assert(spark.read.format("graft-lake").load(root).count() === 30)
    assert(spark.read.format("graft-lake").option("snapshot", "2").load(root).count() === 200)
    graft.util.Scratch.rmNow(root)
  }

  test("streaming sink is exactly-once: a re-drained source adds no duplicate commits") {
    val root = graft.util.Scratch.dir("graft_v2sink_")
    val inDir = graft.util.Scratch.dir("graft_v2sink_in_")
    val ckpt = graft.util.Scratch.dir("graft_v2sink_ck_")
    events.limit(60).coalesce(2).write.mode("overwrite").parquet(inDir)
    def drain(): Unit = {
      val q = spark.readStream.schema(events.schema).parquet(inDir)
        .writeStream.format("graft-lake")
        .option("path", root)
        .option("partitionCol", "user_id").option("keyCol", "ts")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val n1 = spark.read.format("graft-lake").load(root).count()
    assert(n1 === 60)
    drain() // nothing new: no data, no commit
    assert(spark.read.format("graft-lake").load(root).count() === 60)
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(inDir); graft.util.Scratch.rmNow(ckpt)
  }

  test("micro-batch stream read delivers each commit exactly once across restarts") {
    val root = graft.util.Scratch.dir("graft_v2mbs_")
    val sink = graft.util.Scratch.dir("graft_v2mbs_sink_")
    val ckpt = graft.util.Scratch.dir("graft_v2mbs_ck_")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    LakeTable.commit(spark, root, events.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    drain()
    LakeTable.commit(spark, root, events.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    drain()
    val got = spark.read.parquet(sink)
    assert(got.count() === events.count())
    assert(got.select(countDistinct(col("event_id"))).head.getLong(0) === events.count())
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(sink); graft.util.Scratch.rmNow(ckpt)
  }

  test("micro-batch stream read: every micro-batch of one stream gets the same reader factory") {
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    val root = graft.util.Scratch.dir("graft_v2mbf_")
    val ckpt = graft.util.Scratch.dir("graft_v2mbf_ck_")
    LakeTable.commit(spark, root, events.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    val q = spark.readStream.format("graft-lake").load(root)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      .start()
    try {
      def lastScan(): (Long, MicroBatchScanExec) = {
        q.processAllAvailable()
        val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
          .StreamingQueryWrapper].streamingQuery.lastExecution
        val scans = exec.executedPlan.collect { case s: MicroBatchScanExec => s }
        assert(scans.size === 1, exec.executedPlan.toString)
        (exec.currentBatchId, scans.head)
      }
      val (b1, s1) = lastScan()
      LakeTable.commit(spark, root, events.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
      val (b2, s2) = lastScan()
      assert(b2 > b1)
      assert(s2.stream eq s1.stream)
      assert(s2.readerFactory eq s1.readerFactory)
      assert(s1.readerFactory.isInstanceOf[graft.sources.GraftReaderFactory])
    } finally q.stop()
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(ckpt)
  }

  test("SQL catalog: CTAS, INSERT alignment, VERSION AS OF, join with a view") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    events.createOrReplaceTempView("ev_src")
    // unique per run: the catalog root is a JVM-stable scratch dir
    // shared with q_sql_lake, so names must not collide across
    // concurrent suites or stale runs
    val T = s"graft.db.t_${System.nanoTime()}"
    spark.sql(
      s"CREATE TABLE $T AS SELECT event_id, user_id, value FROM ev_src WHERE event_id < 100")
    assert(spark.sql(s"SELECT count(*) FROM $T").head.getLong(0) === 100)
    // INSERT INTO an existing table goes through Spark's column
    // alignment + the OCC commit; VERSION AS OF pins snapshot 1
    spark.sql(
      s"INSERT INTO $T SELECT event_id, user_id, value FROM ev_src WHERE event_id >= 100")
    assert(spark.sql(s"SELECT count(*) FROM $T").head.getLong(0) === events.count())
    assert(spark.sql(s"SELECT count(*) FROM $T VERSION AS OF 1").head.getLong(0) === 100)
    // joins with non-lake relations by name; the lake side is a DSv2 scan
    val joined = spark.sql(
      s"""SELECT e.event_type, count(*) AS n
        |FROM $T AS t JOIN ev_src AS e ON t.event_id = e.event_id
        |GROUP BY e.event_type""".stripMargin)
    assert(joined.count() > 0)
    // empty CREATE TABLE reads as zero rows of the declared schema
    val E = s"graft.db.e_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $E (a BIGINT, b STRING)")
    val empty = spark.sql(s"SELECT a, b FROM $E")
    assert(empty.schema.fieldNames.toSeq === Seq("a", "b") && empty.count() === 0)
    spark.sql(s"DROP TABLE $T")
    spark.sql(s"DROP TABLE $E")
    val names = spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).toSet
    assert(!names.contains(T.split('.').last) && !names.contains(E.split('.').last))
  }

  test("SQL DELETE FROM is a positional MoR commit; TRUNCATE is metadata-only") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    events.createOrReplaceTempView("ev_src")
    val D = s"graft.db.d_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $D AS SELECT event_id, user_id, event_type, value FROM ev_src")
    val total = events.count()
    val clicks = events.filter(col("event_type") === "click").count()
    spark.sql(s"DELETE FROM $D WHERE event_type = 'click'")
    assert(spark.sql(s"SELECT count(*) FROM $D").head.getLong(0) === total - clicks)
    // the delete was MoR: snapshot 2 carries a delete file, data files unchanged
    val root = TestSpark.graftCatRoot
      .resolve("db").resolve(D.split('.').last).toString
    val m = graft.lake.LakeTable.manifest(root, 2)
    assert(m.deletes.nonEmpty && m.deletes.forall(_.kind == "pos"))
    assert(m.files.map(_.path) === graft.lake.LakeTable.manifest(root, 1).files.map(_.path))
    // a DELETE matching nothing commits nothing
    spark.sql(s"DELETE FROM $D WHERE event_type = 'no_such_type'")
    assert(graft.lake.LakeTable.currentSnapshot(root) === 2)
    // TRUNCATE: metadata-only empty rewrite; history stays readable
    spark.sql(s"TRUNCATE TABLE $D")
    assert(spark.sql(s"SELECT count(*) FROM $D").head.getLong(0) === 0)
    assert(spark.sql(s"SELECT count(*) FROM $D VERSION AS OF 1").head.getLong(0) === total)
    assert(graft.lake.LakeTable.manifest(root, 3).files.isEmpty)
    spark.sql(s"DROP TABLE $D")
  }

  test("metadata tables: SELECT from t.history and t.files by name") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    events.createOrReplaceTempView("ev_src")
    val mName = s"db.m_${System.nanoTime()}"
    val M = s"graft.$mName"
    spark.sql(s"CREATE TABLE $M AS SELECT event_id, user_id, value FROM ev_src WHERE event_id < 500")
    spark.sql(s"INSERT INTO $M SELECT event_id, user_id, value FROM ev_src WHERE event_id >= 500")
    val hist = spark.sql(s"SELECT snap, n_added_rows FROM $M.history ORDER BY snap")
    assert(hist.count() === 2)
    assert(hist.collect().map(_.getLong(1)).sum === events.count())
    val files = spark.sql(s"SELECT path, rows, bytes FROM $M.files")
    assert(files.count() > 0)
    assert(files.collect().forall(r => r.getLong(2) > 0), "manifest-recorded bytes")
    assert(files.select(sum(col("rows"))).head.getLong(0) === events.count())
    // t.partitions: per-bucket accounting sums to the table
    val parts = spark.sql(s"SELECT bucket, n_files, n_rows, n_bytes FROM $M.partitions")
    assert(parts.select(sum(col("n_rows"))).head.getLong(0) === events.count())
    assert(parts.select(sum(col("n_files"))).head.getLong(0) === files.count())
    // before ANALYZE, t.files carries no sketch cardinalities; after,
    // every file exposes per-column NDV estimates and t.stats serves
    // the merged profile
    assert(spark.sql(s"SELECT ndv FROM $M.files")
      .collect().forall(_.getMap[String, Long](0).isEmpty))
    spark.sql(s"CALL graft.system.analyze('$mName')")
    val ndvs = spark.sql(s"SELECT ndv FROM $M.files").collect()
      .map(_.getMap[String, Long](0))
    assert(ndvs.forall(m => m.nonEmpty && m.contains("event_id")))
    val st = spark.sql(
      s"SELECT col, n_rows, ndv_est FROM $M.stats ORDER BY col").collect()
    assert(st.map(_.getString(0)).toSeq === Seq("event_id", "user_id", "value"))
    assert(st.forall(_.getLong(1) === events.count()))
    spark.sql(s"DROP TABLE $M")
  }

  test("LIMIT pushdown plans only enough files on a clean snapshot; never under filters/deletes") {
    val root = graft.util.Scratch.dir("graft_v2lim_")
    // many small files so the cap is observable
    LakeTable.commit(spark, root, events,
      BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 256),
      Seq("event_id"))
    val limited = spark.read.format("graft-lake").load(root).limit(10)
    val scan = graftScanOf(limited)
    assert(scan.survivors.size < scan.totalFiles,
      s"LIMIT 10 should cap the planned files: ${scan.survivors.size}/${scan.totalFiles}")
    assert(scan.survivors.map(_.rows).sum >= 10, "planned files must cover the limit")
    assert(limited.count() === 10)
    // a pushed filter makes manifest counts inexact → no cap
    val filtered = spark.read.format("graft-lake").load(root)
      .filter(col("value") > 50).limit(10)
    val fscan = graftScanOf(filtered)
    assert(fscan.survivors.size === fscan.totalFiles,
      "row-filtered limits must not cap the file list")
    assert(filtered.count() === math.min(10, events.filter(col("value") > 50).count()))
    // outstanding deletes mask rows → no cap, and results respect the mask
    LakeTable.deleteWhere(spark, root, "event_id",
      events.select(col("event_id")).limit(500))
    val afterDel = spark.read.format("graft-lake").load(root).limit(10)
    val dscan = graftScanOf(afterDel)
    assert(dscan.survivors.size === dscan.totalFiles,
      "delete-masked snapshots must not cap the file list")
    assert(afterDel.count() === 10)
    graft.util.Scratch.rmNow(root)
  }

  test("VERSION AS OF resolves tag names; t.tags lists refs in SQL") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val catRoot = graft.util.Scratch.root.resolve("sqlcat")
    spark.conf.set("spark.sql.catalog.graft.root", catRoot.toString)
    events.createOrReplaceTempView("tg_src")
    val name = s"tg_${System.nanoTime()}"
    val T = s"graft.db.$name"
    spark.sql(s"CREATE TABLE $T AS SELECT event_id, user_id, value FROM tg_src WHERE event_id < 500")
    LakeTable.tag(TestSpark.graftCatRoot.resolve("db").resolve(name).toString,
      "release-1", 1)
    spark.sql(s"INSERT INTO $T SELECT event_id, user_id, value FROM tg_src WHERE event_id >= 500")
    // tag name and snapshot number are interchangeable in SQL
    assert(spark.sql(s"SELECT * FROM $T VERSION AS OF 'release-1'").count() === 500)
    assert(spark.sql(s"SELECT * FROM $T VERSION AS OF 1").count() === 500)
    assert(spark.table(T).count() === events.count())
    val tags = spark.sql(s"SELECT name, snap FROM $T.tags").collect()
    assert(tags.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("release-1", 1L)))
    // an unknown ref is a missing-table error, not a silent full read
    intercept[Exception](spark.sql(s"SELECT * FROM $T VERSION AS OF 'nope'").count())
    spark.sql(s"DROP TABLE $T")
  }

  test("SQL reads a branch by name: VERSION AS OF 'branch:x' and t.branches") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val catRoot = graft.util.Scratch.root.resolve("sqlcat")
    spark.conf.set("spark.sql.catalog.graft.root", catRoot.toString)
    events.createOrReplaceTempView("br_src")
    val name = s"br_${System.nanoTime()}"
    val T = s"graft.db.$name"
    spark.sql(s"CREATE TABLE $T AS SELECT event_id, user_id, value FROM br_src WHERE event_id < 500")
    val dir = TestSpark.graftCatRoot.resolve("db").resolve(name).toString
    LakeTable.branch(dir, "wap")
    LakeTable.commit(spark,
      LakeTable.branchRoot(dir, "wap"),
      events.select(col("event_id"), col("user_id"), col("value"))
        .filter(col("event_id") >= 500),
      cfg, Seq("event_id"))
    // main unchanged; the branch head is readable BY NAME in SQL
    assert(spark.table(T).count() === 500)
    assert(spark.sql(s"SELECT * FROM $T VERSION AS OF 'branch:wap'").count() === events.count())
    val br = spark.sql(s"SELECT name, fork_basis, head FROM $T.branches").collect()
    assert(br.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("wap", 1L, 2L)))
    // the audit review is SQL-reachable too: net diff vs fork basis
    assert(spark.sql(s"CALL graft.system.branch_diff('db.$name', 'wap')")
      .head.getString(0) === s"insert=${events.count() - 500},delete=0")
    // publish, then the main table itself serves the audited cut
    LakeTable.publishBranch(dir, "wap")
    assert(spark.table(T).count() === events.count())
    intercept[Exception](spark.sql(s"SELECT * FROM $T VERSION AS OF 'branch:none'").count())
    spark.sql(s"DROP TABLE $T")
  }

  test("SQL CALL runs maintenance procedures: tag, rollback, compact, expire") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val catRoot = graft.util.Scratch.root.resolve("sqlcat")
    spark.conf.set("spark.sql.catalog.graft.root", catRoot.toString)
    events.createOrReplaceTempView("pr_src")
    val name = s"pr_${System.nanoTime()}"
    val T = s"graft.db.$name"
    spark.sql(s"CREATE TABLE $T AS SELECT event_id, user_id, value FROM pr_src WHERE event_id < 500")
    assert(spark.sql(s"CALL graft.system.tag('db.$name', 'v1', 1)")
      .head.getInt(0) === 1)
    spark.sql(s"INSERT INTO $T SELECT event_id, user_id, value FROM pr_src WHERE event_id >= 500")
    // rollback by CALL: head view returns to the tagged cut
    assert(spark.sql(s"CALL graft.system.rollback(table => 'db.$name', snapshot => 1)")
      .head.getInt(0) === 3)
    assert(spark.table(T).count() === 500)
    // compact: one rewrite commit, content preserved
    val snap = spark.sql(s"CALL graft.system.compact('db.$name')").head.getInt(0)
    assert(snap === 4)
    assert(spark.table(T).count() === 500)
    // expire everything below the head; the tagged snapshot survives
    assert(spark.sql(s"CALL graft.system.expire_snapshots('db.$name', 4)")
      .head.getInt(0) >= 0)
    assert(spark.sql(s"SELECT * FROM $T VERSION AS OF 'v1'").count() === 500)
    intercept[Exception](spark.sql(s"SELECT * FROM $T VERSION AS OF 2").count())
    // unknown procedure fails resolution
    intercept[Exception](spark.sql(s"CALL graft.system.nonsense('db.$name')"))
    spark.sql(s"DROP TABLE $T")
  }

  test("aggregate pushdown answers MIN/MAX/COUNT from footers on clean snapshots only") {
    val root = graft.util.Scratch.dir("graft_v2agg_")
    // stats only on user_id: event_id aggregates CANNOT ride the
    // manifest (which would shadow the footer path under test)
    LakeTable.commit(spark, root, events, cfg, Seq("user_id"))
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.read.format("graft-lake").load(root)
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      val planStr = agg.queryExecution.executedPlan.toString
      assert(planStr.contains("PushedAggregation"), planStr)
      val r = agg.head
      assert(r.getLong(0) === events.count() && r.getLong(1) === 0L)
      // a snapshot with outstanding deletes must NOT push aggregates
      LakeTable.deleteWhere(spark, root, "event_type",
        spark.createDataFrame(Seq(Tuple1("click"))).toDF("event_type"))
      val agg2 = spark.read.format("graft-lake").load(root)
        .agg(count(lit(1)).as("n"))
      assert(!agg2.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(agg2.head.getLong(0) ===
        events.filter(col("event_type") =!= "click").count())
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    graft.util.Scratch.rmNow(root)
  }

  test("bare COUNT(*) answers from the manifest: no file IO, no session conf") {
    val root = graft.util.Scratch.dir("graft_v2mc_")
    LakeTable.commit(spark, root, events, cfg, Seq("event_id", "event_type"))
    // aggregatePushdown is OFF in this session — the manifest path
    // needs no conf: commit-time row counts are already exact
    val c = spark.read.format("graft-lake").load(root).agg(count(lit(1)).as("n"))
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"bare COUNT(*) should plan zero file IO:\n${plan.take(800)}")
    assert(c.head.getLong(0) === events.count())
    // the freshness probe: MIN/MAX over stat columns + COUNT(*) in
    // one aggregation — still zero file IO, still exact
    val fr = spark.read.format("graft-lake").load(root)
      .agg(min(col("event_id")).as("mn"), max(col("event_id")).as("mx"),
        min(col("event_type")).as("ts0"), count(lit(1)).as("n"))
    val fplan = fr.queryExecution.executedPlan.toString
    assert(fplan.contains("LocalTableScan") && !fplan.contains("BatchScan"),
      s"manifest MIN/MAX should plan zero file IO:\n${fplan.take(800)}")
    val r = fr.head
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === events.agg(max(col("event_id"))).head.getLong(0))
    assert(r.getString(2) === events.agg(min(col("event_type"))).head.getString(0))
    assert(r.getLong(3) === events.count())
    // a non-stat column falls back to the scan
    val nf = spark.read.format("graft-lake").load(root).agg(min(col("value")))
    assert(nf.queryExecution.executedPlan.toString.contains("BatchScan"))
    // a FILTERED count cannot ride the manifest
    val cf = spark.read.format("graft-lake").load(root)
      .filter(col("event_type") === "click").agg(count(lit(1)).as("n"))
    assert(cf.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(cf.head.getLong(0) ===
      events.filter(col("event_type") === "click").count())
    // outstanding deletes disable it — the count must subtract masks
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.createDataFrame(Seq(Tuple1("click"))).toDF("event_type"))
    val c2 = spark.read.format("graft-lake").load(root).agg(count(lit(1)).as("n"))
    assert(c2.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(c2.head.getLong(0) ===
      events.filter(col("event_type") =!= "click").count())
    graft.util.Scratch.rmNow(root)
  }

  test("footer aggregates survive an integral widen over mixed-width generations") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val root = graft.util.Scratch.dir("graft_v2aggw_")
    // stats only on user_id so event_id aggregates exercise the
    // FOOTER path (manifest stats would shadow it). Gen 1: event_id
    // as INT32 pages
    LakeTable.commit(spark, root,
      events.select(col("event_id").cast("int").as("event_id"), col("user_id"),
        col("value")), cfg, Seq("user_id"))
    LakeTable.widenColumn(root, "event_id", LongType)
    // gen 2: beyond-int ids land as INT64 pages
    LakeTable.commit(spark, root,
      events.select((col("event_id") + 3000000000L).as("event_id"),
        col("user_id"), col("value")), cfg, Seq("user_id"))
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.read.format("graft-lake").load(root)
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("mn"),
          max(col("event_id")).as("mx"))
      // an INT-widened table keeps the footer shortcut: Spark's
      // footer aggregation promotes int32 stats into the widened
      // type exactly, so the answer is footer-only AND exact
      assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"),
        agg.queryExecution.executedPlan.toString.take(800))
      val r = agg.head
      assert(r.getLong(0) === events.count() * 2)
      assert(r.getLong(1) === 0L)
      assert(r.getLong(2) === events.agg(max(col("event_id"))).head.getLong(0)
        + 3000000000L)
      // a FLOAT→double widen makes footer mins inexact (parquet float
      // bounds may be -0.0 for a +0.0 min) — the shortcut stays off
      val root2 = graft.util.Scratch.dir("graft_v2aggwf_")
      LakeTable.commit(spark, root2,
        events.select(col("event_id"), col("user_id"),
          col("value").cast("float").as("value")), cfg, Seq("event_id"))
      LakeTable.widenColumn(root2, "value", DoubleType)
      val agg2 = spark.read.format("graft-lake").load(root2)
        .agg(min(col("value")).as("mn"))
      assert(!agg2.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      graft.util.Scratch.rmNow(root2)
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    graft.util.Scratch.rmNow(root)
  }

  test("numeric point probes prune by bloom through the DSv2 filter path") {
    val root = graft.util.Scratch.dir("graft_v2bl_")
    // cluster by user_id so every file's event_id [min,max] spans
    // nearly the whole domain — range stats prune NOTHING for a
    // point probe; the committed bloom is the only working pruner
    LakeTable.commit(spark, root, events,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 64),
      Seq("event_id", "user_id"), bloomCols = Seq("event_id"))
    val total = LakeTable.manifest(root, LakeTable.currentSnapshot(root)).files.size
    val mx = events.agg(max(col("event_id"))).first().getLong(0)
    val probes = Seq(mx / 2, mx / 3, mx / 5).distinct
    val fact = spark.read.format("graft-lake").load(root)
    val q = fact.filter(col("event_id").isin(probes: _*))
    assert(q.count() === events.filter(col("event_id").isin(probes: _*)).count())
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case g: graft.sources.GraftScan => g }
    assert(scans.nonEmpty)
    assert(scans.head.survivors.size < total,
      s"bloom did not prune: ${scans.head.survivors.size}/$total files")
    info(s"bloom point pruning: ${scans.head.survivors.size}/$total files")
    // single-key equality probes ride the same bloom
    val q2 = fact.filter(col("event_id") === mx / 2)
    assert(q2.count() === events.filter(col("event_id") === mx / 2).count())
    val scans2 = q2.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case g: graft.sources.GraftScan => g }
    assert(scans2.head.survivors.size < total)
    graft.util.Scratch.rmNow(root)
  }

  test("runtime join filters re-prune files through manifest stats") {
    val root = graft.util.Scratch.dir("graft_v2rf_")
    LakeTable.commit(spark, root,
      events.orderBy(col("event_id")),
      BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 128),
      Seq("event_id"), rangeCluster = true)
    val fact = spark.read.format("graft-lake").load(root)
    // a tiny dim whose join keys cover only the low end of event_id:
    // the runtime IN-set filter must prune high-key files
    val dim = events.filter(col("event_id") < 40)
      .select(col("event_id"), col("event_type").as("t2"))
    val joined = fact.join(dim, Seq("event_id"))
    val expect = events.filter(col("event_id") < 40).count()
    assert(joined.count() === expect)
    // the scan object records the runtime narrowing (best-effort
    // assertion: locate the GraftScan in the final adaptive plan)
    val scans = joined.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b.scan)
    }.flatten.collect { case g: graft.sources.GraftScan => g }
    scans.headOption.foreach { g =>
      assert(g.plannedFiles.size <= g.survivors.size)
      info(s"runtime pruning: ${g.plannedFiles.size}/${g.survivors.size} files planned")
    }
    graft.util.Scratch.rmNow(root)
  }

  test("join statistics: a small lake table broadcasts") {
    val root = graft.util.Scratch.dir("graft_v2bc_")
    LakeTable.commit(spark, root, events.limit(50), cfg, Seq("event_id"))
    val dim = spark.read.format("graft-lake").load(root)
      .select(col("event_id"), col("event_type"))
    val joined = events.join(dim, Seq("event_id"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr)
    graft.util.Scratch.rmNow(root)
  }

  test("PARTITIONED BY (days(ts)): a day-window predicate prunes most files") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.t_${System.nanoTime()}"
    // sf0.01 (~10k rows) + a 32-way range write → ~32 files, enough
    // for the skip ratio to be meaningful
    val ev01 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    ev01.createOrReplaceTempView("psd_events")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"""CREATE TABLE $t PARTITIONED BY (days(ts))
                   |AS SELECT * FROM psd_events""".stripMargin)
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    val b = spark.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                        |       min(ts) + INTERVAL 4 DAYS AS hi
                        |FROM psd_events""".stripMargin).collect()(0)
    val filtered = spark.table(t)
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
    val scan = graftScanOf(filtered)
    assert(scan.totalFiles >= 8,
      s"expected a multi-file layout, got ${scan.totalFiles}")
    assert(scan.survivors.size <= scan.totalFiles / 4,
      s"declared days(ts) layout should skip most files for a 2-day " +
        s"window: ${scan.survivors.size}/${scan.totalFiles}")
    // pruning is an IO bound, never the answer: row-identical to the
    // unpruned relation
    val expect = ev01
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
    assert(filtered.count() === expect.count())
    assert(sorted(filtered) === sorted(expect))
    spark.sql(s"DROP TABLE $t")
  }

  test("set_layout evolution: new generation time-prunes, old generation honestly doesn't") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val short = s"psd.ev_${System.nanoTime()}"
    val t = s"graft.$short"
    val ev01 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    ev01.createOrReplaceTempView("ple_events")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      // gen 1: identity(user_id) — ts extents span the whole month
      spark.sql(s"""CREATE TABLE $t PARTITIONED BY (user_id)
                   |AS SELECT * FROM ple_events WHERE event_id % 2 = 0""".stripMargin)
      // evolve the spec, metadata-only; re-evolving to the same spec
      // reports unchanged
      assert(spark.sql(s"CALL graft.system.set_layout('$short', 'days(ts)')")
        .collect()(0).getBoolean(0))
      assert(!spark.sql(s"CALL graft.system.set_layout('$short', 'days(ts)')")
        .collect()(0).getBoolean(0))
      // gen 2: days(ts) — range-clustered on ts
      spark.sql(s"INSERT INTO $t SELECT * FROM ple_events WHERE event_id % 2 = 1")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    val b = spark.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                        |       min(ts) + INTERVAL 4 DAYS AS hi
                        |FROM ple_events""".stripMargin).collect()(0)
    val filtered = spark.table(t)
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
    val scan = graftScanOf(filtered)
    val gen1 = scan.survivors.count(_.seq == 1)
    val gen2 = scan.survivors.count(_.seq == 2)
    val gen2Total = 16 // INSERT at 16 shuffle partitions → 16 range files
    assert(gen2 <= gen2Total / 4,
      s"evolved days(ts) generation should time-prune: $gen2 gen-2 files planned")
    // honest cost of metadata-only evolution: old identity-clustered
    // files have month-wide ts extents — none of them prune
    assert(gen1 >= 8, s"old-generation files unexpectedly pruned: $gen1")
    // pruning is an IO bound, never the answer
    val expect = ev01
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)))
    assert(sorted(filtered) === sorted(expect))
    spark.sql(s"DROP TABLE $t")
  }

  test("PARTITIONED BY (zorder(ts, user_id)): a 2-D predicate prunes most files") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.z_${System.nanoTime()}"
    val ev01 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    ev01.createOrReplaceTempView("psz_events")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
                   |  ts TIMESTAMP, event_type STRING, value DOUBLE)
                   |PARTITIONED BY (zorder(ts, user_id))""".stripMargin)
      spark.sql(s"INSERT INTO $t SELECT * FROM psz_events")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    // the z column is transport only — never lands in files/schema
    assert(!spark.table(t).schema.fieldNames.contains(
      graft.writer.BlockWriter.ClusterTmp))
    val b = spark.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                        |       min(ts) + INTERVAL 4 DAYS AS hi
                        |FROM psz_events""".stripMargin).collect()(0)
    def twoD(rel: org.apache.spark.sql.DataFrame) = rel
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)) &&
        col("user_id") >= 10 && col("user_id") < 40)
    val filtered = twoD(spark.table(t))
    val scan = graftScanOf(filtered)
    assert(scan.totalFiles >= 8,
      s"expected a multi-file layout, got ${scan.totalFiles}")
    assert(scan.survivors.size <= scan.totalFiles / 4,
      s"declared zorder layout should skip most files for a 2-D " +
        s"predicate: ${scan.survivors.size}/${scan.totalFiles}")
    assert(filtered.count() === twoD(ev01).count())
    assert(sorted(filtered) === sorted(twoD(ev01)))
    // CALL compact re-z-clusters: the bound still holds afterwards.
    // The rewrite fan-out follows the SESSION's shuffle parallelism,
    // which concurrently-running suites mutate — pin it for the call
    // and only assert the ratio when the layout stayed multi-file.
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"CALL graft.system.compact('psd.${t.split('.').last}')")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    val scan2 = graftScanOf(twoD(spark.table(t)))
    if (scan2.totalFiles >= 8)
      assert(scan2.survivors.size <= scan2.totalFiles / 4,
        s"z layout must survive compaction: ${scan2.survivors.size}/${scan2.totalFiles}")
    assert(twoD(spark.table(t)).count() === twoD(ev01).count())
    spark.sql(s"DROP TABLE $t")
  }

  test("PARTITIONED BY (zorder(ts, user_id, value)): a 3-D predicate prunes most files") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.z3_${System.nanoTime()}"
    val ev01 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    ev01.createOrReplaceTempView("psz3_events")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
                   |  ts TIMESTAMP, event_type STRING, value DOUBLE)
                   |PARTITIONED BY (zorder(ts, user_id, value))""".stripMargin)
      spark.sql(s"INSERT INTO $t SELECT * FROM psz3_events")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    val b = spark.sql("""SELECT min(ts) + INTERVAL 2 DAYS AS lo,
                        |       min(ts) + INTERVAL 4 DAYS AS hi
                        |FROM psz3_events""".stripMargin).collect()(0)
    def threeD(rel: org.apache.spark.sql.DataFrame) = rel
      .where(col("ts") >= lit(b.getTimestamp(0)) && col("ts") < lit(b.getTimestamp(1)) &&
        col("user_id") >= 10 && col("user_id") < 40 && col("value") < 25.0)
    val filtered = threeD(spark.table(t))
    val scan = graftScanOf(filtered)
    assert(scan.totalFiles >= 8,
      s"expected a multi-file layout, got ${scan.totalFiles}")
    // per-dim bucket resolution falls as files^(1/D): at 32 files a
    // third dimension leaves ~3 buckets of extent per dim, so the
    // bound is looser than the 2-D pin (≤ 1/4) by design — the win
    // over NO third dim is that `value` predicates prune at all (a
    // lexicographic (ts, user_id, value) sort leaves value extents
    // full-range in every file: zero pruning on the third column)
    assert(scan.survivors.size <= scan.totalFiles * 3 / 8,
      s"declared 3-D zorder layout should skip most files: " +
        s"${scan.survivors.size}/${scan.totalFiles}")
    assert(filtered.count() === threeD(ev01).count())
    assert(sorted(filtered) === sorted(threeD(ev01)))
    spark.sql(s"DROP TABLE $t")
  }

  test("geo bbox over PARTITIONED BY (zorder(lat_e6, lon_e6)) prunes most files") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.geo_${System.nanoTime()}"
    import graft.functions.GeoFns._
    val pts = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("lat_e6", latE6(col("event_id")))
      .withColumn("lon_e6", lonE6(col("event_id")))
    pts.createOrReplaceTempView("geo_spec_pts")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"""CREATE TABLE $t (event_id BIGINT, event_type STRING,
                   |  value DOUBLE, lat_e6 BIGINT, lon_e6 BIGINT)
                   |PARTITIONED BY (zorder(lat_e6, lon_e6))""".stripMargin)
      spark.sql(s"INSERT INTO $t SELECT event_id, event_type, value, lat_e6, lon_e6 FROM geo_spec_pts")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    def bbox(rel: DataFrame) = rel.where(
      col("lat_e6") >= -20000000L && col("lat_e6") < 10000000L &&
        col("lon_e6") >= 40000000L && col("lon_e6") < 100000000L)
    val filtered = bbox(spark.table(t))
    val scan = graftScanOf(filtered)
    assert(scan.totalFiles >= 8,
      s"expected a multi-file layout, got ${scan.totalFiles}")
    // the bbox covers 25% of the lat range × ~17% of lon — the geo
    // z layout must plan a fraction of the files, not the planet.
    // Bound 3/8 not 1/4: one z-bucket boundary file sits ON the bbox
    // edge and flips in/out with the range-cluster's sampling-order
    // sensitivity under concurrent suites (observed 8 vs 9 of 32) —
    // the law under test is "most files skipped", not that boundary
    assert(scan.survivors.size <= scan.totalFiles * 3 / 8,
      s"geo zorder layout should skip most files for a bbox: " +
        s"${scan.survivors.size}/${scan.totalFiles}")
    assert(filtered.count() === bbox(pts).count())
    assert(sorted(filtered.drop("lat_e6").drop("lon_e6")) ===
      sorted(bbox(pts).drop("lat_e6").drop("lon_e6")))
    spark.sql(s"DROP TABLE $t")
  }

  test("geo polygon containment over a zorder layout: bbox pre-prune bounds IO, parity decides") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.poly_${System.nanoTime()}"
    import graft.functions.GeoFns._
    val dir = "/root/testdata/sf0.01"
    val pts = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"))
      .withColumn("lat_e6", latE6(col("event_id")))
      .withColumn("lon_e6", lonE6(col("event_id")))
    pts.createOrReplaceTempView("poly_spec_pts")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"""CREATE TABLE $t (event_id BIGINT, event_type STRING,
                   |  lat_e6 BIGINT, lon_e6 BIGINT)
                   |PARTITIONED BY (zorder(lat_e6, lon_e6))""".stripMargin)
      spark.sql(s"INSERT INTO $t SELECT * FROM poly_spec_pts")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    // one polygon's bbox (≤ 6° × 12° of a 120° × 360° domain) must
    // prune the zorder layout to a sliver before any exact test runs
    val poly = graft.queries.Geo.polygonFrame(spark, dir)
      .filter(col("r_name") === "ASIA").collect().head
    val (latMin, latMax) = (poly.getAs[Long]("lat_min"), poly.getAs[Long]("lat_max"))
    val (lonMin, lonMax) = (poly.getAs[Long]("lon_min"), poly.getAs[Long]("lon_max"))
    val boxed = spark.table(t).where(
      col("lat_e6") >= latMin && col("lat_e6") <= latMax &&
        col("lon_e6") >= lonMin && col("lon_e6") <= lonMax)
    val scan = graftScanOf(boxed)
    assert(scan.totalFiles >= 8, s"expected multi-file layout, got ${scan.totalFiles}")
    assert(scan.survivors.size <= scan.totalFiles / 2,
      s"polygon bbox should prune the zorder layout: " +
        s"${scan.survivors.size}/${scan.totalFiles}")
    // containment through the pruned lake scan == the relational path
    def contained(src: org.apache.spark.sql.DataFrame) =
      src.join(broadcast(graft.queries.Geo.polygonFrame(spark, dir)
          .filter(col("r_name") === "ASIA")),
          col("lat_e6") >= col("lat_min") && col("lat_e6") <= col("lat_max") &&
            col("lon_e6") >= col("lon_min") && col("lon_e6") <= col("lon_max"))
        .filter(graft.queries.Geo.crossings(col("lat_e6"), col("lon_e6")) % 2 === 1)
        .select(col("event_id")).orderBy(col("event_id"))
        .collect().map(_.getLong(0)).toSeq
    val viaLake = contained(spark.table(t))
    assert(viaLake === contained(pts))
    assert(viaLake.nonEmpty, "fixture polygon should contain some points")
    spark.sql(s"DROP TABLE $t")
  }

  test("PARTITIONED BY (truncate(4, p_name)): prefix and range predicates prune most files") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.trc_${System.nanoTime()}"
    val part01 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), col("p_retailprice"))
    part01.createOrReplaceTempView("pst_part")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.sql(s"""CREATE TABLE $t (p_partkey BIGINT, p_name STRING, p_brand STRING,
                   |  p_size INT, p_retailprice DOUBLE)
                   |PARTITIONED BY (truncate(4, p_name))""".stripMargin)
      spark.sql(s"INSERT INTO $t SELECT * FROM pst_part")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    // prefix predicate → StringStartsWith → [p, p⁺) string stat bound
    val pref = spark.table(t).where(col("p_name").startsWith("small"))
    val scan = graftScanOf(pref)
    assert(scan.totalFiles >= 8,
      s"expected a multi-file layout, got ${scan.totalFiles}")
    assert(scan.survivors.size <= scan.totalFiles / 4,
      s"declared truncate layout should skip most files for a prefix " +
        s"probe: ${scan.survivors.size}/${scan.totalFiles}")
    val exp = part01.where(col("p_name").startsWith("small"))
    assert(pref.count() === exp.count())
    assert(sorted(pref) === sorted(exp))
    // one-sided string range bounds conjoin to the same pruning
    val rng = spark.table(t).where(col("p_name") >= "red" && col("p_name") < "rf")
    val scan2 = graftScanOf(rng)
    assert(scan2.survivors.size <= scan2.totalFiles / 4,
      s"string range should prune: ${scan2.survivors.size}/${scan2.totalFiles}")
    assert(rng.count() ===
      part01.where(col("p_name") >= "red" && col("p_name") < "rf").count())
    spark.sql(s"DROP TABLE $t")
  }

  test("shallow clone shares data files by reference; maintenance respects ownership") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    spark.sql(s"CREATE TABLE graft.psd.cs_$id (event_id BIGINT, user_id BIGINT, value DOUBLE)")
    events.select(col("event_id"), col("user_id"), col("value")).limit(500)
      .createOrReplaceTempView("cs_src")
    spark.sql(s"INSERT INTO graft.psd.cs_$id SELECT * FROM cs_src")
    spark.sql(s"CALL graft.system.clone('psd.cs_$id', 'psd.cd_$id')")
    // the catalog instance caches the root it was FIRST created with
    // (a conf change is deliberately ignored) — discover the live one
    // by locating the source table we just created
    val catRoot = {
      val st = java.nio.file.Files.list(graft.util.Scratch.root)
      try {
        val it = st.iterator()
        var found: Option[java.nio.file.Path] = None
        while (found.isEmpty && it.hasNext) {
          val d = it.next()
          if (java.nio.file.Files.isDirectory(
              d.resolve("psd").resolve(s"cs_$id").resolve("meta"))) found = Some(d)
        }
        found.getOrElse(fail(s"catalog dir for cs_$id not found"))
      } finally st.close()
    }
    def parquetsUnder(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val w = java.nio.file.Files.walk(p)
      try {
        val it = w.iterator()
        val buf = Seq.newBuilder[java.nio.file.Path]
        while (it.hasNext) { val q = it.next(); if (q.toString.endsWith(".parquet")) buf += q }
        buf.result()
      } finally w.close()
    }
    // ZERO data copied: the clone dir holds no parquet, yet reads the
    // full row set through the inherited references
    assert(parquetsUnder(catRoot.resolve("psd").resolve(s"cd_$id")).isEmpty,
      "shallow clone must not copy data files")
    assert(spark.table(s"graft.psd.cd_$id").count() === 500)
    // divergence: writes to the clone never touch the source
    spark.sql(s"INSERT INTO graft.psd.cd_$id VALUES (9000001, 1, 1.0)")
    assert(spark.table(s"graft.psd.cd_$id").count() === 501)
    assert(spark.table(s"graft.psd.cs_$id").count() === 500)
    // the clone's own maintenance cannot reclaim source files: expire
    // everything but the head on the clone, source still reads fully
    spark.sql(s"CALL graft.system.expire_snapshots('psd.cd_$id', " +
      s"${graft.lake.LakeTable.currentSnapshot(catRoot.resolve("psd").resolve(s"cd_$id").toString)})")
    assert(spark.table(s"graft.psd.cs_$id").count() === 500)
    assert(spark.table(s"graft.psd.cd_$id").count() === 501)
    spark.sql(s"DROP TABLE graft.psd.cd_$id")
    // dropping the clone leaves the source intact (ownership rule)
    assert(spark.table(s"graft.psd.cs_$id").count() === 500)
    spark.sql(s"DROP TABLE graft.psd.cs_$id")
  }

  test("CHECK constraints: SET/UNSET TBLPROPERTIES lifecycle, in-flight rejection") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val t = s"graft.psd.ck_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $t (event_id BIGINT, value DOUBLE)")
    // ALTER path: add a constraint post-create, bad SQL rejected at DDL
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.check.v_pos' = 'value >= 0')")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.check.bad' = 'no_such_col > 0')")
    }
    // NULL passes in-batch (SQL CHECK semantics: only definite FALSE
    // violates)
    spark.sql(s"INSERT INTO $t VALUES (1, 1.5), (2, 0.0), (5, CAST(NULL AS DOUBLE))")
    assert(spark.table(t).count() === 3)
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VALUES (3, 2.0), (4, -0.5)")
    }
    val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).mkString("\n")
    assert(chain.contains("v_pos"), s"error must name the constraint:\n$chain")
    // atomic: the passing row of the failed batch did NOT land
    assert(spark.table(t).count() === 3)
    // row-level ops are gated too: an UPDATE that would write a
    // violating row fails with the named constraint, atomically
    val uerr = intercept[Exception] {
      spark.sql(s"UPDATE $t SET value = -1.0 WHERE event_id = 1")
    }
    val uchain = Iterator.iterate(uerr: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).mkString("\n")
    assert(uchain.contains("v_pos"), s"UPDATE must hit the constraint:\n$uchain")
    assert(spark.table(t).where(col("value") < 0).count() === 0)
    // MERGE inserts are gated; a clean MERGE still lands
    intercept[Exception] {
      spark.sql(s"MERGE INTO $t USING (SELECT 7L AS id, -2.0 AS v) s ON $t.event_id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (event_id, value) VALUES (s.id, s.v)")
    }
    assert(spark.table(t).count() === 3)
    spark.sql(s"MERGE INTO $t USING (SELECT 7L AS id, 2.0 AS v) s ON $t.event_id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (event_id, value) VALUES (s.id, s.v)")
    assert(spark.table(t).count() === 4)
    // UNSET lifts enforcement
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.check.v_pos')")
    spark.sql(s"INSERT INTO $t VALUES (6, -9.0)")
    assert(spark.table(t).count() === 5)
    spark.sql(s"DROP TABLE $t")
  }

  test("lake_nested: scan reads only the referenced nested columns") {
    val df = SparkEntry.queries("lake_nested")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    val rs = plan.split("ReadSchema:").last.split('\n').head
    assert(rs.contains("ctx"), s"nested struct must be read: $rs")
    assert(!rs.contains("ts:"), s"unreferenced top-level column must be pruned: $rs")
    assert(df.count() > 0)
  }

  test("lake_map: map columns commit/round-trip; scalar projections prune the map; MERGE and eq-deletes carry map payloads") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val tbl = s"graft.psd.mp_$id"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, props MAP<STRING, BIGINT>)")
    spark.sql(s"INSERT INTO $tbl VALUES " +
      "(1, map('a', 10L, 'b', 1L)), (2, map('a', 20L)), (3, map('c', 5L))")
    // element_at misses return NULL, keys extract exactly
    assert(spark.sql(s"SELECT SUM(element_at(props, 'a')) FROM $tbl")
      .head().getLong(0) === 30L)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $tbl WHERE map_contains_key(props, 'b')")
      .head().getLong(0) === 1L)
    // a scalar-only projection must NOT read the map column
    val rs = spark.sql(s"SELECT SUM(k) FROM $tbl").queryExecution
      .executedPlan.toString.split("ReadSchema:").last.split('\n').head
    assert(!rs.contains("props"), s"map column must be pruned: $rs")
    // MERGE carries map payloads through the MoR write path
    spark.sql(s"""MERGE INTO $tbl t USING (
                 |  SELECT 2 AS k, map('a', 200L, 'z', 9L) AS props
                 |  UNION ALL SELECT 4, map('d', 7L)) src
                 |ON t.k = src.k
                 |WHEN MATCHED THEN UPDATE SET t.props = src.props
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT SUM(element_at(props, 'a')) FROM $tbl")
      .head().getLong(0) === 210L)
    assert(spark.sql(s"SELECT element_at(props, 'd') FROM $tbl WHERE k = 4")
      .head().getLong(0) === 7L)
    // time travel serves the pre-merge map content back
    assert(spark.sql(
      s"SELECT element_at(props, 'a') FROM $tbl VERSION AS OF 1 WHERE k = 2")
      .head().getLong(0) === 20L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("namespaces: CREATE / SHOW / DROP lifecycle with CASCADE guard") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val ns = s"nsx_${System.nanoTime()}"
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    intercept[Exception] { spark.sql(s"CREATE NAMESPACE graft.$ns") }
    assert(spark.sql(s"SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains(ns))
    spark.sql(s"CREATE TABLE graft.$ns.t1 (k BIGINT)")
    spark.sql(s"INSERT INTO graft.$ns.t1 VALUES (1), (2)")
    assert(spark.sql(s"SHOW TABLES IN graft.$ns").collect()
      .map(_.getString(1)).contains("t1"))
    // non-empty namespace refuses a bare DROP
    intercept[Exception] { spark.sql(s"DROP NAMESPACE graft.$ns") }
    assert(spark.table(s"graft.$ns.t1").count() === 2)
    spark.sql(s"DROP NAMESPACE graft.$ns CASCADE")
    assert(!spark.sql(s"SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains(ns))
  }

  test("atomic CTAS/RTAS: staged swap commits; failed replace aborts clean") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val t = s"graft.psd.rt_$id"
    spark.sql(s"CREATE TABLE $t AS SELECT id, id * 2 AS v FROM RANGE(100)")
    assert(spark.table(t).count() === 100)
    // duplicate atomic CTAS rejected
    intercept[Exception] { spark.sql(s"CREATE TABLE $t AS SELECT 1 AS x") }
    // RTAS swaps definition + schema atomically
    spark.sql(s"CREATE OR REPLACE TABLE $t AS SELECT COUNT(*) AS n FROM RANGE(7)")
    assert(spark.table(t).collect().head.getLong(0) === 7L)
    // failing replace aborts: content identical, no staged residue
    intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE $t AS " +
        "SELECT CASE WHEN id > -1 THEN CAST(raise_error('abort probe') AS BIGINT) " +
        "ELSE id END AS v FROM RANGE(10)").collect()
    }
    assert(spark.table(t).collect().head.getLong(0) === 7L)
    val parent = {
      val st = java.nio.file.Files.list(graft.util.Scratch.root)
      try {
        val it = st.iterator()
        var found: Option[java.nio.file.Path] = None
        while (found.isEmpty && it.hasNext) {
          val d = it.next()
          if (java.nio.file.Files.isDirectory(
              d.resolve("psd").resolve(s"rt_$id").resolve("meta"))) found = Some(d.resolve("psd"))
        }
        found.getOrElse(fail(s"table dir for rt_$id not found"))
      } finally st.close()
    }
    val leftovers = {
      val st = java.nio.file.Files.list(parent)
      try {
        val it = st.iterator()
        val buf = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith(s"rt_$id.")) buf += n
        }
        buf.result()
      } finally st.close()
    }
    assert(leftovers.isEmpty, s"staged/trash residue: $leftovers")
    spark.sql(s"DROP TABLE $t")
  }

  test("SQL views: create / replace / drop lifecycle, view-over-view, live re-resolution") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val t = s"graft.psd.vt_$id"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0), (2, 20.0), (2, 5.0)")
    spark.sql(s"CREATE VIEW graft.psd.vv_$id AS SELECT k, SUM(v) AS total FROM $t GROUP BY k")
    assert(spark.sql(s"SELECT * FROM graft.psd.vv_$id ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((1L, 10.0), (2L, 25.0)))
    // live re-resolution: later inserts show through the view
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0)")
    assert(spark.sql(s"SELECT total FROM graft.psd.vv_$id WHERE k = 1")
      .collect().head.getDouble(0) === 11.0)
    // view-over-view composes
    spark.sql(s"CREATE VIEW graft.psd.vw2_$id AS " +
      s"SELECT COUNT(*) AS n FROM graft.psd.vv_$id")
    assert(spark.sql(s"SELECT n FROM graft.psd.vw2_$id").collect().head.getLong(0) === 2L)
    // duplicate create rejected; OR REPLACE swaps the definition
    intercept[Exception] {
      spark.sql(s"CREATE VIEW graft.psd.vv_$id AS SELECT 1 AS one")
    }
    spark.sql(s"CREATE OR REPLACE VIEW graft.psd.vv_$id AS " +
      s"SELECT k, COUNT(*) AS total FROM $t GROUP BY k")
    assert(spark.sql(s"SELECT total FROM graft.psd.vv_$id WHERE k = 2")
      .collect().head.getLong(0) === 2L)
    // unresolvable view SQL is rejected at CREATE, not first read
    intercept[Exception] {
      spark.sql(s"CREATE VIEW graft.psd.bad_$id AS SELECT * FROM no_such_table_xyz")
    }
    // drop lifecycle
    spark.sql(s"DROP VIEW graft.psd.vw2_$id")
    intercept[Exception] { spark.sql(s"SELECT * FROM graft.psd.vw2_$id").collect() }
    intercept[Exception] { spark.sql(s"DROP VIEW graft.psd.vw2_$id") }
    spark.sql(s"DROP VIEW IF EXISTS graft.psd.vw2_$id") // no-op, no error
    spark.sql(s"DROP VIEW graft.psd.vv_$id")
    spark.sql(s"DROP TABLE $t")
  }

  test("SQL materialized views: DDL create, CALL refresh_mv, basis metadata row; fact-only refresh provably never scans the fact head") {
    import graft.lake.LakeTable
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.mvf_$id"; val dim = s"graft.psd.mvd_$id"
    val mv = s"graft.psd.mv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, k STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1, 'k0', 10), (2, 'k1', 20), (3, 'k2', 30)")
    spark.sql(s"CREATE TABLE $dim (k STRING, g STRING)")
    spark.sql(s"INSERT INTO $dim VALUES ('k0', 'a'), ('k1', 'a'), ('k2', 'b')")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact JOIN $dim USING (k) GROUP BY g""".stripMargin)
    def mvState(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT g, n, sx FROM $mv").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mvState() === Map("a" -> ((2L, 30L)), "b" -> ((1L, 30L))))
    // basis metadata row (the t.history-style operator view)
    def basisRow(): (Int, Int, Int) = {
      val r = spark.sql(
        s"SELECT basis_fact, basis_dim, snapshot FROM $mv.mv").head()
      (r.getInt(0), r.getInt(1), r.getInt(2))
    }
    assert(basisRow() === ((1, 1, 1)))
    // ---- fact-only refresh: hide the fact HEAD's data files — the
    // delta-join law reads only the changelog of the NEW commit, so
    // the refresh must succeed with the old files unreadable. This is
    // the strongest possible "no fact-head scan" pin: a plan that
    // touched them would throw.
    // resolve through the LIVE catalog instance: the 'graft' plugin
    // is memoized with whichever root the session initialized first,
    // so a hand-built path can point at the wrong directory when
    // suites share the session
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.mvf_$id")
    val v1Files = LakeTable.manifest(factDir, 1).files.map(_.path)
    def shift(suffix: String): Unit = v1Files.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      java.nio.file.Files.move(
        if (suffix.isEmpty) java.nio.file.Paths.get(f.toString + ".hidden") else f,
        if (suffix.isEmpty) f else java.nio.file.Paths.get(f.toString + suffix)): Unit
    }
    spark.sql(s"INSERT INTO $fact VALUES (4, 'k0', 40), (5, 'k2', 50)")
    shift(".hidden")
    val basis2 =
      try spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.mv_$id')")
        .head().getString(0)
      finally shift("")
    assert(basis2 === "fact=2,dim=1")
    assert(mvState() === Map("a" -> ((3L, 70L)), "b" -> ((2L, 80L))))
    assert(basisRow() === ((2, 1, 2)))
    // ---- dim rewire via SQL MERGE, then one refresh folds F₁ ⋈ ΔD;
    // group b's count reaches zero and leaves the view
    spark.sql(s"""MERGE INTO $dim t USING (SELECT 'k2' AS k, 'a' AS g) src
                 |ON t.k = src.k
                 |WHEN MATCHED THEN UPDATE SET t.g = src.g""".stripMargin)
    assert(spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.mv_$id')")
      .head().getString(0) === "fact=2,dim=2")
    assert(mvState() === Map("a" -> ((5L, 150L))))
    assert(basisRow() === ((2, 2, 3)))
    // ---- maintenance between refreshes must not lose the basis: the
    // MoR fold's documented debt remedy is compaction, whose commit
    // note is NOT a basis — the walk-back finds the newest jmv-basis
    // below it and the lifecycle continues
    spark.sql(s"CALL graft.system.compact('psd.mv_$id')")
    assert(basisRow() === ((2, 2, 4)))
    spark.sql(s"INSERT INTO $fact VALUES (6, 'k1', 60)")
    assert(spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.mv_$id')")
      .head().getString(0) === "fact=3,dim=2")
    assert(mvState() === Map("a" -> ((6L, 210L))))
    // ---- guardrails: non-signed-distributive grammar rejected at
    // DDL; refresh of a non-MV table rejected pointedly
    val eGrammar = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE MATERIALIZED VIEW graft.psd.mvbad_$id AS
                   |SELECT g, COUNT(*) AS n, AVG(x) AS ax
                   |FROM $fact JOIN $dim USING (k) GROUP BY g""".stripMargin)
    }
    assert(eGrammar.getMessage.contains("signed-distributive"))
    val eNotMv = intercept[IllegalArgumentException] {
      spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.mvf_$id')").collect()
    }
    assert(eNotMv.getMessage.contains("not a materialized view"))
    // ---- second MV kind through the same front door: single-table
    // MIN/MAX routes to the targeted-recompute law, one refresh verb
    val mm = s"graft.psd.mm_$id"
    spark.sql(s"""CREATE MATERIALIZED VIEW $mm AS
                 |SELECT k, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi
                 |FROM $fact GROUP BY k""".stripMargin)
    val r0 = spark.sql(s"SELECT lo, hi FROM $mm WHERE k = 'k0'").head()
    assert((r0.getLong(0), r0.getLong(1)) === ((10L, 40L)))
    spark.sql(s"INSERT INTO $fact VALUES (7, 'k0', 5)")
    assert(spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.mm_$id')")
      .head().getString(0) === "fact=4")
    assert(spark.sql(s"SELECT lo FROM $mm WHERE k = 'k0'").head().getLong(0) === 5L)
    val rb = spark.sql(s"SELECT basis_fact, basis_dim FROM $mm.mv").head()
    assert((rb.getInt(0), rb.getInt(1)) === ((4, 0)))
    val eMm = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE MATERIALIZED VIEW graft.psd.mmbad_$id AS
                   |SELECT k, COUNT(*) AS n, MIN(x) AS lo
                   |FROM $fact GROUP BY k""".stripMargin)
    }
    assert(eMm.getMessage.contains("BOTH a MIN and a MAX"))
    spark.sql(s"DROP TABLE $mm")
    // MVs are tables: DROP TABLE tears the object down
    spark.sql(s"DROP TABLE $mv")
    intercept[Exception] { spark.sql(s"SELECT * FROM $mv").collect() }
    spark.sql(s"DROP TABLE $fact"); spark.sql(s"DROP TABLE $dim")
  }

  test("composite-group MIN/MAX MV through SQL: sub-group columns ride the targeted recompute; a vanished sub-group retires, its lead siblings survive") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.cgf_$id"; val mv = s"graft.psd.cgv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, h BIGINT, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 0, 10), (2, 'a', 0, 20), (3, 'a', 1, 30),
                 |(4, 'b', 0, 40), (5, 'b', 1, 50), (6, 'b', 1, 60)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, h, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi
                 |FROM $fact GROUP BY g, h""".stripMargin)
    def state(): Map[(String, Long), (Long, Long, Long)] =
      spark.sql(s"SELECT g, h, n, lo, hi FROM $mv").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(state() === Map(
      ("a", 0L) -> ((2L, 10L, 20L)), ("a", 1L) -> ((1L, 30L, 30L)),
      ("b", 0L) -> ((1L, 40L, 40L)), ("b", 1L) -> ((2L, 50L, 60L))))
    // delete sub-group (b,1)'s minimum AND vanish (a,1) entirely —
    // one refresh: (b,1)'s lo must RISE, (a,1) must retire while its
    // lead sibling (a,0) survives untouched
    spark.sql(s"DELETE FROM $fact WHERE fid IN (3, 5)")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.cgv_$id')")
    val st = state()
    assert(st === Map(
      ("a", 0L) -> ((2L, 10L, 20L)),
      ("b", 0L) -> ((1L, 40L, 40L)), ("b", 1L) -> ((1L, 60L, 60L))))
    spark.sql(s"DROP TABLE $mv"); spark.sql(s"DROP TABLE $fact")
  }

  test("SQL single-table COUNT/SUM MV: incr refresh provably reads only the delta files; MoR delete falls back to full; AVG sugar; grammar guards") {
    import graft.lake.LakeTable
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.sf_$id"; val mv = s"graft.psd.sv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, SUM(x) AS sx, AVG(x) AS ax
                 |FROM $fact GROUP BY g""".stripMargin)
    def state(): Map[String, (Long, Long, Double)] =
      spark.sql(s"SELECT g, n, sx, ax FROM $mv").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
    def meta(): (Int, Int, String) = {
      val r = spark.sql(s"SELECT basis_fact, basis_dim, mode FROM $mv.mv").head()
      (r.getInt(0), r.getInt(1), r.getString(2))
    }
    assert(state() === Map("a" -> ((2L, 30L, 15.0)), "b" -> ((1L, 30L, 30.0))))
    assert(meta() === ((1, 0, "full")))
    // ---- pure-append refresh is INCREMENTAL: hide every pre-basis
    // fact file — the fold reads only the delta files, so a plan
    // touching the old files would throw (the strongest pin)
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.sf_$id")
    spark.sql(s"INSERT INTO $fact VALUES (4, 'a', 40), (5, 'c', 50)")
    val v1Files = LakeTable.manifest(factDir, 1).files.map(_.path)
    def shift(hide: Boolean): Unit = v1Files.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(hide = true)
    val basis2 =
      try spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.sv_$id')")
        .head().getString(0)
      finally shift(hide = false)
    assert(basis2 === "fact=2")
    assert(meta() === ((2, 0, "incr")),
      "a pure-append range must fold incrementally")
    assert(state() === Map("a" -> ((3L, 70L, 70.0 / 3)), "b" -> ((1L, 30L, 30.0)),
      "c" -> ((1L, 50L, 50.0))),
      "derived AVG must be recomputed from the folded SUM and n")
    // ---- a MoR DELETE breaks append-only: the refresh recomputes
    // from the head, exactly once, and says so in the metadata row
    spark.sql(s"DELETE FROM $fact WHERE fid = 2")
    assert(spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.sv_$id')")
      .head().getString(0) === "fact=3")
    assert(meta() === ((3, 0, "full")),
      "a non-append range must fall back to the full recompute")
    assert(state() === Map("a" -> ((2L, 50L, 25.0)), "b" -> ((1L, 30L, 30.0)),
      "c" -> ((1L, 50L, 50.0))))
    // ---- grammar guards: AVG in a COUNT/SUM view without the
    // same-argument SUM is rejected AT DDL, pointedly
    val eAvg = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE MATERIALIZED VIEW graft.psd.svbad_$id AS
                   |SELECT g, COUNT(*) AS n, AVG(x) AS ax
                   |FROM $fact GROUP BY g""".stripMargin)
    }
    assert(eAvg.getMessage.contains("derives from a stored SUM"), eAvg.getMessage)
    spark.sql(s"DROP TABLE $mv"); spark.sql(s"DROP TABLE $fact")
  }

  test("SQL distinct-count MV: signed (group,key) state folds appends AND MoR deletes incrementally; keys retire at 0; rewrite serves COUNT(DISTINCT)") {
    import graft.lake.LakeTable
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.df_$id"; val mv = s"graft.psd.dv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, h BIGINT, u BIGINT, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 0, 100, 10), (2, 'a', 0, 100, 20),
                 |(3, 'a', 1, 200, 30), (4, 'b', 0, 300, 40)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, h, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                 |  SUM(COALESCE(x, 0)) AS sx
                 |FROM $fact GROUP BY g, h""".stripMargin)
    def state(): Map[(String, Long), (Long, Long, Long)] =
      spark.sql(s"SELECT g, h, n, du, sx FROM $mv").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def mode(): String =
      spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    assert(state() === Map(("a", 0L) -> ((2L, 1L, 30L)),
      ("a", 1L) -> ((1L, 1L, 30L)), ("b", 0L) -> ((1L, 1L, 40L))),
      "duplicate keys must count once")
    assert(mode() === "full")
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.df_$id")
    val mvDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.dv_$id")
    // ---- append refresh folds ONLY the changelog of the new commit:
    // hide every pre-basis fact file — a plan touching them throws
    spark.sql(s"INSERT INTO $fact VALUES (5, 'a', 0, 400, 50), (6, 'b', 0, 300, 60)")
    val v1Files = LakeTable.manifest(factDir, 1).files.map(_.path)
    def shift(hide: Boolean): Unit = v1Files.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(hide = true)
    try spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.dv_$id')"): Unit
    finally shift(hide = false)
    assert(mode() === "signed", "an append folds through the signed state")
    assert(state() === Map(("a", 0L) -> ((3L, 2L, 80L)),
      ("a", 1L) -> ((1L, 1L, 30L)), ("b", 0L) -> ((2L, 1L, 100L))),
      "a re-inserted key (300) must not inflate the distinct count")
    // ---- a MoR DELETE stays INCREMENTAL (the single kind's full-
    // recompute case): one copy of the duplicated key 100 dies (du
    // keeps it), key 200 fully retires and empties its group
    spark.sql(s"DELETE FROM $fact WHERE fid IN (1, 3)")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.dv_$id')")
    assert(mode() === "signed",
      "deletes fold signed — never a full recompute")
    assert(state() === Map(("a", 0L) -> ((2L, 2L, 70L)),
      ("b", 0L) -> ((2L, 1L, 100L))),
      "a key retires at multiplicity 0; an emptied group leaves the view")
    // ---- rewrite: the COUNT(DISTINCT) fact query is served from the
    // MV — plan-level scan check plus every fact data file hidden
    val q = s"""SELECT g, h, COUNT(*) AS cnt, COUNT(DISTINCT u) AS du,
               |SUM(COALESCE(x, 0)) AS sx FROM $fact GROUP BY g, h""".stripMargin
    assert(mvScanRoots(q) === Seq(mvDir), "exact tier must scan the MV only")
    shiftFiles(factDir, hide = true)
    val served =
      try spark.sql(q).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      finally shiftFiles(factDir, hide = false)
    assert(served === Set(("a", 0L, 2L, 2L, 70L), ("b", 0L, 2L, 1L, 100L)))
    // a DIFFERENT distinct argument never binds to the stored column
    assert(mvScanRoots(
      s"SELECT g, h, COUNT(DISTINCT x) AS dx FROM $fact GROUP BY g, h")
      === Seq(factDir), "COUNT(DISTINCT <other col>) must run as written")
    // COUNT(DISTINCT) does NOT roll up from per-group counts — it
    // re-aggregates the hidden (group, key) STATE table instead
    // (state-sized, never fact-sized), fact files still hidden
    val stRoot = graft.lake.DistinctMv.stateRoot(mvDir)
    assert(mvScanRoots(
      s"SELECT g, COUNT(DISTINCT u) AS du FROM $fact GROUP BY g")
      === Seq(stRoot),
      "a group-subset COUNT(DISTINCT) must serve from the state table")
    shiftFiles(factDir, hide = true)
    try assert(spark.sql(
      s"""SELECT g, COUNT(*) AS c, COUNT(DISTINCT u) AS du,
         |SUM(COALESCE(x, 0)) AS sx FROM $fact GROUP BY g""".stripMargin)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet ===
      Set(("a", 2L, 2L, 70L), ("b", 2L, 1L, 100L)),
      "the state rollup must fold multiplicities/partials exactly")
    finally shiftFiles(factDir, hide = false)
    // ---- stale over an append-only gap: the distinct kind
    // COMPENSATES FROM ITS STATE — COUNT(DISTINCT u) = distinct keys
    // of state@basis ∪ Δ-file keys per group (exact even though the
    // delta re-inserts an already-counted key), COUNT(*) =
    // SUM(multiplicity) + Δ rows, SUMs fold per-row. The plan scans
    // the state and the delta files, never the visible MV rows and
    // never the fact head: every PRE-APPEND fact file hidden.
    spark.sql(s"INSERT INTO $fact VALUES (7, 'a', 0, 100, 70)")
    // the only LAKE scan is the state (the delta side reads the
    // appended files directly — manifest-resolved, never the head)
    assert(mvScanRoots(q) === Seq(stRoot),
      "a stale distinct MV must serve state ∪ delta — not MV rows or fact head")
    val preApp = LakeTable.manifest(factDir,
      LakeTable.currentSnapshot(factDir)).files
      .filter(_.seq < LakeTable.currentSnapshot(factDir)).map(_.path)
    assert(preApp.nonEmpty)
    def shiftPre(hide: Boolean): Unit = preApp.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shiftPre(hide = true)
    try assert(spark.sql(q).collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet ===
      Set(("a", 0L, 3L, 2L, 140L), ("b", 0L, 2L, 1L, 100L)),
      "state ∪ delta must fold exactly (re-seen key not double-counted)")
    finally shiftPre(hide = false)
    // the group-SUBSET stale shape folds through the same union
    assert(spark.sql(
      s"SELECT g, COUNT(DISTINCT u) AS du FROM $fact GROUP BY g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("a", 2L), ("b", 1L)))
    // ---- grammar guards
    val eTwo = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE MATERIALIZED VIEW graft.psd.dbad_$id AS
                   |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                   |  COUNT(DISTINCT u) AS du2
                   |FROM $fact GROUP BY g""".stripMargin)
    }
    assert(eTwo.getMessage.contains("duplicate COUNT(DISTINCT"),
      eTwo.getMessage)
    val eMin = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE MATERIALIZED VIEW graft.psd.dbad_$id AS
                   |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                   |  MIN(x) AS mn, MAX(x) AS mx
                   |FROM $fact GROUP BY g""".stripMargin)
    }
    assert(eMin.getMessage.contains("MIN/MAX measures cannot share a view"),
      eMin.getMessage)
    val eSelf = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE MATERIALIZED VIEW graft.psd.dbad_$id AS
                   |SELECT g, COUNT(*) AS n, COUNT(DISTINCT g) AS dg
                   |FROM $fact GROUP BY g""".stripMargin)
    }
    assert(eSelf.getMessage.contains("constant 1 per group"), eSelf.getMessage)
    spark.sql(s"DROP MATERIALIZED VIEW $mv"); spark.sql(s"DROP TABLE $fact")
  }

  test("distinct-MV fold is O(Δ): state AND view land as MoR merges — untouched files byte-identical; the refresh reads only delta + touched-lead files") {
    import graft.lake.{DistinctMv, LakeTable}
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_dmor_fact_")
    val mv = graft.util.Scratch.dir("graft_dmor_mv_")
    val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 4)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 4)
    def rows(ids: Seq[Long], g: Long => String, u: Long => Long) =
      ids.map(i => (i, g(i), u(i), i * 10L)).toDF("id", "g", "u", "x")
    // four lead groups, four rows each; u repeats inside a group
    LakeTable.commit(s, fact,
      rows(1L to 16L, i => s"k${(i - 1) / 4}", i => 100L + (i / 2)),
      fCfg, Seq("id", "g"))
    DistinctMv.create(s, fact, mv, Seq("g"), "u", "du", mCfg,
      sums = Seq(("sx", "x")))
    val stRoot = DistinctMv.stateRoot(mv)
    def bytesOf(p: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.stripPrefix("file:"))).toSeq
    def filesAway(dir: String, lead: String): Seq[String] =
      LakeTable.manifest(dir, LakeTable.currentSnapshot(dir)).files
        .filter(_.stats.get("g").exists(cs =>
          cs.maxS < lead || cs.minS > lead)).map(_.path)
    def shift(paths: Seq[String], hide: Boolean): Unit = paths.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    def viewState(): Map[String, (Long, Long, Long)] =
      LakeTable.read(s, mv).collect().map(r =>
        r.getAs[String]("g") -> ((r.getAs[Long]("n"), r.getAs[Long]("du"),
          r.getAs[Long]("sx")))).toMap
    assert(viewState() === Map(
      "k0" -> ((4L, 3L, 100L)), "k1" -> ((4L, 3L, 260L)),
      "k2" -> ((4L, 3L, 420L)), "k3" -> ((4L, 3L, 580L))))
    val stAway1 = filesAway(stRoot, "k0")
    val mvAway1 = filesAway(mv, "k0")
    assert(stAway1.nonEmpty && mvAway1.nonEmpty, "fixture needs per-lead files")
    val stBytes1 = stAway1.map(p => p -> bytesOf(p)).toMap
    val mvBytes1 = mvAway1.map(p => p -> bytesOf(p)).toMap
    // ---- append touching ONLY k0 (one new user, one already-seen):
    // hide every pre-append FACT file AND every k0-free STATE and
    // VIEW file — the refresh must plan none of them
    LakeTable.commit(s, fact,
      Seq((17L, "k0", 999L, 170L), (18L, "k0", 100L, 180L))
        .toDF("id", "g", "u", "x"), fCfg, Seq("id", "g"))
    val head = LakeTable.currentSnapshot(fact)
    val preAppend = LakeTable.manifest(fact, head).files
      .filter(_.seq < head).map(_.path)
    val hiddenAll = preAppend ++ stAway1 ++ mvAway1
    shift(hiddenAll, hide = true)
    try DistinctMv.refresh(s, fact, mv, Seq("g"), "u", "du", mCfg,
      sums = Seq(("sx", "x"))): Unit
    finally shift(hiddenAll, hide = false)
    assert(DistinctMv.mode(mv) === "signed")
    assert(viewState() === Map(
      "k0" -> ((6L, 4L, 450L)), "k1" -> ((4L, 3L, 260L)),
      "k2" -> ((4L, 3L, 420L)), "k3" -> ((4L, 3L, 580L))),
      "one new user joins k0; the re-seen user must not inflate du")
    // untouched lead groups' STATE and VIEW files survived the merge
    // BY REFERENCE, byte for byte
    val stHead = LakeTable.manifest(stRoot,
      LakeTable.currentSnapshot(stRoot)).files.map(_.path).toSet
    val mvHead = LakeTable.manifest(mv,
      LakeTable.currentSnapshot(mv)).files.map(_.path).toSet
    assert(stAway1.toSet.subsetOf(stHead),
      "state fold must be a MERGE — untouched cells kept by reference")
    assert(mvAway1.toSet.subsetOf(mvHead),
      "view fold must be a MERGE — untouched leads kept by reference")
    stAway1.foreach(p => assert(bytesOf(p) === stBytes1(p),
      "untouched state files must stay byte-identical"))
    mvAway1.foreach(p => assert(bytesOf(p) === mvBytes1(p),
      "untouched view files must stay byte-identical"))
    // ---- MoR DELETE retiring ALL of k3: the fold's retire branches
    // (state cells at multiplicity 0, the lead's visible row) land as
    // pure mask commits; k3-free state/view files stay byte-identical
    // (the delete commit's changelog legitimately reads the fact —
    // only state/view reads are pinned here)
    val stAway3 = filesAway(stRoot, "k3")
    val mvAway3 = filesAway(mv, "k3")
    val stBytes3 = stAway3.map(p => p -> bytesOf(p)).toMap
    val mvBytes3 = mvAway3.map(p => p -> bytesOf(p)).toMap
    LakeTable.deleteWhere(s, fact, "id", (13L to 16L).toDF("id"))
    val hidden3 = stAway3 ++ mvAway3
    shift(hidden3, hide = true)
    try DistinctMv.refresh(s, fact, mv, Seq("g"), "u", "du", mCfg,
      sums = Seq(("sx", "x"))): Unit
    finally shift(hidden3, hide = false)
    assert(viewState() === Map(
      "k0" -> ((6L, 4L, 450L)), "k1" -> ((4L, 3L, 260L)),
      "k2" -> ((4L, 3L, 420L))),
      "an emptied lead group must leave the view via the mask")
    stAway3.foreach(p => assert(bytesOf(p) === stBytes3(p)))
    mvAway3.foreach(p => assert(bytesOf(p) === mvBytes3(p)))
    // state grain holds across the merges: one live row per (g, u)
    val st = LakeTable.read(s, stRoot)
    assert(st.groupBy(col("g"), col("u")).count()
      .filter(col("count") > 1).isEmpty,
      "the merge mask must retire superseded cells exactly")
    assert(st.filter(col("g") === "k3").isEmpty)
  }

  /** Every lake-table root the optimized plan scans the state of. A
    * compensated rewrite's delta side is a relation pinned to the
    * appended files only (`LakeTable.incrementalRead`), not a scan of
    * the table: it is left out.
    */
  private def mvScanRoots(sql: String): Seq[String] =
    spark.sql(sql).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        s.relation
    }.map(_.table.asInstanceOf[graft.sources.GraftLakeTable]).filter(_.mvRewritable)
      .map(_.root)

  /** Rename the head manifest's data files out of the way (hide) or
    * back (restore) — the "this plan never scanned the table" pin.
    */
  private def shiftFiles(dir: String, hide: Boolean): Unit =
    graft.lake.LakeTable.manifest(dir, graft.lake.LakeTable.currentSnapshot(dir))
      .files.map(_.path).foreach { p =>
        val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
        val h = java.nio.file.Paths.get(f.toString + ".hidden")
        java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
      }

  test("MV query rewrite: fresh MVs answer aggregates (exact, filtered, rollup); stale/unsafe shapes run as written") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.qrf_$id"
    val mv = s"graft.psd.qrv_$id"; val mv2 = s"graft.psd.qrw_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u BIGINT, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 0, 10), (2, 'a', 1, 20),
                 |(3, 'b', 0, 30), (4, 'b', 1, 40), (5, 'b', 1, 50)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, SUM(x) AS sx FROM $fact GROUP BY g""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv2 AS
                 |SELECT g, u, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact GROUP BY g, u""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.qrf_$id")
    val mvDir = cat.tableDir(s"psd.qrv_$id")
    val mv2Dir = cat.tableDir(s"psd.qrw_$id")
    def scans(sql: String): Seq[String] = mvScanRoots(sql)
    val q = s"SELECT g, COUNT(*) AS c, SUM(x) AS s FROM $fact GROUP BY g"
    // ---- exact tier: the plan scans the MV, not the fact
    assert(scans(q) === Seq(mvDir))
    // ---- strongest value pin: hide EVERY fact data file — only a
    // plan that reads the MVs alone can produce these answers
    def hideAll(hide: Boolean): Unit = shiftFiles(factDir, hide)
    hideAll(hide = true)
    try {
      assert(spark.sql(q).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map("a" -> ((2L, 30L)), "b" -> ((3L, 120L))))
      // filter on a group column commutes with the grouping
      assert(spark.sql(s"$q HAVING COUNT(*) > 2").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map("b" -> ((3L, 120L))))
      assert(spark.sql(
        s"SELECT g, SUM(x) AS s FROM $fact WHERE g = 'b' GROUP BY g")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("b", 120L)))
      // rollup tier: {u} ⊂ {g, u} with a filter on the grouped-away
      // dimension — COUNT(*) → SUM(n), SUM → SUM over the (g, u) MV
      assert(spark.sql(
        s"SELECT u, COUNT(*) AS c, SUM(x) AS s FROM $fact WHERE g = 'b' GROUP BY u")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map(0L -> ((1L, 30L)), 1L -> ((2L, 90L))))
    } finally hideAll(hide = false)
    // ---- unsafe shapes run as written (against the fact scan)
    assert(scans(s"SELECT g, COUNT(DISTINCT u) AS c FROM $fact GROUP BY g")
      === Seq(factDir), "DISTINCT never rewrites")
    assert(scans(s"SELECT g, SUM(fid) AS s FROM $fact GROUP BY g")
      === Seq(factDir), "a measure the MV does not store never rewrites")
    assert(scans(s"SELECT g, COUNT(*) AS c FROM $fact WHERE x > 15 GROUP BY g")
      === Seq(factDir), "a filter on a non-group column never rewrites")
    // the GLOBAL aggregate rolls up too (COUNT(*) → coalesce(SUM(n), 0)
    // — the zero-row edge the old veto guarded is closed by the
    // Coalesce; SUM's empty-NULL already matches the fact's)
    assert(!scans(s"SELECT COUNT(*) AS c FROM $fact").contains(factDir),
      "a fresh global aggregate must serve from an MV")
    assert(spark.sql(s"SELECT COUNT(*) AS c, SUM(x) AS s FROM $fact")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((5L, 150L)))
    // ---- staleness: new fact data makes every MV basis old; the
    // SAME query must return FRESH values — for an append-only gap
    // that is the COMPENSATED tier (MV rows ⊎ delta files, fact head
    // untouched: the plan's only full-table graft scan is an MV),
    // never yesterday's bare-MV numbers
    spark.sql(s"INSERT INTO $fact VALUES (6, 'c', 0, 60)")
    assert(!scans(q).contains(factDir) && scans(q).exists(Set(mvDir, mv2Dir)),
      "an append-stale MV serves compensated, not via a fact scan")
    assert(spark.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("a" -> ((2L, 30L)), "b" -> ((3L, 120L)), "c" -> ((1L, 60L))))
    // with compensation off, an append-stale MV must fall back to
    // the fact scan (the pre-compensation contract, still the law
    // for every non-append gap)
    spark.conf.set("spark.graft.mv.rewrite.stale", "false")
    try {
      assert(scans(q) === Seq(factDir), "a stale MV must never serve bare")
      assert(spark.sql(q).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map("a" -> ((2L, 30L)), "b" -> ((3L, 120L)), "c" -> ((1L, 60L))))
    } finally spark.conf.set("spark.graft.mv.rewrite.stale", "true")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.qrv_$id')")
    assert(scans(q) === Seq(mvDir), "a refreshed MV serves again")
    // time travel rewrites ONLY when an MV reflects that exact
    // version. mv2 was NOT refreshed — its basis IS the pre-insert
    // snapshot, so an AS OF read of that version is served by the
    // "stale" MV (staleness is relative to the version being read,
    // not the head), via the rollup tier ({g} ⊂ {g, u})
    val preInsert = LakeTable.currentSnapshot(factDir) - 1
    val tt = s"SELECT g, COUNT(*) AS c FROM $fact VERSION AS OF $preInsert GROUP BY g"
    assert(scans(tt) === Seq(mv2Dir),
      "an un-refreshed MV exactly matches the time-travel version")
    assert(spark.sql(tt).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("a" -> 2L, "b" -> 3L))
    // once mv2 is refreshed to the head, NO MV reflects the old
    // version any more — the AS OF read scans the fact as written
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.qrw_$id')")
    assert(scans(tt) === Seq(factDir))
    // kill switch
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try assert(scans(q) === Seq(factDir))
    finally spark.conf.set("spark.graft.mv.rewrite", "true")
    // ---- DROP prunes the fact-side registry lazily
    assert(graft.lake.MaterializedView.refsOf(factDir).toSet === Set(mvDir, mv2Dir))
    spark.sql(s"DROP TABLE $mv"); spark.sql(s"DROP TABLE $mv2")
    assert(graft.lake.MaterializedView.refsOf(factDir) === Nil)
    spark.sql(s"DROP TABLE $fact")
  }

  test("MV query rewrite over JOIN views: the star rollup is served from the MV; any stale relation or key mismatch falls back") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.jrf_$id"; val dim = s"graft.psd.jrd_$id"
    val mv = s"graft.psd.jrv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, k STRING, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'k0', 10), (2, 'k0', 20), (3, 'k1', 30), (4, 'k2', 40)""".stripMargin)
    spark.sql(s"CREATE TABLE $dim (k STRING, g STRING)")
    spark.sql(s"INSERT INTO $dim VALUES ('k0', 'a'), ('k1', 'a'), ('k2', 'b')")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact JOIN $dim USING (k) GROUP BY g""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.jrf_$id")
    val mvDir = cat.tableDir(s"psd.jrv_$id")
    def scans(sql: String): Seq[String] = mvScanRoots(sql)
    val q = s"SELECT g, COUNT(*) AS c, SUM(x) AS s FROM $fact JOIN $dim USING (k) GROUP BY g"
    // the star rollup's plan is ONE scan — the MV's
    assert(scans(q) === Seq(mvDir))
    // strongest value pin: the fact files are unreadable
    def hideAll(hide: Boolean): Unit = shiftFiles(factDir, hide)
    hideAll(hide = true)
    try {
      assert(spark.sql(q).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map("a" -> ((3L, 60L)), "b" -> ((1L, 40L))))
      // a group-col filter commutes; explicit ON form matches too
      assert(spark.sql(
        s"""SELECT g, SUM(x) AS s FROM $fact f JOIN $dim d ON f.k = d.k
           |WHERE g = 'a' GROUP BY g""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 60L)))
    } finally hideAll(hide = false)
    // join on the WRONG column pair never rewrites
    assert(scans(s"""SELECT g, COUNT(*) AS c FROM $fact f
                    |JOIN $dim d ON f.k = d.g GROUP BY g""".stripMargin)
      .toSet === Set(factDir, cat.tableDir(s"psd.jrd_$id")))
    // a filter on a NON-group joined column never rewrites
    assert(scans(s"$q HAVING g IS NOT NULL").size === 1) // sanity: HAVING ok
    assert(scans(s"""SELECT g, COUNT(*) AS c FROM $fact JOIN $dim USING (k)
                    |WHERE x > 15 GROUP BY g""".stripMargin).size === 2)
    // dim rewire → the MV basis vector is stale on the DIM axis
    spark.sql(s"""MERGE INTO $dim t USING (SELECT 'k2' AS k, 'a' AS g) src
                 |ON t.k = src.k WHEN MATCHED THEN UPDATE SET t.g = src.g""".stripMargin)
    assert(scans(q).size === 2, "a stale dimension must fall back to the join")
    assert(spark.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("a" -> ((4L, 100L))))
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.jrv_$id')")
    assert(scans(q) === Seq(mvDir), "the refreshed basis vector serves again")
    spark.sql(s"DROP TABLE $mv")
    spark.sql(s"DROP TABLE $dim"); spark.sql(s"DROP TABLE $fact")
  }

  test("MV query rewrite soundness guards: nullable AVG, timezone-sensitive measures, and cross-dim name collisions never rewrite") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    def scans(sql: String): Seq[String] = mvScanRoots(sql)
    // ---- guard 1: the single kind's derived AVG is SUM/COUNT(*)
    // with a bigint sum — NOT AVG(x) when x is nullable (parquet
    // columns are), so AVG never serves from it while COUNT/SUM do
    val fact = s"graft.psd.sgf_$id"; val mv = s"graft.psd.sgv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1, 'a', 10), (2, 'a', NULL), (3, 'b', 30)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, SUM(x) AS sx, AVG(x) AS ax
                 |FROM $fact GROUP BY g""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.sgf_$id")
    val mvDir = cat.tableDir(s"psd.sgv_$id")
    assert(scans(s"SELECT g, SUM(x) AS s FROM $fact GROUP BY g") === Seq(mvDir))
    assert(scans(s"SELECT g, AVG(x) AS a FROM $fact GROUP BY g") === Seq(factDir),
      "derived AVG over a nullable argument must never serve")
    // the true AVG divides by COUNT(x)=1 for group a, not COUNT(*)=2
    assert(spark.sql(s"SELECT g, AVG(x) AS a FROM $fact WHERE g = 'a' GROUP BY g")
      .head().getDouble(1) === 10.0)
    // ---- guard 2: a timezone-aware measure matches ONLY under the
    // definition's recorded session zone
    val tzf = s"graft.psd.tzf_$id"; val tzv = s"graft.psd.tzv_$id"
    spark.sql(s"CREATE TABLE $tzf (fid BIGINT, g STRING, ts TIMESTAMP)")
    spark.sql(s"""INSERT INTO $tzf VALUES
                 |(1, 'a', TIMESTAMP '2024-01-10 01:30:00'),
                 |(2, 'a', TIMESTAMP '2024-01-10 23:30:00')""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $tzv AS
                 |SELECT g, COUNT(*) AS n, SUM(hour(ts)) AS sh
                 |FROM $tzf GROUP BY g""".stripMargin)
    val tzfDir = cat.tableDir(s"psd.tzf_$id")
    val tzvDir = cat.tableDir(s"psd.tzv_$id")
    val tzq = s"SELECT g, SUM(hour(ts)) AS sh FROM $tzf GROUP BY g"
    assert(scans(tzq) === Seq(tzvDir), "same zone: the MV serves")
    val origTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try assert(scans(tzq) === Seq(tzfDir),
      "a different session zone changes hour(ts) — the MV must not serve")
    finally spark.conf.set("spark.sql.session.timeZone", origTz)
    // ---- guard 3: SCHEMA EVOLUTION that makes a column name
    // ambiguous in the star (d1 gains a column named like d2's join
    // key — the defining query's own analysis blocks creating such a
    // collision, so evolution is the only path in). The lifecycle
    // degrades LOUDLY and reads stay sound: maintenance fails at the
    // refresh join (ambiguous key binding — better than silently
    // picking a side), the basis stays stale so the rewrite falls
    // back, and the star query answers correctly from the join. The
    // rewrite's per-pair unsafe-name veto is defense-in-depth behind
    // this: no functioning lifecycle can reach a fresh basis with an
    // unequated name collision.
    val sf = s"graft.psd.cnf_$id"; val sd1 = s"graft.psd.cnd1_$id"
    val sd2 = s"graft.psd.cnd2_$id"; val sv = s"graft.psd.cnv_$id"
    spark.sql(s"CREATE TABLE $sf (k1 STRING, k2 STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $sf VALUES ('p', 'q', 10), ('p', 'r', 20)")
    spark.sql(s"CREATE TABLE $sd1 (k1 STRING, w STRING)")
    spark.sql(s"INSERT INTO $sd1 VALUES ('p', 'w0')")
    spark.sql(s"CREATE TABLE $sd2 (k2 STRING, v STRING)")
    spark.sql(s"INSERT INTO $sd2 VALUES ('q', 'v0'), ('r', 'v1')")
    spark.sql(s"""CREATE MATERIALIZED VIEW $sv AS
                 |SELECT k2, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $sf JOIN $sd1 USING (k1) JOIN $sd2 USING (k2)
                 |GROUP BY k2""".stripMargin)
    val svDir = cat.tableDir(s"psd.cnv_$id")
    assert(scans(s"""SELECT k2, COUNT(*) AS c FROM $sf
                    |JOIN $sd1 USING (k1) JOIN $sd2 USING (k2)
                    |GROUP BY k2""".stripMargin) === Seq(svDir),
      "pre-evolution, the star rollup serves")
    // evolve d1: an UNRELATED column now shadows d2's join key name
    spark.sql(s"ALTER TABLE $sd1 ADD COLUMNS (k2 STRING)")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.cnv_$id')")
    }
    // the ALTER bumped d1's snapshot: stale basis, rewrite falls back
    val cross = spark.sql(
      s"""SELECT d1.k2 AS k2, COUNT(*) AS c FROM $sf f
         |JOIN $sd1 d1 ON f.k1 = d1.k1 JOIN $sd2 d2 ON f.k2 = d2.k2
         |GROUP BY d1.k2""".stripMargin)
    assert(cross.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        s.relation.table.asInstanceOf[graft.sources.GraftLakeTable].root
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.asInstanceOf[graft.sources.GraftLakeTable].root
    }.size === 3, "a stale basis keeps the join")
    // d1.k2 is all-NULL post-ALTER: values through the join stay right
    assert(cross.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq((null, 2L)))
    Seq(mv, fact, tzv, tzf, sv, sd2, sd1, sf)
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("MV rewrite COMPENSATES a stale MV over an append-only gap: MV rows plus delta files answer without a refresh; deletes and the kill switch fall back") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.cpf_$id"
    val mv = s"graft.psd.cpv_$id"; val mvm = s"graft.psd.cpm_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u BIGINT, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1,'a',0,10),(2,'a',1,20),(3,'b',0,30)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, u, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact GROUP BY g, u""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mvm AS
                 |SELECT g, COUNT(*) AS n, MIN(x) AS mn, MAX(x) AS mx
                 |FROM $fact GROUP BY g""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.cpf_$id")
    // the append-only gap: bases stay at 1, head moves to 2, NO refresh
    spark.sql(s"INSERT INTO $fact VALUES (4,'a',0,5),(5,'c',1,100)")
    // hide ONLY the snapshot-1 files: fresh totals (new min for 'a',
    // brand-new group 'c') can then only come from MV rows ⊎ the
    // delta files — a fact scan throws, a bare-MV answer is stale
    val oldFiles = graft.lake.LakeTable.manifest(factDir, 1).files.map(_.path)
    def shiftOld(hide: Boolean): Unit = oldFiles.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shiftOld(hide = true)
    try {
      // exact grouping over the (g, u) single-kind MV
      assert(spark.sql(
        s"SELECT g, u, COUNT(*) AS c, SUM(x) AS s FROM $fact GROUP BY g, u")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap ===
        Map(("a", 0L) -> ((2L, 15L)), ("a", 1L) -> ((1L, 20L)),
          ("b", 0L) -> ((1L, 30L)), ("c", 1L) -> ((1L, 100L))))
      // rollup subset + residual on a grouped-away group column
      assert(spark.sql(
        s"SELECT g, SUM(x) AS s FROM $fact WHERE u = 0 GROUP BY g")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("a" -> 15L, "b" -> 30L))
      // minmax kind: the appended 5 must LOWER a's min; 'c' appears
      assert(spark.sql(
        s"SELECT g, MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS c FROM $fact GROUP BY g")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap ===
        Map("a" -> ((5L, 20L, 3L)), "b" -> ((30L, 30L, 1L)),
          "c" -> ((100L, 100L, 1L))))
      // AVG is non-distributive from stored state: no compensation,
      // the fallback fact scan hits the hidden files and throws
      intercept[Exception](
        spark.sql(s"SELECT g, AVG(x) AS a FROM $fact GROUP BY g").collect())
      // kill switch
      spark.conf.set("spark.graft.mv.rewrite.stale", "false")
      try intercept[Exception](spark.sql(
        s"SELECT g, u, SUM(x) AS s FROM $fact GROUP BY g, u").collect())
      finally spark.conf.set("spark.graft.mv.rewrite.stale", "true")
    } finally shiftOld(hide = false)
    // a MoR DELETE breaks append-only: compensation must NOT fire —
    // the optimized plan scans the fact, and values reflect the delete
    spark.sql(s"DELETE FROM $fact WHERE fid = 2")
    assert(mvScanRoots(
      s"SELECT g, u, COUNT(*) AS c FROM $fact GROUP BY g, u") === Seq(factDir))
    val ra = spark.sql(
      s"SELECT COUNT(*) AS c, SUM(x) AS s FROM $fact WHERE g = 'a'").head()
    assert((ra.getLong(0), ra.getLong(1)) === ((2L, 15L)))
    Seq(mvm, mv, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("MV rewrite compensates append-stale STAR MVs on EITHER axis: fact delta, dim delta (the staircase, stats-pruned); a dim rewire falls back") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.cjf_$id"
    val dim = s"graft.psd.cjd_$id"; val mv = s"graft.psd.cjv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, k STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1,'k0',10),(2,'k1',20),(3,'k2',30)")
    spark.sql(s"CREATE TABLE $dim (k STRING, g STRING)")
    spark.sql(s"INSERT INTO $dim VALUES ('k0','a'),('k1','a'),('k2','b')")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, SUM(COALESCE(x, 0)) AS sx
                 |FROM $fact JOIN $dim USING (k) GROUP BY g""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.cjf_$id")
    // fact-only append: MV stale on the fact axis, dims untouched
    spark.sql(s"INSERT INTO $fact VALUES (4,'k0',40),(5,'k2',50)")
    val oldFiles = graft.lake.LakeTable.manifest(factDir, 1).files.map(_.path)
    def shiftOld(hide: Boolean): Unit = oldFiles.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    val q = s"""SELECT g, COUNT(*) AS c, SUM(COALESCE(x, 0)) AS s
               |FROM $fact JOIN $dim USING (k) GROUP BY g""".stripMargin
    shiftOld(hide = true)
    try {
      // fresh joined totals can only come from MV rows ⊎ (Δ ⋈ dim)
      assert(spark.sql(q).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map("a" -> ((3L, 70L)), "b" -> ((2L, 80L))))
      // residual on the group column commutes onto both sides
      assert(spark.sql(s"$q HAVING g = 'b'").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
        Seq(("b", 2L, 80L)))
      // COUNT-only star (column pruning drops x from the subtree —
      // the delta side must not reference unused stored measures)
      assert(spark.sql(
        s"SELECT g, COUNT(*) AS c FROM $fact JOIN $dim USING (k) GROUP BY g")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("a" -> 3L, "b" -> 2L))
    } finally shiftOld(hide = false)
    // a DIM APPEND is compensable too (the ΔD staircase term): after
    // a refresh, a new dim key + new fact rows referencing it serve
    // through the MV with every PRE-APPEND fact AND dim file hidden —
    // each delta term prunes the other side's old files via the
    // delta's manifest-stats key range ('k3' > every old file's max)
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv")
    val dimDir = cat.tableDir(s"psd.cjd_$id")
    val mvDir = cat.tableDir(s"psd.cjv_$id")
    val factBasis = graft.lake.LakeTable.currentSnapshot(factDir)
    val dimBasis = graft.lake.LakeTable.currentSnapshot(dimDir)
    def shiftBasis(dir: String, snap: Int, hide: Boolean): Unit =
      graft.lake.LakeTable.manifest(dir, snap).files.map(_.path).foreach { p =>
        val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
        val h = java.nio.file.Paths.get(f.toString + ".hidden")
        java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
      }
    spark.sql(s"INSERT INTO $dim VALUES ('k3','c')")
    spark.sql(s"INSERT INTO $fact VALUES (6,'k3',60)")
    assert(mvScanRoots(q).contains(mvDir),
      "an append-only dim gap must stay MV-served (the staircase)")
    shiftBasis(factDir, factBasis, hide = true)
    shiftBasis(dimDir, dimBasis, hide = true)
    try assert(spark.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("a" -> ((3L, 70L)), "b" -> ((2L, 80L)), "c" -> ((1L, 60L))))
    finally {
      shiftBasis(factDir, factBasis, hide = false)
      shiftBasis(dimDir, dimBasis, hide = false)
    }
    // a dim REWIRE (UPDATE) breaks append-only: the star runs as
    // written, values fresh
    spark.sql(s"UPDATE $dim SET g = 'bb' WHERE k = 'k2'")
    assert(!mvScanRoots(q).contains(mvDir),
      "a rewired dim must fall back to the join as written")
    assert(spark.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("a" -> ((3L, 70L)), "bb" -> ((2L, 80L)), "c" -> ((1L, 60L))))
    Seq(mv, dim, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("time-bucketed MVs: a date_trunc expression group re-derives on every refresh; OR REPLACE / IF NOT EXISTS sugar; guards") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.tbf_$id"; val mv = s"graft.psd.tbv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 10:00:00', 10),
                 |(2, TIMESTAMP '2024-01-01 23:59:00', 20),
                 |(3, TIMESTAMP '2024-01-02 00:01:00', 30)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
    def state(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT CAST(d AS STRING) AS d, n, sx FROM $mv").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(state() === Map("2024-01-01 00:00:00" -> ((2L, 30L)),
      "2024-01-02 00:00:00" -> ((1L, 30L))))
    // append lands in an existing bucket AND a new one; the incr
    // refresh must re-derive the bucket over just the delta files
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(4, TIMESTAMP '2024-01-02 12:00:00', 40),
                 |(5, TIMESTAMP '2024-01-03 08:00:00', 50)""".stripMargin)
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv")
    assert(state() === Map("2024-01-01 00:00:00" -> ((2L, 30L)),
      "2024-01-02 00:00:00" -> ((2L, 70L)),
      "2024-01-03 00:00:00" -> ((1L, 50L))))
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0) === "incr")
    // GROUP BY the alias is the same definition
    spark.sql(s"""CREATE OR REPLACE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('MONTH', ts) AS mo, COUNT(*) AS n
                 |FROM $fact GROUP BY mo""".stripMargin)
    assert(spark.sql(s"SELECT CAST(mo AS STRING), n FROM $mv").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("2024-01-01 00:00:00" -> 5L))
    // IF NOT EXISTS on an existing name: silent no-op, old definition
    spark.sql(s"""CREATE MATERIALIZED VIEW IF NOT EXISTS $mv AS
                 |SELECT fid, COUNT(*) AS n FROM $fact GROUP BY fid""".stripMargin)
    assert(spark.sql(s"SELECT group_cols FROM $mv.mv").head().getString(0) === "mo")
    // guards: a minmax view grouped ONLY by expression columns has
    // nothing to key its recompute on (the kind otherwise accepts
    // expression groups since r17); non-deterministic groups
    // rejected; OR REPLACE refuses a plain table
    val e1 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.tbx_$id AS
         |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
         |  MIN(x) AS mn, MAX(x) AS mx
         |FROM $fact GROUP BY d""".stripMargin))
    assert(e1.getMessage.contains("plain group column"))
    intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.tby_$id AS
         |SELECT CAST(rand() * 10 AS BIGINT) AS b, COUNT(*) AS n
         |FROM $fact GROUP BY b""".stripMargin))
    val e3 = intercept[Exception](spark.sql(
      s"CREATE OR REPLACE MATERIALIZED VIEW $fact AS " +
        s"SELECT fid, COUNT(*) AS n FROM $fact GROUP BY fid"))
    assert(e3.getMessage.contains("will not replace"))
    Seq(mv, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("staircase over a TWO-dim star: fact + one dim move append-only, the middle dim stays frozen; pre-append files of BOTH moved axes hidden") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.t2f_$id"
    val d1 = s"graft.psd.t2a_$id"; val d2 = s"graft.psd.t2b_$id"
    val mv = s"graft.psd.t2v_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ka STRING, kb STRING, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1,'a1','b1',10),(2,'a2','b2',20),(3,'a1','b2',30)""".stripMargin)
    spark.sql(s"CREATE TABLE $d1 (ka STRING, g1 STRING)")
    spark.sql(s"INSERT INTO $d1 VALUES ('a1','p'),('a2','q')")
    spark.sql(s"CREATE TABLE $d2 (kb STRING, g2 STRING)")
    spark.sql(s"INSERT INTO $d2 VALUES ('b1','u'),('b2','v')")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g1, g2, COUNT(*) AS n, SUM(COALESCE(x, 0)) AS sx
                 |FROM $fact JOIN $d1 USING (ka) JOIN $d2 USING (kb)
                 |GROUP BY g1, g2""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.t2f_$id")
    val d2Dir = cat.tableDir(s"psd.t2b_$id")
    val mvDir = cat.tableDir(s"psd.t2v_$id")
    val factBasis = graft.lake.LakeTable.currentSnapshot(factDir)
    val d2Basis = graft.lake.LakeTable.currentSnapshot(d2Dir)
    // a LATE-ARRIVING d2 key ('zz…' sorts above every old kb) plus
    // fact rows referencing it through an EXISTING d1 key — the fact
    // and d2 axes move, d1 stays frozen at its basis
    spark.sql(s"INSERT INTO $d2 VALUES ('zzb3','w')")
    spark.sql(s"INSERT INTO $fact VALUES (4,'a1','zzb3',40),(5,'a2','zzb3',50)")
    val q = s"""SELECT g1, g2, COUNT(*) AS c, SUM(COALESCE(x, 0)) AS s
               |FROM $fact JOIN $d1 USING (ka) JOIN $d2 USING (kb)
               |GROUP BY g1, g2""".stripMargin
    assert(mvScanRoots(q).contains(mvDir),
      "two moved append-only axes must stay MV-served (the staircase)")
    def shiftBasis2(dir: String, snap: Int, hide: Boolean): Unit =
      graft.lake.LakeTable.manifest(dir, snap).files.map(_.path).foreach { p =>
        val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
        val h = java.nio.file.Paths.get(f.toString + ".hidden")
        java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
      }
    shiftBasis2(factDir, factBasis, hide = true)
    shiftBasis2(d2Dir, d2Basis, hide = true)
    // the ΔF term prunes d2's old files by ΔF's kb range ('zzb3') and
    // the ΔD2 term prunes every basis fact file by ΔD2's range — the
    // hidden files of both moved axes stay untouched; the frozen d1
    // reads as scanned
    try assert(spark.sql(q).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap ===
      Map(("p", "u") -> ((1L, 10L)), ("q", "v") -> ((1L, 20L)),
        ("p", "v") -> ((1L, 30L)), ("p", "w") -> ((1L, 40L)),
        ("q", "w") -> ((1L, 50L))))
    finally {
      shiftBasis2(factDir, factBasis, hide = false)
      shiftBasis2(d2Dir, d2Basis, hide = false)
    }
    Seq(mv, d2, d1, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("time-bucketed STAR MVs: expression groups on the join kind re-derive per staircase term; the expression tier serves the star; guards") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.sxf_$id"; val dim = s"graft.psd.sxd_$id"
    val mv = s"graft.psd.sxv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, k STRING, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 10:00:00', 'k0', 10),
                 |(2, TIMESTAMP '2024-01-01 23:00:00', 'k1', 20),
                 |(3, TIMESTAMP '2024-01-02 01:00:00', 'k0', 30)""".stripMargin)
    spark.sql(s"CREATE TABLE $dim (k STRING, g STRING)")
    spark.sql(s"INSERT INTO $dim VALUES ('k0','a'),('k1','b')")
    // GROUP BY by alias on the join kind, bucket column leading
    // COALESCE: the join kind's non-nullable SUM soundness gate (the
    // signed fold drives an all-NULL-backed group to 0) — the same
    // shape every join-rewrite sibling uses
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('DAY', ts) AS d, g, COUNT(*) AS n,
                 |  SUM(COALESCE(x, 0)) AS sx
                 |FROM $fact JOIN $dim USING (k) GROUP BY d, g""".stripMargin)
    def state(): Map[(String, String), (Long, Long)] =
      spark.sql(s"SELECT CAST(d AS STRING) AS d, g, n, sx FROM $mv").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    assert(state() === Map(
      ("2024-01-01 00:00:00", "a") -> ((1L, 10L)),
      ("2024-01-01 00:00:00", "b") -> ((1L, 20L)),
      ("2024-01-02 00:00:00", "a") -> ((1L, 30L))))
    // ΔF term: the bucket re-derives over the fact delta
    spark.sql(s"INSERT INTO $fact VALUES " +
      s"(4, TIMESTAMP '2024-01-02 12:00:00', 'k1', 40)")
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv")
    assert(state()(("2024-01-02 00:00:00", "b")) === ((1L, 40L)))
    // F¹ ⋈ ΔD term: a dim rewire moves rows BETWEEN g groups inside
    // each day bucket — signed pre-images re-derive the same bucket,
    // so the old (d, g) groups retire exactly
    spark.sql(s"UPDATE $dim SET g = 'a' WHERE k = 'k1'")
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv")
    assert(state() === Map(
      ("2024-01-01 00:00:00", "a") -> ((2L, 30L)),
      ("2024-01-02 00:00:00", "a") -> ((2L, 70L))))
    // the READ side: a plain star query grouping by the SAME bucket
    // expression is served by the fresh MV via the expression tier —
    // every fact data file hidden, so only an MV-served plan answers
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.sxf_$id")
    shiftFiles(factDir, hide = true)
    try {
      assert(spark.sql(
        s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day, g,
           |  COUNT(*) AS c, SUM(COALESCE(x, 0)) AS sx
           |FROM $fact JOIN $dim USING (k)
           |GROUP BY date_trunc('DAY', ts), g""".stripMargin).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap ===
        Map(("2024-01-01 00:00:00", "a") -> ((2L, 30L)),
          ("2024-01-02 00:00:00", "a") -> ((2L, 70L))))
      // rollup slice: the bucket grouped away, re-aggregated finer MV
      assert(spark.sql(
        s"""SELECT g, COUNT(*) AS c FROM $fact JOIN $dim USING (k)
           |GROUP BY g""".stripMargin).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 4L))
      // a DIFFERENT bucket never serves (falls back → hidden files throw)
      intercept[Exception](spark.sql(
        s"""SELECT date_trunc('MONTH', ts) AS mo, g, COUNT(*) AS c
           |FROM $fact JOIN $dim USING (k)
           |GROUP BY date_trunc('MONTH', ts), g""".stripMargin).collect())
    } finally shiftFiles(factDir, hide = false)
    // an all-timestamp group list cannot maintain the eq-delete mask
    val e = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.sxw_$id AS
         |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n
         |FROM $fact JOIN $dim USING (k) GROUP BY d""".stripMargin))
    assert(e.getMessage.contains("equality-delete"), e.getMessage)
    // tz guard carries over: a refresh under a different session zone
    // fails pointedly
    spark.sql(s"INSERT INTO $fact VALUES " +
      s"(5, TIMESTAMP '2024-01-03 03:00:00', 'k0', 50)")
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e2 = intercept[Exception](
        spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect())
      assert(e2.getMessage.contains("timezone"), e2.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    assert(state()(("2024-01-03 00:00:00", "a")) === ((1L, 50L)))
    Seq(mv, dim, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("auto-ANALYZE policy: unattended appends keep sketches + CBO stats fresh; boundary drift rebuilds the histograms") {
    import graft.lake.AutoMaintain
    val s = spark
    import s.implicits._
    val root = graft.util.Scratch.dir("graft_aan_")
    val aCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 256)
    def rows(ids: Seq[Long], v: Long => Long) =
      ids.map(i => (i, s"g${i % 2}", v(i))).toDF("id", "g", "v")
    LakeTable.commit(s, root, rows(0L until 200L, identity), aCfg,
      Seq("id", "g", "v"))
    // no sidecar yet — nothing has analyzed
    assert(LakeTable.colStats(root).isEmpty)
    AutoMaintain.setPolicy(root, AutoMaintain.AutoAnalyzeKey, 1)
    // an unattended append: the post-commit hook must sketch EVERY
    // file (the pre-policy ones included — they are unsketched too)
    // with ZERO manual ANALYZE calls
    LakeTable.commit(s, root, rows(200L until 400L, identity), aCfg,
      Seq("id", "g", "v"))
    assert(AutoMaintain.analyzedCount(root) >= 1L)
    assert(LakeTable.unsketchedCount(root,
      LakeTable.currentSnapshot(root)) === 0,
      "every live file must be sketched with no manual ANALYZE")
    val meta1 = LakeTable.colStats(root).get
    assert(meta1.bounds.contains("v"),
      "the first auto pass derives histogram boundaries")
    val bounds1 = meta1.bounds("v")
    // CBO stays honest: the scan reports a distinct count for v
    val scan = graftScanOf(
      s.read.format("graft-lake").load(root).select(col("v")).filter(col("v") >= 0L))
    val est = scan.estimateStatistics()
    assert(est.numRows.isPresent)
    // ---- boundary drift: a heavily-skewed append collapses the
    // merged histogram into one heavy bin; with the drift policy the
    // NEXT auto pass rebuilds the boundaries over the current data
    AutoMaintain.setPolicy(root, AutoMaintain.AutoAnalyzeDriftKey, 400)
    LakeTable.commit(s, root,
      rows(400L until 1000L, _ => 100L), aCfg, Seq("id", "g", "v"))
    assert(LakeTable.unsketchedCount(root,
      LakeTable.currentSnapshot(root)) === 0)
    val meta2 = LakeTable.colStats(root).get
    assert(meta2.bounds.contains("v"))
    assert(meta2.bounds("v") !== bounds1,
      "drift past the bound must re-derive the boundaries")
    AutoMaintain.dropPolicy(root, AutoMaintain.AutoAnalyzeKey)
    AutoMaintain.dropPolicy(root, AutoMaintain.AutoAnalyzeDriftKey)
  }

  test("bitmap distinct MV: state is words not keys (O(domain/8) per group); appends fold from delta files only; deletes recompute targeted") {
    import graft.lake.{BitmapDistinctMv, DistinctMv, LakeTable, SketchStateMv}
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_bdm_fact_")
    val mvE = graft.util.Scratch.dir("graft_bdm_exact_")
    val mvB = graft.util.Scratch.dir("graft_bdm_bm_")
    val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 512)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 512)
    // two groups, 400 distinct keys each in [0, 1024)
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"k${i % 2}", (i / 2) % 1024)).toDF("id", "g", "uid")
    LakeTable.commit(s, fact, rows(0L until 800L), fCfg, Seq("id", "g"))
    DistinctMv.create(s, fact, mvE, Seq("g"), "uid", "uniq", mCfg)
    SketchStateMv.create(s, BitmapDistinctMv(1024), fact, mvB, Seq("g"),
      "uid", "uniq", mCfg)
    def vis(mv: String): Map[String, (Long, Long)] =
      LakeTable.read(s, mv).collect().map(r =>
        r.getAs[String]("g") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("uniq")))).toMap
    val expect1 = Map("k0" -> ((400L, 400L)), "k1" -> ((400L, 400L)))
    assert(vis(mvE) === expect1 && vis(mvB) === expect1)
    // THE size pin: exact state = one row per live (g, key) = 800;
    // bitmap state ≤ groups × (domain/64 + 1 sentinel) = 2 × 17 rows
    val exactRows = LakeTable.read(s, DistinctMv.stateRoot(mvE)).count()
    val bmRows = LakeTable.read(s, BitmapDistinctMv.stateRoot(mvB)).count()
    assert(exactRows === 800L)
    assert(bmRows <= 2L * (1024L / 64L + 1L),
      s"bitmap state must be word-sharded, got $bmRows rows")
    assert(BitmapDistinctMv.mode(mvB) === "full")
    // ---- append touching ONLY k0 (new keys 400..409 land as ids
    // 800..819): OR-distributive fold — hide every PRE-APPEND fact
    // file AND every k1 state file; the fold must plan none of them
    LakeTable.commit(s, fact,
      (800L until 820L).map(i => (i, "k0", (i / 2) % 1024))
        .toDF("id", "g", "uid"), fCfg, Seq("id", "g"))
    val head = LakeTable.currentSnapshot(fact)
    val preAppend = LakeTable.manifest(fact, head).files
      .filter(_.seq < head).map(_.path)
    val stB = BitmapDistinctMv.stateRoot(mvB)
    def filesAway(dir: String, lead: String): Seq[String] =
      LakeTable.manifest(dir, LakeTable.currentSnapshot(dir)).files
        .filter(_.stats.get("g").exists(cs =>
          cs.maxS < lead || cs.minS > lead)).map(_.path)
    val stAway = filesAway(stB, "k0")
    assert(stAway.nonEmpty)
    def bytesOf(p: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.stripPrefix("file:"))).toSeq
    val stBytes = stAway.map(p => p -> bytesOf(p)).toMap
    def shift(paths: Seq[String], hide: Boolean): Unit = paths.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    val hidden = preAppend ++ stAway
    shift(hidden, hide = true)
    try SketchStateMv.refresh(s, BitmapDistinctMv(1024), fact, mvB, Seq("g"),
      "uid", "uniq", mCfg): Unit
    finally shift(hidden, hide = false)
    assert(BitmapDistinctMv.mode(mvB) === "fold",
      "a pure-append range must take the OR-distributive fold")
    assert(vis(mvB) === Map("k0" -> ((420L, 410L)), "k1" -> ((400L, 400L))))
    // untouched group's state files byte-identical across the fold
    stAway.foreach(p => assert(bytesOf(p) === stBytes(p)))
    // ---- MoR DELETE of ids 0 and 2 (both k0; sole carriers of uids
    // 0 and 1): no bit can retire without the group's other rows —
    // targeted recompute of the touched group only
    LakeTable.deleteWhere(s, fact, "id", Seq(0L, 2L).toDF("id"))
    SketchStateMv.refresh(s, BitmapDistinctMv(1024), fact, mvB, Seq("g"),
      "uid", "uniq", mCfg): Unit
    assert(BitmapDistinctMv.mode(mvB) === "targeted")
    assert(vis(mvB) === Map("k0" -> ((418L, 408L)), "k1" -> ((400L, 400L))),
      "uids 0 and 1 must retire from k0 (sole carriers deleted)")
    // domain guard: out-of-range keys fail pointedly
    LakeTable.commit(s, fact,
      Seq((900L, "k0", 5000L)).toDF("id", "g", "uid"), fCfg, Seq("id", "g"))
    val e = intercept[IllegalArgumentException] {
      SketchStateMv.refresh(s, BitmapDistinctMv(1024), fact, mvB, Seq("g"),
        "uid", "uniq", mCfg)
    }
    assert(e.getMessage.contains("outside"), e.getMessage)
  }

  test("bitmap distinct MV rewrite: group-subset COUNT(DISTINCT) re-aggregates the word state; an append-stale bitmap MV compensates state | delta bits") {
    import graft.lake.{BitmapDistinctMv, LakeTable}
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.bqf_$id"; val mv = s"graft.psd.bqv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, ub BIGINT, uid BIGINT)")
    // uid 5 lives under BOTH ub values of both g's: the visible
    // per-(g, ub) counts cannot roll up to GROUP BY g (4 ≠ 3)
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 0, 5), (2, 'a', 0, 6), (3, 'a', 1, 5),
                 |(4, 'a', 1, 7), (5, 'b', 0, 5), (6, 'b', 1, 5),
                 |(7, 'b', 1, 9)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv
                 |WITH (distinct_kind = 'bitmap', distinct_domain = 1024) AS
                 |SELECT g, ub, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
                 |FROM $fact GROUP BY g, ub""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.bqf_$id")
    val mvDir = cat.tableDir(s"psd.bqv_$id")
    val q = s"SELECT g, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq " +
      s"FROM $fact GROUP BY g"
    def run(sql: String): Map[String, (Long, Long)] =
      spark.sql(sql).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // ---- fresh subset: served by OR-ing the hidden word state
    assert(mvScanRoots(q) === Seq(BitmapDistinctMv.stateRoot(mvDir)),
      "a group-subset COUNT(DISTINCT) must re-aggregate the word state")
    shiftFiles(factDir, hide = true)
    try {
      assert(run(q) === Map("a" -> ((4L, 3L)), "b" -> ((3L, 2L))))
      // a filter on a grouped-away group column commutes
      assert(run(s"SELECT g, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq " +
        s"FROM $fact WHERE ub = 1 GROUP BY g") ===
        Map("a" -> ((2L, 2L)), "b" -> ((2L, 2L))))
    } finally shiftFiles(factDir, hide = false)
    // ---- stale append-only, NO refresh: uid 5 re-seen on a (must
    // not inflate), uid 200 new, group c entirely delta-side
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(8, 'a', 0, 5), (9, 'a', 0, 200), (10, 'c', 0, 3)""".stripMargin)
    val head = LakeTable.currentSnapshot(factDir)
    val preAppend = LakeTable.manifest(factDir, head).files
      .filter(_.seq < head).map(_.path)
    def shift(paths: Seq[String], hide: Boolean): Unit = paths.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(preAppend, hide = true)
    try {
      assert(run(q) ===
        Map("a" -> ((6L, 4L)), "b" -> ((3L, 2L)), "c" -> ((1L, 1L))),
        "a stale bitmap subset query must serve state | delta bits")
      // exact-grain compensation lands in the same tier
      assert(spark.sql(s"SELECT g, ub, COUNT(*) AS n, " +
        s"COUNT(DISTINCT uid) AS uniq FROM $fact GROUP BY g, ub").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet === Set(("a", 0L, 4L, 3L), ("a", 1L, 2L, 2L),
          ("b", 0L, 1L, 1L), ("b", 1L, 2L, 2L), ("c", 0L, 1L, 1L)))
    } finally shift(preAppend, hide = false)
    // ---- a NEGATIVE delta key would alias a word cell (or the
    // sentinel): the manifest-stats guard must veto — the query runs
    // as written, against the fact
    spark.sql(s"INSERT INTO $fact VALUES (11, 'a', 0, -1)")
    assert(mvScanRoots(q).contains(factDir),
      "a negative delta key must veto the compensated bitmap tier")
    assert(run(q) ===
      Map("a" -> ((7L, 5L)), "b" -> ((3L, 2L)), "c" -> ((1L, 1L))))
  }

  test("hll distinct MV: bounded-register state for unbounded domains; appends fold max-distributively from delta files only; deletes recompute targeted") {
    import graft.lake.{DistinctMv, HllDistinctMv, LakeTable, SketchStateMv}
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_hdm_fact_")
    val mvE = graft.util.Scratch.dir("graft_hdm_exact_")
    val mvH = graft.util.Scratch.dir("graft_hdm_hll_")
    val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 512)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 512)
    val p = 10 // 1024 registers per group
    // two groups, 1500 distinct STRING keys each, once per group —
    // the domain the bitmap kind cannot take
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"k${i % 2}", s"u${i / 2}")).toDF("id", "g", "uid")
    LakeTable.commit(s, fact, rows(0L until 3000L), fCfg, Seq("id", "g"))
    DistinctMv.create(s, fact, mvE, Seq("g"), "uid", "uniq", mCfg)
    SketchStateMv.create(s, HllDistinctMv(p), fact, mvH, Seq("g"),
      "uid", "uniq", mCfg)
    def vis(mv: String): Map[String, (Long, Long)] =
      LakeTable.read(s, mv).collect().map(r =>
        r.getAs[String]("g") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("uniq")))).toMap
    def estOk(got: (Long, Long), n: Long, exact: Long): Unit = {
      assert(got._1 === n, "n is EXACT (the sentinel row)")
      assert(math.abs(got._2 - exact) <= exact / 20,
        s"estimate ${got._2} must sit within 5% of $exact")
    }
    estOk(vis(mvH)("k0"), 1500L, 1500L)
    estOk(vis(mvH)("k1"), 1500L, 1500L)
    // THE size pin: exact state = one row per live (g, key) = 3000;
    // hll state ≤ groups × (2^p registers + 1 sentinel) — BOUNDED,
    // key-cardinality-independent
    assert(LakeTable.read(s, DistinctMv.stateRoot(mvE)).count() === 3000L)
    val hlRows = LakeTable.read(s, HllDistinctMv.stateRoot(mvH)).count()
    assert(hlRows <= 2L * ((1L << p) + 1L),
      s"hll state must be register-bounded, got $hlRows rows")
    assert(HllDistinctMv.mode(mvH) === "full")
    // ---- append touching ONLY k0 (30 new keys): max-distributive
    // fold — hide every PRE-APPEND fact file AND every k1 state file;
    // the fold must plan none of them
    LakeTable.commit(s, fact,
      (3000L until 3060L by 2L).map(i => (i, "k0", s"u${i / 2}"))
        .toDF("id", "g", "uid"), fCfg, Seq("id", "g"))
    val head = LakeTable.currentSnapshot(fact)
    val preAppend = LakeTable.manifest(fact, head).files
      .filter(_.seq < head).map(_.path)
    val stH = HllDistinctMv.stateRoot(mvH)
    val stAway = LakeTable.manifest(stH, LakeTable.currentSnapshot(stH)).files
      .filter(_.stats.get("g").exists(cs =>
        cs.maxS < "k0" || cs.minS > "k0")).map(_.path)
    assert(stAway.nonEmpty)
    def bytesOf(pth: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(pth.stripPrefix("file:"))).toSeq
    val stBytes = stAway.map(pth => pth -> bytesOf(pth)).toMap
    def shift(paths: Seq[String], hide: Boolean): Unit = paths.foreach { pth =>
      val f = java.nio.file.Paths.get(pth.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    val hidden = preAppend ++ stAway
    shift(hidden, hide = true)
    try SketchStateMv.refresh(s, HllDistinctMv(p), fact, mvH, Seq("g"),
      "uid", "uniq", mCfg): Unit
    finally shift(hidden, hide = false)
    assert(HllDistinctMv.mode(mvH) === "fold",
      "a pure-append range must take the max-distributive fold")
    estOk(vis(mvH)("k0"), 1530L, 1530L)
    estOk(vis(mvH)("k1"), 1500L, 1500L)
    // untouched group's state files byte-identical across the fold
    stAway.foreach(pth => assert(bytesOf(pth) === stBytes(pth)))
    // ---- MoR DELETE of k0 keys u0..u99 (sole carriers): a register
    // cannot lower without rehashing the group's survivors — targeted
    // recompute of the touched group only, prior cells retired
    LakeTable.deleteWhere(s, fact,
      "id", (0L until 200L by 2L).toDF("id"))
    SketchStateMv.refresh(s, HllDistinctMv(p), fact, mvH, Seq("g"),
      "uid", "uniq", mCfg): Unit
    assert(HllDistinctMv.mode(mvH) === "targeted")
    estOk(vis(mvH)("k0"), 1430L, 1430L)
    estOk(vis(mvH)("k1"), 1500L, 1500L)
    // the recompute must not leave stale register cells behind: the
    // k0 slice re-derives from exactly the surviving rows, so a fresh
    // CREATE over the same fact produces the SAME k0 estimate
    val mvF = graft.util.Scratch.dir("graft_hdm_fresh_")
    SketchStateMv.create(s, HllDistinctMv(p), fact, mvF, Seq("g"),
      "uid", "uniq", mCfg)
    assert(vis(mvF)("k0") === vis(mvH)("k0"),
      "targeted recompute must equal a from-scratch sketch")
  }

  test("hll distinct MV DDL: WITH-opt-in, precision guards, and the rewrite veto (an estimate never substitutes an exact aggregate)") {
    import graft.lake.LakeTable
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.hqf_$id"; val mv = s"graft.psd.hqv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u STRING)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 'x'), (2, 'a', 'y'), (3, 'b', 'x'),
                 |(4, 'b', 'x'), (5, 'b', 'z')""".stripMargin)
    // precision bounds + property mixing fail at DDL
    def createFails(withClause: String, needle: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"""CREATE MATERIALIZED VIEW $mv WITH ($withClause) AS
                     |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS uniq
                     |FROM $fact GROUP BY g""".stripMargin)
      }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    createFails("distinct_kind = 'hll', distinct_precision = 4", "[8, 16]")
    createFails("distinct_kind = 'hll', distinct_domain = 64",
      "distinct_domain only applies")
    createFails("distinct_precision = 12",
      "distinct_precision only applies")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv
                 |WITH (distinct_kind = 'hll', distinct_precision = 12) AS
                 |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS uniq
                 |FROM $fact GROUP BY g""".stripMargin)
    // tiny-n LC regime: the estimate is exact here; n always exact
    assert(spark.sql(s"SELECT g, n, uniq FROM $mv ORDER BY g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("a", 2L, 2L), ("b", 3L, 2L)))
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0) === "full")
    // THE veto: the exact COUNT(DISTINCT) fact query must run as
    // written (fact scan) even though this FRESH MV's defining query
    // matches it exactly — its uniq column is an estimate
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.hqf_$id")
    assert(mvScanRoots(
      s"SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS uniq FROM $fact GROUP BY g")
      === Seq(factDir),
      "an hll MV must never serve an exact aggregate")
    // refresh front door drives the hll fold
    spark.sql(s"INSERT INTO $fact VALUES (6, 'a', 'z')")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.hqv_$id')")
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0) === "fold")
    assert(spark.sql(s"SELECT n, uniq FROM $mv WHERE g = 'a'").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((3L, 3L)))
  }

  test("distinct-MV state grain: GROUP BY (groups, key) serves from the hidden state — per-user counts without a fact scan") {
    import graft.lake.{DistinctMv, LakeTable}
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.sgf_$id"; val mv = s"graft.psd.sgv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u BIGINT, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 100, 7), (2, 'a', 101, 3), (3, 'a', 100, 5),
                 |(4, 'b', 100, 2)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                 |  SUM(x) AS sx
                 |FROM $fact GROUP BY g""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.sgf_$id")
    val stRoot = DistinctMv.stateRoot(cat.tableDir(s"psd.sgv_$id"), 0)
    val q = s"SELECT g, u, COUNT(*) AS n, SUM(x) AS sx FROM $fact GROUP BY g, u"
    assert(mvScanRoots(q) === Seq(stRoot),
      "a (groups, key)-grain query must serve from the hidden state")
    def rows(sql: String): Set[String] =
      spark.sql(sql).collect().map(_.toString).toSet
    shiftFiles(factDir, hide = true)
    try {
      assert(rows(q) === Set("[a,100,2,12]", "[a,101,1,3]", "[b,100,1,2]"))
      // key-only grouping: keys re-aggregate ACROSS MV groups
      assert(rows(s"SELECT u, COUNT(*) AS n, SUM(x) AS sx " +
        s"FROM $fact GROUP BY u") === Set("[100,3,14]", "[101,1,3]"))
      // a filter on the KEY commutes (it is a state grouping column)
      assert(rows(s"SELECT g, COUNT(*) AS n FROM $fact WHERE u = 100 " +
        s"GROUP BY g") === Set("[a,2]", "[b,1]"))
    } finally shiftFiles(factDir, hide = false)
    // a filter on a NON-group column never serves
    assert(mvScanRoots(s"SELECT g, u, COUNT(*) AS n FROM $fact " +
      s"WHERE x > 4 GROUP BY g, u") === Seq(factDir))
    // the fold keeps the grain serviceable: a MoR delete retires
    // (a, 101) and lowers (a, 100) — state-grain answers track it
    spark.sql(s"DELETE FROM $fact WHERE fid IN (2, 3)")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.sgv_$id')")
    assert(mvScanRoots(q) === Seq(stRoot))
    assert(rows(q) === Set("[a,100,1,7]", "[b,100,1,2]"))
  }

  test("global aggregates serve from MVs and states: COUNT(*) coalesces the empty edge; global COUNT(DISTINCT) reads the key state") {
    import graft.lake.DistinctMv
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.glf_$id"; val mv = s"graft.psd.glv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u BIGINT, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 100, 7), (2, 'a', 101, 3), (3, 'b', 100, 5)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                 |  SUM(x) AS sx
                 |FROM $fact GROUP BY g""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.glf_$id")
    val mvDir = cat.tableDir(s"psd.glv_$id")
    val stRoot = DistinctMv.stateRoot(mvDir, 0)
    val qStar = s"SELECT COUNT(*) AS c, SUM(x) AS s FROM $fact"
    val qDu = s"SELECT COUNT(DISTINCT u) AS du FROM $fact"
    assert(mvScanRoots(qStar) === Seq(mvDir),
      "the global COUNT/SUM rolls up from the visible view")
    assert(mvScanRoots(qDu) === Seq(stRoot),
      "the global COUNT(DISTINCT) re-aggregates the key state")
    shiftFiles(factDir, hide = true)
    try {
      assert(spark.sql(qStar).collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq === Seq((3L, 15L)))
      assert(spark.sql(qDu).head().getLong(0) === 2L)
      // key-filtered global — the grain shape with no groups
      assert(spark.sql(s"SELECT COUNT(*) AS c FROM $fact WHERE u = 100")
        .head().getLong(0) === 2L)
    } finally shiftFiles(factDir, hide = false)
    // ---- the EMPTY edge the old veto guarded: retire every row —
    // COUNT(*) must read 0 (the Coalesce), SUM NULL, COUNT(DISTINCT) 0
    spark.sql(s"DELETE FROM $fact WHERE fid >= 0")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.glv_$id')")
    assert(!mvScanRoots(qStar).contains(factDir))
    val r = spark.sql(qStar).head()
    assert(r.getLong(0) === 0L && r.isNullAt(1),
      "empty fact: COUNT(*) = 0, SUM = NULL — exactly the fact's answer")
    assert(spark.sql(qDu).head().getLong(0) === 0L)
  }

  test("hll expr-group MV (approx daily uniques): append folds read delta only; deletes fall back to one full recompute") {
    import graft.lake.LakeTable
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.hef_$id"; val mv = s"graft.psd.hev_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, u STRING)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 03:00:00', 'a'),
                 |(2, TIMESTAMP '2024-01-01 17:00:00', 'a'),
                 |(3, TIMESTAMP '2024-01-01 21:00:00', 'b'),
                 |(4, TIMESTAMP '2024-01-02 09:00:00', 'a')""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv
                 |WITH (distinct_kind = 'hll', distinct_precision = 12) AS
                 |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
                 |  COUNT(DISTINCT u) AS uniq
                 |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
    def state(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT CAST(d AS STRING) AS d, n, uniq FROM $mv").collect()
        .map(r => r.getString(0).take(10) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    assert(state() === Map("2024-01-01" -> ((3L, 2L)),
      "2024-01-02" -> ((1L, 1L))))
    // ---- append touching day 1 only: the fold must re-derive the
    // bucket over the DELTA ALONE — every pre-append file hidden
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(5, TIMESTAMP '2024-01-01 23:00:00', 'c'),
                 |(6, TIMESTAMP '2024-01-01 23:30:00', 'a')""".stripMargin)
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.hef_$id")
    val head = LakeTable.currentSnapshot(factDir)
    val preAppend = LakeTable.manifest(factDir, head).files
      .filter(_.seq < head).map(_.path)
    def shift(paths: Seq[String], hide: Boolean): Unit = paths.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(preAppend, hide = true)
    try spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.hev_$id')")
    finally shift(preAppend, hide = false)
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
      === "fold", "an append over a derived bucket keeps the O(Δ) fold")
    assert(state() === Map("2024-01-01" -> ((5L, 3L)),
      "2024-01-02" -> ((1L, 1L))))
    // ---- a MoR DELETE cannot key the targeted scan on a derived
    // bucket: one full sketch recompute (the documented fallback),
    // exact values restored
    spark.sql(s"DELETE FROM $fact WHERE fid IN (3, 5)")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.hev_$id')")
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
      === "full", "deletes under a derived bucket take the full fallback")
    assert(state() === Map("2024-01-01" -> ((3L, 1L)),
      "2024-01-02" -> ((1L, 1L))))
  }

  test("distinct-MV state self-compacts: the create-time policy folds accumulated merge masks") {
    import graft.lake.{AutoMaintain, DistinctMv, LakeTable}
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_dsc_fact_")
    val mv = graft.util.Scratch.dir("graft_dsc_mv_")
    val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 64)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"k${i % 2}", 100L + i % 7)).toDF("id", "g", "u")
    LakeTable.commit(s, fact, rows(0L until 20L), fCfg, Seq("id", "g"))
    DistinctMv.create(s, fact, mv, Seq("g"), "u", "du", mCfg)
    val stRoot = DistinctMv.stateRoot(mv)
    // CREATE stamps the hidden state's own hygiene policy — the MoR
    // fold accrues a data file + a mask per refresh, and no user can
    // declare policies on a table they cannot see
    assert(AutoMaintain.policies(stRoot)
      .get(AutoMaintain.AutoCompactKey).contains(DistinctMv.StateCompactFiles))
    // tighten it so a handful of refreshes crosses the threshold
    AutoMaintain.setPolicy(stRoot, AutoMaintain.AutoCompactKey, 3L)
    (1 to 4).foreach { k =>
      LakeTable.commit(s, fact,
        rows((20L * k) until (20L * k + 20L)), fCfg, Seq("id", "g"))
      DistinctMv.refresh(s, fact, mv, Seq("g"), "u", "du", mCfg): Unit
    }
    assert(AutoMaintain.firedCounts(stRoot)._1 >= 1L,
      "the state must self-compact past the declared file threshold")
    // compaction folded the masks: the head carries little or no
    // MoR debt, and the values stay exact
    val headM = LakeTable.manifest(stRoot, LakeTable.currentSnapshot(stRoot))
    assert(headM.files.size <= 6,
      s"state file count must stay bounded, got ${headM.files.size}")
    val vis = LakeTable.read(s, mv).collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("du")))).toMap
    assert(vis === Map("k0" -> ((50L, 7L)), "k1" -> ((50L, 7L))))
  }

  test("multi-distinct MV: two COUNT(DISTINCT) measures, one state each; keys retire independently; the subset tier picks the right state") {
    import graft.lake.LakeTable
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.m2f_$id"; val mv = s"graft.psd.m2v_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u BIGINT, v BIGINT)")
    // u keys span groups; v keys repeat inside groups
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, 'a', 100, 7), (2, 'a', 101, 7), (3, 'a', 101, 8),
                 |(4, 'b', 100, 7), (5, 'b', 102, 9)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                 |  COUNT(DISTINCT v) AS dv
                 |FROM $fact GROUP BY g""".stripMargin)
    def state(): Map[String, (Long, Long, Long)] =
      spark.sql(s"SELECT g, n, du, dv FROM $mv").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(state() === Map("a" -> ((3L, 2L, 2L)), "b" -> ((2L, 2L, 2L))))
    val mvDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.m2v_$id")
    // both hidden states exist, one per measure
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      graft.lake.DistinctMv.stateRoot(mvDir, 0))))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      graft.lake.DistinctMv.stateRoot(mvDir, 1))))
    // MoR delete of fid 2,3: u=101 retires from a (both rows gone),
    // v=7 survives in a (fid 1 still carries it), v=8 retires — the
    // two states retire INDEPENDENTLY, one signed fold each
    spark.sql(s"DELETE FROM $fact WHERE fid IN (2, 3)")
    spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.m2v_$id')")
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
      === "signed")
    assert(state() === Map("a" -> ((1L, 1L, 1L)), "b" -> ((2L, 2L, 2L))))
    // both measures serve EXACT from the visible view, fact hidden
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.m2f_$id")
    val q = s"SELECT g, COUNT(DISTINCT u) AS du, COUNT(DISTINCT v) AS dv " +
      s"FROM $fact GROUP BY g"
    assert(mvScanRoots(q) === Seq(mvDir))
    // a group-SUBSET rollup using ONLY the second measure must pick
    // the SECOND state table — re-create at (g, fid) grain so a
    // GROUP BY g query is a strict subset
    spark.sql(s"DROP MATERIALIZED VIEW $mv")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, fid, COUNT(*) AS n, COUNT(DISTINCT u) AS du,
                 |  COUNT(DISTINCT v) AS dv
                 |FROM $fact GROUP BY g, fid""".stripMargin)
    val q3 = s"SELECT g, COUNT(*) AS n, COUNT(DISTINCT v) AS dv " +
      s"FROM $fact GROUP BY g"
    assert(mvScanRoots(q3) === Seq(graft.lake.DistinctMv.stateRoot(
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.m2v_$id"), 1)),
      "a subset query over the SECOND distinct measure must scan _dstate1")
    shiftFiles(factDir, hide = true)
    try assert(spark.sql(q3).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet ===
      Set(("a", 1L, 1L), ("b", 2L, 2L)))
    finally shiftFiles(factDir, hide = false)
    spark.sql(s"DROP MATERIALIZED VIEW $mv"); spark.sql(s"DROP TABLE $fact")
  }

  test("distinct MV lifecycle: OR REPLACE rebuilds the nested state; a failed replace restores it; DROP removes it") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.dlf_$id"; val mv = s"graft.psd.dlv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, u BIGINT, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1,'a',100,10), (2,'a',100,20), (3,'b',200,30)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS du
                 |FROM $fact GROUP BY g""".stripMargin)
    val mvDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.dlv_$id")
    val stDir = java.nio.file.Paths.get(graft.lake.DistinctMv.stateRoot(mvDir))
    assert(java.nio.file.Files.isDirectory(stDir), "state nests in the MV dir")
    // a FAILED replace (bad column) restores the old MV verbatim,
    // nested state included — refresh keeps working
    intercept[Exception](spark.sql(
      s"""CREATE OR REPLACE MATERIALIZED VIEW $mv AS
         |SELECT g, COUNT(*) AS n, COUNT(DISTINCT no_such) AS du
         |FROM $fact GROUP BY g""".stripMargin))
    spark.sql(s"INSERT INTO $fact VALUES (4,'b',300,40)")
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    assert(spark.sql(s"SELECT du FROM $mv WHERE g = 'b'").head().getLong(0) === 2L)
    // a SUCCESSFUL replace rebuilds state under the new definition
    spark.sql(s"""CREATE OR REPLACE MATERIALIZED VIEW $mv AS
                 |SELECT g, COUNT(*) AS n, COUNT(DISTINCT x) AS dx
                 |FROM $fact GROUP BY g""".stripMargin)
    assert(spark.sql(s"SELECT dx FROM $mv WHERE g = 'a'").head().getLong(0) === 2L)
    spark.sql(s"INSERT INTO $fact VALUES (5,'a',100,10)") // dup x=10
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    assert(spark.sql(s"SELECT n, dx FROM $mv WHERE g = 'a'").head() match {
      case r => r.getLong(0) === 3L && r.getLong(1) === 2L
    })
    // DROP removes the MV and its nested state wholesale
    spark.sql(s"DROP MATERIALIZED VIEW $mv")
    assert(!java.nio.file.Files.exists(stDir))
    spark.sql(s"DROP TABLE $fact")
  }

  test("daily-uniques distinct MV: bucket-grouped COUNT(DISTINCT) serves at the expression tier; stale and other-column shapes fall back") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.duf_$id"; val mv = s"graft.psd.duv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, u BIGINT, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 10:00:00', 100, 10),
                 |(2, TIMESTAMP '2024-01-01 23:00:00', 100, 20),
                 |(3, TIMESTAMP '2024-01-01 05:00:00', 200, 30),
                 |(4, TIMESTAMP '2024-01-02 01:00:00', 100, 40)""".stripMargin)
    // a PURE time-bucket grouping is legal for the distinct kind
    // (state/view maintenance are rewrites, never eq-delete masks)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
                 |  COUNT(DISTINCT u) AS uniq
                 |FROM $fact GROUP BY d""".stripMargin)
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.duf_$id")
    val mvDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.duv_$id")
    val q =
      s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day,
         |  COUNT(*) AS c, COUNT(DISTINCT u) AS du
         |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin
    assert(mvScanRoots(q) === Seq(mvDir),
      "the expression tier must serve the daily-uniques query")
    shiftFiles(factDir, hide = true)
    try assert(spark.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("2024-01-01 00:00:00" -> ((3L, 2L)),
        "2024-01-02 00:00:00" -> ((1L, 1L))))
    finally shiftFiles(factDir, hide = false)
    // per-(day, key) retirement: u=100 dies on 01-01 only after BOTH
    // its rows there are gone; its 01-02 cell is untouched
    spark.sql(s"DELETE FROM $fact WHERE fid IN (1, 2)")
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    assert(spark.sql(s"SELECT CAST(d AS STRING), n, uniq FROM $mv").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("2024-01-01 00:00:00" -> ((1L, 1L)),
        "2024-01-02 00:00:00" -> ((1L, 1L))))
    assert(spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
      === "signed")
    // a DIFFERENT distinct argument and a STALE basis both fall back
    assert(mvScanRoots(
      s"""SELECT date_trunc('DAY', ts) AS d2, COUNT(DISTINCT x) AS dx
         |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
      === Seq(factDir))
    // ---- STALE over an append-only gap: the bucketed COUNT(DISTINCT)
    // COMPENSATES FROM THE STATE — state keys ∪ delta keys with the
    // bucket RE-DERIVED per delta row (a re-seen uid lands on a new
    // day: counted there, not double-counted on its old day). Every
    // pre-append fact file hidden; the only lake scan is the state.
    spark.sql(s"INSERT INTO $fact VALUES " +
      s"(5, TIMESTAMP '2024-01-03 09:00:00', 300, 50), " +
      s"(6, TIMESTAMP '2024-01-02 12:00:00', 100, 60)")
    assert(mvScanRoots(q) === Seq(graft.lake.DistinctMv.stateRoot(mvDir)),
      "a stale bucketed distinct query must serve state ∪ delta")
    val head5 = LakeTable.currentSnapshot(factDir)
    val preApp5 = LakeTable.manifest(factDir, head5).files
      .filter(_.seq < head5).map(_.path)
    def shiftPre(hide: Boolean): Unit = preApp5.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shiftPre(hide = true)
    try assert(spark.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("2024-01-01 00:00:00" -> ((1L, 1L)),
        "2024-01-02 00:00:00" -> ((2L, 1L)),
        "2024-01-03 00:00:00" -> ((1L, 1L))),
      "the re-seen uid must not inflate its day's uniques")
    finally shiftPre(hide = false)
    spark.sql(s"DROP MATERIALIZED VIEW $mv"); spark.sql(s"DROP TABLE $fact")
  }

  test("expression groups on the MIN/MAX kind: bucket re-derives on fold and targeted recompute keyed on the non-timestamp column; rewrite serves; guards") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.mxf_$id"; val mv = s"graft.psd.mxv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, k STRING, x BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 10:00:00', 'k0', 10),
                 |(2, TIMESTAMP '2024-01-01 23:00:00', 'k0', 50),
                 |(3, TIMESTAMP '2024-01-02 01:00:00', 'k1', 30)""".stripMargin)
    // bucket LEADS the group list; the recompute/mask key is the
    // first stored non-timestamp column (k)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('DAY', ts) AS d, k, COUNT(*) AS n,
                 |  MIN(x) AS mn, MAX(x) AS mx, SUM(x) AS sx
                 |FROM $fact GROUP BY d, k""".stripMargin)
    def state(): Map[(String, String), (Long, Long, Long, Long)] =
      spark.sql(s"SELECT CAST(d AS STRING) AS d, k, n, mn, mx, sx FROM $mv")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def mode(): String =
      spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
    assert(state() === Map(
      ("2024-01-01 00:00:00", "k0") -> ((2L, 10L, 50L, 60L)),
      ("2024-01-02 00:00:00", "k1") -> ((1L, 30L, 30L, 30L))))
    assert(mode() === "full")
    // ---- append: the distributive FOLD (integral-SUM extras fold),
    // bucket re-derived over the delta — pre-basis fact files hidden,
    // so a fact-head read would throw
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.mxf_$id")
    spark.sql(s"INSERT INTO $fact VALUES " +
      s"(4, TIMESTAMP '2024-01-01 12:00:00', 'k0', 5), " +
      s"(5, TIMESTAMP '2024-01-03 02:00:00', 'k1', 70)")
    val v1Files = graft.lake.LakeTable.manifest(factDir, 1).files.map(_.path)
    def shift(hide: Boolean): Unit = v1Files.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(hide = true)
    try spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect(): Unit
    finally shift(hide = false)
    assert(mode() === "fold", "a pure append must fold distributively")
    assert(state() === Map(
      ("2024-01-01 00:00:00", "k0") -> ((3L, 5L, 50L, 65L)),
      ("2024-01-02 00:00:00", "k1") -> ((1L, 30L, 30L, 30L)),
      ("2024-01-03 00:00:00", "k1") -> ((1L, 70L, 70L, 70L))))
    // ---- delete the 01-01 bucket's minima (fid 1, 4): the TARGETED
    // recompute (keyed on k) re-derives the bucket and the min RISES;
    // the whole 01-02 k1 group dies and retires
    spark.sql(s"DELETE FROM $fact WHERE x <= 10 OR fid = 3")
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    assert(mode() === "targeted",
      "a delete must take the group-targeted recompute, not full")
    assert(state() === Map(
      ("2024-01-01 00:00:00", "k0") -> ((1L, 50L, 50L, 50L)),
      ("2024-01-03 00:00:00", "k1") -> ((1L, 70L, 70L, 70L))),
      "the bucket minimum must rise; an emptied (bucket, key) group retires")
    // ---- the expression tier serves the daily profile query (MIN/
    // MAX map through measureCol) — every fact data file hidden
    shiftFiles(factDir, hide = true)
    try assert(spark.sql(
      s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day, k,
         |  MIN(x) AS mn, MAX(x) AS mx
         |FROM $fact GROUP BY date_trunc('DAY', ts), k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap ===
      Map(("2024-01-01 00:00:00", "k0") -> ((50L, 50L)),
        ("2024-01-03 00:00:00", "k1") -> ((70L, 70L))))
    finally shiftFiles(factDir, hide = false)
    // ---- guards: all-expression groups cannot key the recompute;
    // a timestamp-only plain column cannot either
    val eAll = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.mxw_$id AS
         |SELECT date_trunc('DAY', ts) AS d, COUNT(*) AS n,
         |  MIN(x) AS mn, MAX(x) AS mx
         |FROM $fact GROUP BY d""".stripMargin))
    assert(eAll.getMessage.contains("plain group column"), eAll.getMessage)
    val eTs = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.mxw_$id AS
         |SELECT date_trunc('DAY', ts) AS d, ts, COUNT(*) AS n,
         |  MIN(x) AS mn, MAX(x) AS mx
         |FROM $fact GROUP BY d, ts""".stripMargin))
    assert(eTs.getMessage.contains("NON-TIMESTAMP"), eTs.getMessage)
    spark.sql(s"DROP MATERIALIZED VIEW $mv"); spark.sql(s"DROP TABLE $fact")
  }

  test("compensated staircase serves STALE expression-group STAR MVs: bucket re-derived per term on fact AND dim append axes; a dim rewire falls back") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.cxf_$id"; val dim = s"graft.psd.cxd_$id"
    val mv = s"graft.psd.cxv_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, k STRING, x BIGINT)")
    // fid 4 carries a key the dimension does NOT hold yet — the MV's
    // inner join excludes it until the late-arriving dim row lands
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 10:00:00', 'k0', 10),
                 |(2, TIMESTAMP '2024-01-01 23:00:00', 'k1', 20),
                 |(3, TIMESTAMP '2024-01-02 01:00:00', 'k0', 30),
                 |(4, TIMESTAMP '2024-01-02 05:00:00', 'k2', 25)""".stripMargin)
    spark.sql(s"CREATE TABLE $dim (k STRING, g STRING)")
    spark.sql(s"INSERT INTO $dim VALUES ('k0','a'),('k1','b')")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('DAY', ts) AS d, g, COUNT(*) AS n,
                 |  SUM(COALESCE(x, 0)) AS sx
                 |FROM $fact JOIN $dim USING (k) GROUP BY d, g""".stripMargin)
    val q =
      s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day, g,
         |  COUNT(*) AS c, SUM(COALESCE(x, 0)) AS sx
         |FROM $fact JOIN $dim USING (k)
         |GROUP BY date_trunc('DAY', ts), g""".stripMargin
    def run(): Map[(String, String), (Long, Long)] =
      spark.sql(q).collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.cxf_$id")
    val mvDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.cxv_$id")
    // ---- FACT axis: an unrefreshed fact append — hide every
    // PRE-APPEND fact file, so the fresh totals are only reachable
    // via MV ⊎ (ΔF ⋈ dim) with the bucket re-derived per delta row
    spark.sql(s"INSERT INTO $fact VALUES " +
      s"(5, TIMESTAMP '2024-01-03 03:00:00', 'k1', 40)")
    val v1Files = graft.lake.LakeTable.manifest(factDir, 1).files.map(_.path)
    def shift(hide: Boolean): Unit = v1Files.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(hide = true)
    try assert(run() === Map(
      ("2024-01-01 00:00:00", "a") -> ((1L, 10L)),
      ("2024-01-01 00:00:00", "b") -> ((1L, 20L)),
      ("2024-01-02 00:00:00", "a") -> ((1L, 30L)),
      ("2024-01-03 00:00:00", "b") -> ((1L, 40L))),
      "the fact-axis staircase must fold the delta with fresh buckets")
    finally shift(hide = false)
    // ---- BOTH axes: a late-arriving dimension row lands too — the
    // F₀ ⋈ ΔD term must surface the pre-existing k2 fact row under
    // its re-derived day bucket (plan must still read the MV)
    spark.sql(s"INSERT INTO $dim VALUES ('k2','b')")
    assert(mvScanRoots(q).contains(mvDir),
      "the two-axis staircase must serve from the MV scan")
    assert(run() === Map(
      ("2024-01-01 00:00:00", "a") -> ((1L, 10L)),
      ("2024-01-01 00:00:00", "b") -> ((1L, 20L)),
      ("2024-01-02 00:00:00", "a") -> ((1L, 30L)),
      ("2024-01-02 00:00:00", "b") -> ((1L, 25L)),
      ("2024-01-03 00:00:00", "b") -> ((1L, 40L))))
    // ---- a dim REWIRE breaks the append-only precondition: the
    // star runs as written (fact scan), values fresh
    spark.sql(s"UPDATE $dim SET g = 'a' WHERE k = 'k1'")
    assert(mvScanRoots(q) === Seq(factDir,
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.cxd_$id")),
      "a rewired dimension must fall back to the plain star")
    assert(run() === Map(
      ("2024-01-01 00:00:00", "a") -> ((2L, 30L)),
      ("2024-01-02 00:00:00", "a") -> ((1L, 30L)),
      ("2024-01-02 00:00:00", "b") -> ((1L, 25L)),
      ("2024-01-03 00:00:00", "a") -> ((1L, 40L))))
    Seq(mv, dim, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("MV rewrite serves expression-group MVs: GROUP BY the same date_trunc maps onto the stored bucket; alias names never bind from fact columns") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.egf_$id"; val mv = s"graft.psd.egv_$id"
    // the fact DELIBERATELY carries a column named like the MV's
    // bucket alias ('d') — the collision the alias guard must refuse
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, ts TIMESTAMP, site STRING, x BIGINT, d BIGINT)")
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(1, TIMESTAMP '2024-01-01 10:00:00', 'a', 10, 7),
                 |(2, TIMESTAMP '2024-01-01 23:00:00', 'b', 20, 7),
                 |(3, TIMESTAMP '2024-01-02 01:00:00', 'a', 30, 8)""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT date_trunc('DAY', ts) AS d, site, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact GROUP BY date_trunc('DAY', ts), site""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.egf_$id")
    shiftFiles(factDir, hide = true)
    try {
      // exact: the SAME bucket expression maps onto the stored column
      assert(spark.sql(
        s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day, site,
           |  COUNT(*) AS c, SUM(x) AS s
           |FROM $fact GROUP BY date_trunc('DAY', ts), site""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap ===
        Map(("2024-01-01 00:00:00", "a") -> ((1L, 10L)),
          ("2024-01-01 00:00:00", "b") -> ((1L, 20L)),
          ("2024-01-02 00:00:00", "a") -> ((1L, 30L))))
      // rollup: bucket-only grouping re-aggregates the finer MV
      assert(spark.sql(
        s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day, COUNT(*) AS c
           |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("2024-01-01 00:00:00" -> 2L, "2024-01-02 00:00:00" -> 1L))
      // plain-column slice with a plain-column residual
      assert(spark.sql(
        s"SELECT site, SUM(x) AS s FROM $fact WHERE site = 'a' GROUP BY site")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("a", 40L)))
      // an EXPRESSION residual: slicing one bucket commutes onto the
      // MV's alias column (rollup-slice shape — site grouping, bucket
      // filtered away)
      assert(spark.sql(
        s"""SELECT site, SUM(x) AS s FROM $fact
           |WHERE date_trunc('DAY', ts) = TIMESTAMP '2024-01-01 00:00:00'
           |GROUP BY site""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("a" -> 10L, "b" -> 20L))
      // a DIFFERENT bucket never serves (falls back → hidden files throw)
      intercept[Exception](spark.sql(
        s"""SELECT date_trunc('MONTH', ts) AS mo, COUNT(*) AS c
           |FROM $fact GROUP BY date_trunc('MONTH', ts)""".stripMargin).collect())
      // the fact's REAL column 'd' must not bind to the MV alias
      intercept[Exception](spark.sql(
        s"SELECT d, COUNT(*) AS c FROM $fact GROUP BY d").collect())
    } finally shiftFiles(factDir, hide = false)
    // staleness over an append-only gap: the COMPENSATED tier serves
    // MV rows ⊎ the delta rows with the bucket RE-DERIVED per row —
    // pinned by hiding the pre-append files (fresh values, including
    // the appended 01-02 row, are only reachable via MV ⊎ delta)
    val basisSnap = graft.lake.LakeTable.currentSnapshot(factDir)
    spark.sql(s"""INSERT INTO $fact VALUES
                 |(4, TIMESTAMP '2024-01-02 12:00:00', 'b', 40, 8)""".stripMargin)
    val preFiles = graft.lake.LakeTable.manifest(factDir, basisSnap).files.map(_.path)
    def shiftPre(hide: Boolean): Unit = preFiles.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shiftPre(hide = true)
    try {
      assert(spark.sql(
        s"""SELECT CAST(date_trunc('DAY', ts) AS STRING) AS day, COUNT(*) AS c,
           |  SUM(x) AS s
           |FROM $fact GROUP BY date_trunc('DAY', ts)""".stripMargin)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap ===
        Map("2024-01-01 00:00:00" -> ((2L, 30L)),
          "2024-01-02 00:00:00" -> ((2L, 70L))))
      // bucket-filtered slice through the compensated union
      assert(spark.sql(
        s"""SELECT site, COUNT(*) AS c FROM $fact
           |WHERE date_trunc('DAY', ts) = TIMESTAMP '2024-01-02 00:00:00'
           |GROUP BY site""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("a" -> 1L, "b" -> 1L))
    } finally shiftPre(hide = false)
    Seq(mv, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("MV rewrite binds renamed subquery outputs by MEANING, not surface name; current-time group expressions rejected at CREATE") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.rnf_$id"; val mv = s"graft.psd.rnv_$id"
    spark.sql(s"CREATE TABLE $fact (g STRING, h STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES ('a','z',1),('a','z',2),('b','y',3)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT g, h, COUNT(*) AS n FROM $fact GROUP BY g, h""".stripMargin)
    val factDir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog].tableDir(s"psd.rnf_$id")
    shiftFiles(factDir, hide = true)
    try {
      // the subquery SWAPS the names: output "g" MEANS base column h.
      // A name-bound rewrite would return ('a','z') tuples; the
      // meaning-bound one must return the swapped values.
      assert(spark.sql(
        s"""SELECT g, h, COUNT(*) AS c
           |FROM (SELECT h AS g, g AS h, x FROM $fact) GROUP BY g, h""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ===
        Map(("z", "a") -> 2L, ("y", "b") -> 1L))
    } finally shiftFiles(factDir, hide = false)
    // finding-5 guard: current_date()/current_timestamp() are
    // Catalyst-deterministic but bind a NEW clock per refresh
    val e = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.rnc_$id AS
         |SELECT current_date() AS d, COUNT(*) AS n
         |FROM $fact GROUP BY current_date()""".stripMargin))
    assert(e.getMessage.contains("current-time"))
    // OR REPLACE with an invalid definition must keep the old MV
    intercept[Exception](spark.sql(
      s"""CREATE OR REPLACE MATERIALIZED VIEW $mv AS
         |SELECT no_such_col, COUNT(*) AS n FROM $fact GROUP BY no_such_col""".stripMargin))
    assert(spark.sql(s"SELECT SUM(n) AS t FROM $mv").head().getLong(0) === 3L)
    Seq(mv, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("OR REPLACE survives DATA-dependent create failures; expr-group refresh holds the ANSI regime; aggregate-ish items rejected pointedly") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.arf_$id"; val mv = s"graft.psd.arv_$id"
    spark.sql(s"CREATE TABLE $fact (k STRING, s STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES ('a','1',1),('a','oops',2),('b','3',3)")
    spark.sql(s"CREATE MATERIALIZED VIEW $mv AS " +
      s"SELECT k, COUNT(*) AS n FROM $fact GROUP BY k")
    // the replacement ANALYZES fine but its MATERIALIZATION throws at
    // runtime (ANSI cast of 'oops') — every static validation passed,
    // so only the move-aside build protects the old MV: it must
    // survive with data AND refresh basis intact
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    intercept[Exception](spark.sql(
      s"""CREATE OR REPLACE MATERIALIZED VIEW $mv AS
         |SELECT CAST(s AS BIGINT) AS b, COUNT(*) AS n
         |FROM $fact GROUP BY CAST(s AS BIGINT)""".stripMargin))
    assert(spark.sql(s"SELECT k, n FROM $mv").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 2L, "b" -> 1L))
    spark.sql(s"INSERT INTO $fact VALUES ('b','7',4)")
    // the surviving basis still drives an incremental refresh
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv").collect()
    assert(spark.sql(s"SELECT k, n FROM $mv").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 2L, "b" -> 2L))
    // ANSI-REGIME guard: an arithmetic bucket defined under ansi=true
    // refuses to refresh under ansi=false (different overflow/
    // coercion semantics could split groups), and refreshes again
    // under the defining regime
    val mv2 = s"graft.psd.arw_$id"
    spark.sql(s"CREATE MATERIALIZED VIEW $mv2 AS " +
      s"SELECT x div 2 AS b, COUNT(*) AS n FROM $fact GROUP BY x div 2")
    spark.sql(s"INSERT INTO $fact VALUES ('c','9',9)")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val e = intercept[Exception](
        spark.sql(s"REFRESH MATERIALIZED VIEW $mv2").collect())
      assert(e.getMessage.contains("ANSI regime"), e.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.sql(s"REFRESH MATERIALIZED VIEW $mv2").collect()
    assert(spark.sql(s"SELECT SUM(n) AS t FROM $mv2").head().getLong(0) === 5L)
    // aggregate-ish select items the dedicated regexes don't match
    // get the unsupported-item message, never a confusing GROUP BY
    // mismatch
    // (a plain COUNT(DISTINCT col) is the distinct KIND since r17 —
    // an expression argument still has no maintenance law)
    val e2 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.arx_$id AS
         |SELECT k, COUNT(DISTINCT x + 1) AS c, COUNT(*) AS n
         |FROM $fact GROUP BY k""".stripMargin))
    assert(e2.getMessage.contains("unsupported select item"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW graft.psd.ary_$id AS
         |SELECT k, SUM(x)+1 AS s, COUNT(*) AS n
         |FROM $fact GROUP BY k""".stripMargin))
    assert(e3.getMessage.contains("unsupported select item"), e3.getMessage)
    // SEMANTIC GROUP BY matching: 'x+1 AS b' matches 'GROUP BY X + 1'
    // (spacing and case differences) via the parsed-tree comparison
    val mv3 = s"graft.psd.arz_$id"
    spark.sql(s"CREATE MATERIALIZED VIEW $mv3 AS " +
      s"SELECT x+1 AS b, COUNT(*) AS n FROM $fact GROUP BY X + 1")
    assert(spark.sql(s"SELECT SUM(n) AS t FROM $mv3").head().getLong(0) === 5L)
    Seq(mv, mv2, mv3, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("SHOW MATERIALIZED VIEWS inventories a namespace with per-MV freshness") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val ns = s"sh$id" // dedicated namespace: the sweep lists ALL MVs in it
    val fact = s"graft.$ns.f"; val mva = s"graft.$ns.a"; val mvb = s"graft.$ns.b"
    spark.sql(s"CREATE TABLE $fact (k STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES ('a', 1), ('b', 2)")
    spark.sql(s"CREATE MATERIALIZED VIEW $mva AS " +
      s"SELECT k, COUNT(*) AS n FROM $fact GROUP BY k")
    spark.sql(s"CREATE MATERIALIZED VIEW $mvb AS " +
      s"SELECT k, COUNT(*) AS n, MIN(x) AS mn, MAX(x) AS mx FROM $fact GROUP BY k")
    def show(): Map[String, (String, Boolean)] =
      spark.sql(s"SHOW MATERIALIZED VIEWS IN graft.$ns").collect()
        .map(r => r.getString(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(show() === Map("a" -> (("single", true)), "b" -> (("minmax", true))))
    spark.sql(s"INSERT INTO $fact VALUES ('c', 3)") // both stale now
    assert(show() === Map("a" -> (("single", false)), "b" -> (("minmax", false))))
    spark.sql(s"REFRESH MATERIALIZED VIEW $mva")
    assert(show() === Map("a" -> (("single", true)), "b" -> (("minmax", false))))
    spark.sql(s"DROP MATERIALIZED VIEW $mvb")
    assert(show() === Map("a" -> (("single", true))))
    Seq(mva, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("CALL refresh_mvs sweeps every stale registered MV over a fact in one verb; idempotent when fresh") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.rmf_$id"
    val mv1 = s"graft.psd.rmv1_$id"; val mv2 = s"graft.psd.rmv2_$id"
    spark.sql(s"CREATE TABLE $fact (fid BIGINT, g STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv1 AS
                 |SELECT g, COUNT(*) AS n, SUM(x) AS sx FROM $fact GROUP BY g""".stripMargin)
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv2 AS
                 |SELECT g, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi
                 |FROM $fact GROUP BY g""".stripMargin)
    spark.sql(s"INSERT INTO $fact VALUES (3, 'a', 30)") // both stale
    assert(spark.sql(s"SELECT fresh FROM $fact.mvs").collect()
      .map(_.getBoolean(0)).toSeq === Seq(false, false))
    assert(spark.sql(s"CALL graft.system.refresh_mvs(table => 'psd.rmf_$id')")
      .head().getInt(0) === 2, "one verb refreshes every stale MV")
    assert(spark.sql(s"SELECT fresh FROM $fact.mvs").collect()
      .map(_.getBoolean(0)).toSeq === Seq(true, true))
    assert(spark.sql(s"CALL graft.system.refresh_mvs(table => 'psd.rmf_$id')")
      .head().getInt(0) === 0, "a fresh sweep is a no-op")
    val ra = spark.sql(s"SELECT n, sx FROM $mv1 WHERE g = 'a'").head()
    assert((ra.getLong(0), ra.getLong(1)) === ((2L, 40L)))
    Seq(mv1, mv2, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("DROP MATERIALIZED VIEW deregisters eagerly and frees the name; REFRESH MATERIALIZED VIEW is the statement form of the refresh verb") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val id = System.nanoTime()
    val fact = s"graft.psd.dmf_$id"; val mv = s"graft.psd.dmv_$id"
    spark.sql(s"CREATE TABLE $fact (k STRING, x BIGINT)")
    spark.sql(s"INSERT INTO $fact VALUES ('a', 1), ('b', 2)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT k, COUNT(*) AS n, SUM(x) AS sx
                 |FROM $fact GROUP BY k""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val factDir = cat.tableDir(s"psd.dmf_$id")
    val mvDir = cat.tableDir(s"psd.dmv_$id")
    assert(graft.lake.MaterializedView.refsOf(factDir) === Seq(mvDir))
    // REFRESH statement: returns the basis, folds the delta
    spark.sql(s"INSERT INTO $fact VALUES ('a', 10)")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW $mv")
      .head().getString(0) === "fact=2")
    assert(spark.sql(s"SELECT sx FROM $mv WHERE k = 'a'")
      .head().getLong(0) === 11L)
    // DROP MATERIALIZED VIEW on a plain table: a pointed redirect
    val e1 = intercept[Exception](spark.sql(s"DROP MATERIALIZED VIEW $fact"))
    assert(e1.getMessage.contains("use DROP TABLE"))
    // missing name: bare throws, IF EXISTS is silent
    intercept[Exception](spark.sql(s"DROP MATERIALIZED VIEW graft.psd.none_$id"))
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS graft.psd.none_$id")
    // the drop: table gone, registry FILE eagerly rewritten (not just
    // the lazy liveness filter hiding a dead entry)
    spark.sql(s"DROP MATERIALIZED VIEW $mv")
    assert(graft.lake.MaterializedView.refsOf(factDir).isEmpty)
    val refsJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(factDir, "meta", "_mv_refs.json"))
    assert(!refsJson.contains(mvDir))
    intercept[Exception](spark.sql(s"SELECT * FROM $mv"))
    // name freed: a re-CREATE at the same identifier works and serves
    spark.sql(s"""CREATE MATERIALIZED VIEW $mv AS
                 |SELECT k, COUNT(*) AS n FROM $fact GROUP BY k""".stripMargin)
    assert(spark.sql(s"SELECT n FROM $mv WHERE k = 'a'")
      .head().getLong(0) === 2L)
    Seq(mv, fact).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("replaceWhere overwrite through the format keeps out-of-box files by reference") {
    import org.apache.spark.sql.functions._
    val root = graft.util.Scratch.dir("graft_rw_fmt_")
    val ev = graft.sources.Tables.load(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    ev.write.format("graft-lake").mode("append")
      .option("partitionCol", "user_id").option("keyCol", "ts")
      .option("maxRecordsPerFile", "128").save(root)
    // no declared temporal layout here, so gen 1 is hash-distributed:
    // re-cluster by a rewrite so per-file ts extents become tight
    graft.lake.LakeTable.rewrite(spark, root,
      graft.lake.LakeTable.read(spark, root),
      graft.writer.BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 128),
      Seq("event_id", "ts"), rangeCluster = true)
    val m2 = graft.lake.LakeTable.manifest(root, 2)
    val day = ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-11").cast("timestamp"))
      .withColumn("value", col("value") + lit(1000.0d))
    day.write.format("graft-lake").mode("overwrite")
      .option("replaceWhere",
        "ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 00:00:00'")
      .option("partitionCol", "user_id").option("keyCol", "ts")
      .option("maxRecordsPerFile", "128")
      .save(root)
    val m3 = graft.lake.LakeTable.manifest(root, 3)
    val kept = m3.files.map(_.path).toSet.intersect(m2.files.map(_.path).toSet)
    assert(kept.nonEmpty && kept.size < m2.files.size,
      s"replaceWhere must keep out-of-day files by reference " +
        s"(kept ${kept.size} of ${m2.files.size})")
    val expect = ev.withColumn("value",
      when(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-11").cast("timestamp"),
        col("value") + lit(1000.0d)).otherwise(col("value")))
    val got = spark.read.format("graft-lake").load(root)
    assert(got.count() === ev.count())
    assert(got.exceptAll(expect).count() === 0L)
    // unsupported predicate shapes fail loudly, not silently
    val thrown = intercept[Exception] {
      day.write.format("graft-lake").mode("overwrite")
        .option("replaceWhere", "event_type LIKE 'c%'").save(root)
    }
    assert(thrown.getMessage.contains("replaceWhere") ||
      Option(thrown.getCause).exists(_.getMessage.contains("replaceWhere")))
    graft.util.Scratch.rmNow(root)
  }

  test("ANALYZE column stats tighten with pruning: NDV merges over surviving files only") {
    val root = graft.util.Scratch.dir("graft_ndvprune_")
    // event_type-clustered layout → files are type-pure, so a type
    // predicate prunes to that type's files and the merged sketch
    // sees ONE distinct value instead of the table's five
    LakeTable.commit(spark, root, events,
      BlockWriter.Config("event_type", "event_id", maxRecordsPerFile = 256),
      Seq("event_id", "event_type"))
    LakeTable.analyze(spark, root)
    def typeNdv(df: DataFrame): Long = {
      val scan = graftScanOf(df)
      val cs = scan.estimateStatistics().columnStats()
      val hit = scala.jdk.CollectionConverters.MapHasAsScala(cs).asScala
        .collectFirst { case (ref, st) if ref.fieldNames().head == "event_type" =>
          st.distinctCount().getAsLong }
      assert(hit.isDefined, s"no event_type column stats served: $cs")
      hit.get
    }
    val all = spark.read.format("graft-lake").load(root)
    val nAll = typeNdv(all)
    val one = all.filter(col("event_type") === "click")
    val nOne = typeNdv(one)
    assert(nAll >= 4, s"whole-table event_type NDV should be ~5, got $nAll")
    // survivors = click's contiguous run + at most its two
    // type-transition boundary files, so the merged sketch sees the
    // pruned subset's cardinality, not the table's
    assert(nOne <= 2 && nOne < nAll,
      s"pruned scan must merge sketches of surviving files only, got NDV $nOne vs $nAll")
    graft.util.Scratch.rmNow(root)
  }

  test("ANALYZE feeds the CBO: attribute stats from sketches flip a 3-table join order") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val s = spark
    import s.implicits._
    def lake(name: String, df: DataFrame, pk: String): String = {
      val root = graft.util.Scratch.dir(s"graft_cbo_${name}_")
      LakeTable.commit(spark, root, df,
        BlockWriter.Config(pk, pk, maxRecordsPerFile = 1 << 20), Seq(pk))
      LakeTable.analyze(spark, root)
      root
    }
    // fact F: ka has NDV 2000, kb has NDV 4. Dim A keys ka (2000 rows,
    // NDV 2000): F⋈A ≈ |F|. Dim B keys kb (2000 rows, NDV 4): F⋈B
    // explodes to ~|F|·|B|/4. Written B-first — only real distinct
    // counts tell the optimizer to reorder A below B.
    val fRoot = lake("f", spark.range(20000).select(
      (col("id") % 2000).as("ka"), (col("id") % 4).as("kb"),
      col("id").as("payload")), "payload")
    val aRoot = lake("a", spark.range(2000).select(
      col("id").as("ka"), (col("id") * 7).as("attr_a")), "ka")
    val bRoot = lake("b", spark.range(2000).select(
      (col("id") % 4).as("kb"), (col("id") * 11).as("attr_b")), "kb")
    def joined: DataFrame = {
      val f = spark.read.format("graft-lake").load(fRoot)
      val a = spark.read.format("graft-lake").load(aRoot)
      val b = spark.read.format("graft-lake").load(bRoot)
      f.join(b, "kb").join(a, "ka")
        .agg(sum(col("payload") + col("attr_a") + col("attr_b")).as("s"))
    }
    /** Roots referenced under the DEEPEST join of the optimized plan. */
    def innermostRoots(df: DataFrame): Set[String] = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      val innermost = joins.last // collect is pre-order; last = deepest
      innermost.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan match { case g: GraftScan => g.tableRoot; case _ => "" }
      }.toSet
    }
    val cboKeys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    try {
      // negative control: without CBO the written order stands — the
      // exploding B join sits innermost
      cboKeys.foreach(k => spark.conf.set(k, "false"))
      val naive = innermostRoots(joined)
      assert(naive.contains(bRoot) && !naive.contains(aRoot),
        s"control: expected B innermost without CBO, got $naive")
      // with CBO: the sketches' distinct counts expose the explosion
      // and the optimizer reorders A innermost
      cboKeys.foreach(k => spark.conf.set(k, "true"))
      val df = joined
      val stats = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.map(_.stats)
      assert(stats.exists(_.attributeStats.nonEmpty),
        "scan relations must carry attribute stats from the ANALYZE sketches")
      val reordered = innermostRoots(df)
      assert(reordered.contains(aRoot) && !reordered.contains(bRoot),
        s"CBO should join the non-exploding A first, got $reordered")
      // distinct counts are the sketch estimates (linear regime: exact)
      val kbStats = stats.flatMap(st => st.attributeStats.collectFirst {
        case (attr, cs) if attr.name == "kb" && cs.distinctCount.isDefined =>
          cs.distinctCount.get.toLong
      })
      assert(kbStats.forall(_ === 4L), s"kb NDV should sketch to 4, got $kbStats")
    } finally {
      cboKeys.foreach(spark.conf.unset)
      Seq(fRoot, aRoot, bRoot).foreach(graft.util.Scratch.rmNow)
    }
  }

  test("ANALYZE equi-height histograms: skewed-value selectivity tracks the histogram where uniform NDV misestimates 10x; incremental re-ANALYZE reuses boundaries") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val root = graft.util.Scratch.dir("graft_hist_")
    // the q_salted_join shape: one key holds HALF the table, ten
    // thousand rare keys hold the rest — uniform-NDV selectivity
    // estimates rows/ndv ≈ 2 where the truth is 10 000
    val skewed = spark.range(20000).select(
      org.apache.spark.sql.functions.when(col("id") < 10000, 7L)
        .otherwise(col("id") + 10000).as("k"),
      col("id").as("payload"))
    LakeTable.commit(spark, root, skewed,
      BlockWriter.Config("payload", "payload", maxRecordsPerFile = 4096),
      Seq("payload"))
    LakeTable.analyze(spark, root)
    def estimatedRows(): BigInt = {
      val df = spark.read.format("graft-lake").load(root).filter(col("k") === 7L)
      val filters = df.queryExecution.optimizedPlan.collect {
        case f: LFilter => f }
      filters.head.stats.rowCount.getOrElse(BigInt(-1))
    }
    val cboKeys = Seq("spark.sql.cbo.enabled")
    try {
      cboKeys.foreach(k => spark.conf.set(k, "true"))
      val est = estimatedRows()
      // NDV-only estimate would be ≈ 20000/10001 ≈ 2; the histogram
      // sees ~half the equal-height bins pinned at the heavy value
      assert(est >= BigInt(5000) && est <= BigInt(20000),
        s"histogram selectivity should track the skew, got $est")
      // the t.stats surface reports the skew verdict
      val meta = LakeTable.colStats(root).get
      val merged = LakeTable.mergedHist(meta, meta.files.keys.toSeq, "k").get
      assert(merged.map(_._1).sum === 20000L)
      assert(merged.map(_._1).max >= 9000L,
        "the heavy value's fixed-boundary bin must hold its mass")
      // ---- incremental re-ANALYZE: new files sketch against the
      // STORED boundaries (counts stay mergeable), estimate follows
      val more = spark.range(4000).select(lit(7L).as("k"),
        (col("id") + 50000).as("payload"))
      LakeTable.commit(spark, root, more,
        BlockWriter.Config("payload", "payload", maxRecordsPerFile = 4096),
        Seq("payload"))
      val (snap2, newFiles) = LakeTable.analyze(spark, root)
      assert(newFiles > 0, "re-ANALYZE must sketch only the new files")
      val meta2 = LakeTable.colStats(root).get
      assert(meta2.bounds("k") === meta.bounds("k"),
        "incremental ANALYZE must reuse the stored boundaries")
      val est2 = estimatedRows()
      assert(est2 >= BigInt(7000) && est2 <= BigInt(24000),
        s"post-append histogram estimate should track, got $est2")
      assert(snap2 === 2)
    } finally {
      cboKeys.foreach(spark.conf.unset)
      graft.util.Scratch.rmNow(root)
    }
  }

  test("avro-plane tables read through the DSv2 front door: dispatch, pruning, delete mask, streaming") {
    val root = graft.util.Scratch.dir("graft_v2avro_")
    (0 to 2).foreach { i =>
      LakeTable.appendAvro(spark, root,
        events.filter(pmod(col("event_id"), lit(3)) === i)
          .repartitionByRange(4, col("event_id")),
        statCols = Seq("event_id", "event_type"))
    }
    // the format read IS a GraftScan and matches the library path
    val byFormat = spark.read.format("graft-lake").load(root)
    graftScanOf(byFormat): Unit
    assert(sorted(byFormat) === sorted(LakeTable.read(spark, root)))
    // manifest stats (reported IN-STREAM by the avro write tasks)
    // prune the range probe's file list before any container opens
    val probe = byFormat.filter(col("event_id").between(1000, 1999))
    assert(probe.count() ===
      events.filter(col("event_id").between(1000, 1999)).count())
    val pscan = graftScanOf(probe)
    assert(pscan.survivors.size < pscan.totalFiles,
      s"avro range probe should prune: ${pscan.survivors.size}/${pscan.totalFiles}")
    // column pruning reaches the container decoder via avro reader-
    // schema projection: the scan's read schema is the 2 columns
    val narrow = byFormat.select(col("event_id"), col("value"))
    assert(graftScanOf(narrow).readSchema().fieldNames.toSet ===
      Set("event_id", "value"))
    // equality deletes mask by value downstream of the decode — the
    // SQL-visible head answers exactly like the library read
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.range(1).select(lit("error").as("event_type")))
    val head = spark.read.format("graft-lake").load(root)
    assert(head.filter(col("event_type") === "error").count() === 0)
    assert(head.count() === events.filter(col("event_type") =!= "error").count())
    // time travel by snapshot option still sees the pre-delete rows
    assert(spark.read.format("graft-lake").option("snapshot", 3).load(root)
      .count() === events.count())
    // micro-batch streaming tails avro appends through the same
    // dispatch — the drained corpus equals the appended corpus
    val sink = graft.util.Scratch.dir("graft_v2avro_sink_")
    val ckpt = graft.util.Scratch.dir("graft_v2avro_ck_")
    val q = spark.readStream.format("graft-lake").load(root)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(sink).count() === events.count(),
      "the append stream tails data files (deletes are masks, not removals)")
    Seq(root, sink, ckpt).foreach(graft.util.Scratch.rmNow)
  }
}
