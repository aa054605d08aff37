package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.Sessionize

object StreamingSpec {
  /** Roots, staged input and writer config of a near-dup drain fixture. */
  final case class DedupFixture(bandsRoot: String, baseRoot: String,
      resultsRoot: String, inDir: String, files: Seq[String],
      cfg: graft.writer.BlockWriter.Config)
}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import StreamingSpec.DedupFixture

  /** Stage DataFrames as one parquet file each under a fresh dir,
    * with strictly increasing modification times — the streaming file
    * source (maxFilesPerTrigger=1) then replays them as ordered
    * micro-batches.
    */
  private def stageBatches(prefix: String,
      batches: Seq[org.apache.spark.sql.DataFrame]): String = {
    val inDir = graft.util.Scratch.dir(prefix)
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmpOut = graft.util.Scratch.dir(s"${prefix}tmp_")
      df.coalesce(1).write.mode("overwrite").parquet(tmpOut)
      val part = new java.io.File(tmpOut).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(inDir, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      graft.util.Scratch.rmNow(tmpOut)
    }
    inDir
  }

  test("append-mode watermark: windows finalize once, late rows drop, state stays bounded") {
    val s = spark
    import s.implicits._
    def batch(hours: Seq[Int]) = hours.toDF("h")
      .select(expr("timestamp_millis(h * 3600000L)").as("ts"))
    // b0: on-time hours 0..2; b1 jumps event time to 10-11 (advances
    // the watermark past the early windows); b2 carries a LATE hour-0
    // row (far below the watermark) plus one on-time row.
    val inDir = stageBatches("graft_wm_", Seq(
      batch(Seq(0, 1, 2)), batch(Seq(10, 11)), batch(Seq(0, 11))))
    val schema = s.read.parquet(inDir).schema
    val name = s"graft_wm_sink_${System.nanoTime()}"
    val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", graft.util.Scratch.dir("graft_wm_ck_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(name)
      .select((unix_micros(col("w.start")) / 3600000000L).cast("long").as("h"), col("n"))
      .as[(Long, Long)].collect().toMap
    // exactly the finalized windows, each emitted once, with counts
    // UNCHANGED by the late replay of hour 0
    assert(out === Map(0L -> 1L, 1L -> 1L, 2L -> 1L), s"sink: $out")
    val progresses = q.recentProgress.toSeq.flatMap(_.stateOperators)
    assert(progresses.map(_.numRowsDroppedByWatermark).sum >= 1,
      "the late hour-0 row must be dropped by the watermark")
    // state eviction: only the not-yet-final windows (hours 10, 11)
    // remain; the early windows were emitted AND evicted
    assert(progresses.last.numRowsTotal <= 2,
      s"state not bounded: ${progresses.last.numRowsTotal} rows")
  }

  test("custom-state sessionizer runs incrementally across micro-batches") {
    val s = spark
    import s.implicits._
    import Sessionize._
    // +24h base: epoch-0 event times collide with the initial
    // watermark's strict > filter and would be dropped as late.
    def evBatch(rows: Seq[(Long, Long)]) = rows.toDF("user_id", "h")
      .select(col("user_id"), expr("timestamp_millis((h + 24) * 3600000L)").as("ts"))
    // u1 session [0,1] closed by its 10:00 event (batch 1); u1 [10]
    // closed by its 20:00 event (batch 2); u2 [0,1] has no later
    // events — closed by the WATERMARK TIMEOUT path; u1's open tail
    // [20] is correctly held back (watermark never passes its end).
    val inDir = stageBatches("graft_sst_", Seq(
      evBatch(Seq((1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L))),
      evBatch(Seq((1L, 10L))),
      evBatch(Seq((1L, 20L)))))
    val schema = s.read.parquet(inDir).schema
    val gapUs = 2L * 3600L * 1000000L
    val src = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir)
      .withWatermark("ts", "1 hour")
      // the watermark-tagged ts column must flow into the stateful
      // operator (event-time timeout requires it); the Ev encoder
      // binds by name and ignores the extra column.
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit(1.0).as("value"), col("ts"))
      .as[Ev](evEnc)
    val name = s"graft_sst_sink_${System.nanoTime()}"
    val q = Sessionize.sessionsStreaming(src, gapUs)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", graft.util.Scratch.dir("graft_sst_ck_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s.table(name).as[Sess](sessEnc).collect()
      .map(x => (x.user_id, x.start_us / 3600000000L - 24L,
        x.end_us / 3600000000L - 24L, x.n_events)).toSet
    assert(got === Set(
      (1L, 0L, 3L, 2L),   // closed by a later event past the gap
      (1L, 10L, 12L, 1L), // closed by the next batch's event
      (2L, 0L, 3L, 2L)),  // closed by event-time timeout (eviction)
      s"got: $got")
  }

  /** Append one parquet file to a live source dir (current mtime —
    * the running stream discovers it on its next trigger).
    */
  private def stageLive(inDir: String, i: Int,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmpOut = graft.util.Scratch.dir("graft_live_tmp_")
    df.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(inDir, f"b$i%02d.parquet"))
    graft.util.Scratch.rmNow(tmpOut)
  }

  private def awaitCount(read: => Long, expect: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (read != expect) {
      assert(System.currentTimeMillis() < deadline,
        s"timed out waiting for $expect rows (have $read)")
      Thread.sleep(100)
    }
  }

  test("MaxAge as a clock: processing-time trigger flushes mid-stream, before the source drains") {
    // The reference's BlockManager flushes a block when it turns
    // MaxAge old even while the stream keeps producing (main.go:75).
    // Here the trigger interval is the MaxAge analog: files staged
    // over wall-clock time must flush in SEPARATE commits, each
    // before the source is exhausted — not one drain at the end —
    // and every flushed file must respect MaxSize.
    val s = spark
    val ev = Tables.load(s, sf, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val slices = (0 until 3).map(k => ev.filter(col("event_id") % 3 === k))
    val counts = slices.map(_.count())
    val inDir = graft.util.Scratch.dir("graft_age_in_")
    val outDir = graft.util.Scratch.dir("graft_age_out_") + "/sink"
    stageLive(inDir, 0, slices(0))
    val schema = s.read.parquet(inDir).schema
    val q = s.readStream.schema(schema).parquet(inDir)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", graft.util.Scratch.dir("graft_age_ck_"))
      .option("maxRecordsPerFile", 64L)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      def sinkCount: Long =
        try s.read.parquet(outDir).count() catch { case _: Exception => 0L }
      // batch 0 flushes on the trigger clock while batches 1 and 2
      // are still in the future — age forces the flush, not drain
      awaitCount(sinkCount, counts(0), 30000)
      stageLive(inDir, 1, slices(1))
      awaitCount(sinkCount, counts(0) + counts(1), 30000)
      stageLive(inDir, 2, slices(2))
      awaitCount(sinkCount, counts.sum, 30000)
      // >= 3 distinct non-empty commits: one per staged file's age window
      val flushes = q.recentProgress.count(_.numInputRows > 0)
      assert(flushes >= 3, s"expected >=3 age-driven flushes, got $flushes")
      // MaxSize holds for every flushed file
      val maxRows = s.read.parquet(outDir)
        .groupBy(col("_metadata.file_path")).count()
        .agg(max(col("count"))).head().getLong(0)
      assert(maxRows <= 64, s"file exceeded MaxSize: $maxRows rows")
    } finally q.stop()
  }

  /** The near-dup drain fixture at sf0.001: a spec-local index
    * (bands + base) seeded with the CORPUS partition (the shared
    * session artifact stays immutable), an empty results root, and
    * three arriving batches (thirds of the incoming-batch docs) staged
    * with distinct mtimes so the file source's oldest-first order is
    * deterministic — the fold oracle replays the same order.
    */
  private def dedupFixture(prefix: String): DedupFixture = {
    import graft.lake.LakeTable
    import graft.operators.MinhashIndex
    import graft.writer.BlockWriter
    val docs = Tables.load(spark, sf, "documents")
    val bandsRoot = graft.util.Scratch.dir(s"${prefix}idx_")
    val baseRoot = graft.util.Scratch.dir(s"${prefix}base_")
    val resultsRoot = graft.util.Scratch.dir(s"${prefix}res_")
    val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, bandsRoot,
      MinhashIndex.corpusBands(spark, sf), cfg, Seq("doc_id"))
    LakeTable.commit(spark, baseRoot,
      MinhashIndex.corpusBase(spark, sf), cfg, Seq("doc_id"))
    val inDir = graft.util.Scratch.dir(s"${prefix}in_")
    val files = (0 until 3).map { i =>
      val part = docs.filter(MinhashIndex.batchPred &&
        (col("doc_id") / 10) % 3 === i.toLong)
      val tmp = graft.util.Scratch.dir(s"${prefix}t${i}_")
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(inDir, s"b$i.parquet")
      java.nio.file.Files.copy(src, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (3 - i) * 60000L))
      dst.toString
    }
    DedupFixture(bandsRoot, baseRoot, resultsRoot, inDir, files, cfg)
  }

  test("streaming near-dup ingest: batches probe the persisted index, survivors commit, index grows") {
    import graft.lake.LakeTable
    import graft.operators.MinhashIndex
    import graft.streaming.DedupStream
    val DedupFixture(bandsRoot, baseRoot, resultsRoot, inDir, files, cfg) =
      dedupFixture("graft_ddst_")
    val (resCommits, idxCommits) = DedupStream.runOnceDedupToLake(
      spark, inDir, resultsRoot, bandsRoot, baseRoot, cfg)
    // one commit per surviving batch on BOTH tables (idempotent notes)
    assert(resCommits >= 1 && idxCommits === resCommits + 1)
    (1 to resCommits).foreach { s =>
      assert(LakeTable.manifest(resultsRoot, s).note.startsWith("batch-"))
    }
    // equivalence with the batch-mode fold over the same file order
    val expected = DedupStream.batchFold(spark, files,
      LakeTable.read(spark, bandsRoot, Some(1)),
      LakeTable.read(spark, baseRoot, Some(1)))
    val got = LakeTable.read(spark, resultsRoot)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === expected)
    // the index grew by exactly the survivors' bands
    val idxDocs = LakeTable.read(spark, bandsRoot)
      .select("doc_id").filter(MinhashIndex.batchPred).distinct().count()
    assert(idxDocs === expected.size.toLong)
    spark.catalog.clearCache()
  }

  test("near-dup probe is asymmetric: index side plans scan→probe with no Exchange on its band keys") {
    import graft.lake.LakeTable
    import graft.operators.MinhashIndex
    import graft.streaming.DedupStream
    import graft.writer.BlockWriter
    val docs = Tables.load(spark, sf, "documents")
    val bandsRoot = graft.util.Scratch.dir("graft_ddpl_idx_")
    val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, bandsRoot,
      MinhashIndex.corpusBands(spark, sf), cfg, Seq("doc_id"))
    val batchBands = MinhashIndex.bandsOf(
      MinhashIndex.baseOf(docs.filter(MinhashIndex.batchPred).limit(50)))
    val dupIds = DedupStream.probeDupIds(spark, bandsRoot, batchBands)
    val plan = dupIds.queryExecution.executedPlan.toString
    // the corpus-scale index must be PROBED, never moved: broadcast
    // hash join with the micro-batch side built, and no shuffle keyed
    // on the index's (band, bk) anywhere in the plan — the only
    // Exchange is the batch-sized distinct on the probe output
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"index side must not sort-merge:\n$plan")
    assert(!plan.contains("hashpartitioning(band"),
      s"index side must not shuffle on its band keys:\n$plan")
    // and the probe result is what the (oracle-equivalent) semi-join
    // shape would produce
    val viaSemi = batchBands.join(LakeTable.read(spark, bandsRoot),
      Seq("band", "bk"), "left_semi").select("doc_id").distinct()
    assert(dupIds.exceptAll(viaSemi).count() === 0L)
    assert(viaSemi.exceptAll(dupIds).count() === 0L)
  }

  test("streaming dedup exact-verify tier: a false-positive band collision survives, a true dup drops") {
    val s = spark
    import s.implicits._
    import graft.lake.LakeTable
    import graft.operators.MinhashIndex
    import graft.streaming.DedupStream
    import graft.writer.BlockWriter
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "red orange yellow green blue indigo violet ultraviolet"
    val textC = "one two three four five six seven eight nine"
    // batch: doc 100 (distinct content), doc 102 (true dup of corpus doc 1)
    val batchDf = Seq((100L, textA), (102L, textB)).toDF("doc_id", "text")
    // corpus: doc 1 = textB, doc 2 = textC (shingle-disjoint from 100)
    val corpusDf = Seq((1L, textB), (2L, textC)).toDF("doc_id", "text")
    val corpusBase = MinhashIndex.baseOf(corpusDf)
    val corpusBands = MinhashIndex.bandsOf(corpusBase)
    // FORCE the LSH false positive: corpus doc 2 is indexed under one
    // of doc 100's band keys — two genuinely distinct documents
    // sharing a band, the exact case a collision-drops gate loses
    val forged = MinhashIndex.bandsOf(
        MinhashIndex.baseOf(batchDf.filter($"doc_id" === 100)))
      .limit(1).select(lit(2L).as("doc_id"), $"band", $"bk")
    val bandsRoot = graft.util.Scratch.dir("graft_ddfp_idx_")
    val baseRoot = graft.util.Scratch.dir("graft_ddfp_base_")
    val resultsRoot = graft.util.Scratch.dir("graft_ddfp_res_")
    val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, bandsRoot, corpusBands.unionByName(forged),
      cfg, Seq("doc_id"))
    LakeTable.commit(spark, baseRoot, corpusBase, cfg, Seq("doc_id"))
    // the RAW collision gate would drop BOTH batch docs
    val batchBands = MinhashIndex.bandsOf(MinhashIndex.baseOf(batchDf))
    val rawDrops = DedupStream.probeDupIds(spark, bandsRoot, batchBands)
      .collect().map(_.getLong(0)).sorted
    assert(rawDrops === Array(100L, 102L),
      "fixture must band-collide both batch docs")
    // stage the batch and run the verified streaming gate
    val inDir = graft.util.Scratch.dir("graft_ddfp_in_")
    val tmp = graft.util.Scratch.dir("graft_ddfp_t_")
    batchDf.coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val file = java.nio.file.Paths.get(inDir, "b0.parquet")
    java.nio.file.Files.copy(src, file)
    DedupStream.runOnceDedupToLake(spark, inDir, resultsRoot, bandsRoot,
      baseRoot, cfg)
    // doc 100's collision is refuted by exact Jaccard (disjoint
    // shingles) → SURVIVES; doc 102's is confirmed (jacc = 1) → drops
    val got = LakeTable.read(spark, resultsRoot)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got === Array(100L),
      s"verified gate must keep the false positive and drop the dup, got ${got.mkString(",")}")
    // the survivor's shingle set + bands joined the index
    assert(LakeTable.read(spark, baseRoot).filter($"doc_id" === 100L).count() === 1L)
    assert(LakeTable.read(spark, bandsRoot).filter($"doc_id" === 100L).count() > 0L)
    // batch-fold twin agrees on the verified semantics
    val expected = DedupStream.batchFold(spark, Seq(file.toString),
      corpusBands.unionByName(forged), corpusBase)
    assert(expected === Seq(100L))
    spark.catalog.clearCache()
  }

  /** Spark jobs started per streaming batch id by `body`'s drains.
    * Jobs are told apart by a local property set on this thread: the
    * stream thread, and any helper thread it starts, inherit a copy of
    * it, while jobs of other threads carry none. Listener events are
    * delivered asynchronously, so a marker job run after `body` is
    * awaited before the counts are read (the bus delivers in order).
    */
  private def jobsPerBatch(body: => Unit): Map[Long, Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long,
      java.util.concurrent.atomic.AtomicInteger]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(`tag`) =>
            Option(e.properties.getProperty(MicroBatchExecution.BATCH_ID_KEY))
              .foreach(b => perBatch.computeIfAbsent(b.toLong,
                _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet())
          case Some(t) if t == s"$tag-end" => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    perBatch.asScala.view.mapValues(_.get).toMap
  }

  test("streaming dedup batch budget: ≤ 12 Spark jobs per micro-batch, no cached frame left behind") {
    import graft.streaming.DedupStream
    val fx = dedupFixture("graft_ddjb_")
    // the budget covers the whole micro-batch: the stream's own work,
    // the gate's collected actions and the three commits (the
    // helper-thread commit included)
    spark.catalog.clearCache()
    val jobs = jobsPerBatch {
      DedupStream.runOnceDedupToLake(spark, fx.inDir, fx.resultsRoot,
        fx.bandsRoot, fx.baseRoot, fx.cfg): Unit
    }
    info(s"Spark jobs per batch: ${jobs.toSeq.sorted.mkString(", ")}")
    assert(jobs.keySet === Set(0L, 1L, 2L), s"one entry per batch: $jobs")
    jobs.foreach { case (b, n) =>
      assert(n <= 12, s"batch $b ran $n Spark jobs (budget 12): $jobs")
    }
    // the gate caches nothing: no cached frame may outlive a drain
    // (a frame cached under the batch's cloned session is not released
    // by a release keyed on the outer session)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup drain left cached frames in the cache manager")
  }

  /** A small near-dup fixture: corpus docs 1-4 indexed (bands + base),
    * one staged batch holding exact copies of docs 1 and 2 (ids 11,
    * 12), two new docs (13, 14) and one doc too short to shingle (15).
    * Returns the roots, the batch frame and the fold oracle's
    * survivors. Failure injection: `baseExtraCol` gives the base table
    * a column the drain's frames lack (its append fails the schema
    * check at commit time, after staging); `reservedBatchCol` gives the
    * batch a reserved row-coordinate column (the results append fails
    * before staging anything).
    */
  private def smallDedupFixture(prefix: String, baseExtraCol: Boolean = false,
      reservedBatchCol: Boolean = false) = {
    val s = spark
    import s.implicits._
    import graft.lake.LakeTable
    import graft.operators.MinhashIndex
    import graft.streaming.DedupStream
    import graft.writer.BlockWriter
    def text(d: Int) = (0 until 24).map(j => s"w${d}_$j").mkString(" ")
    val corpusDf = (1 to 4).map(d => (d.toLong, text(d))).toDF("doc_id", "text")
    val batchDf0 = Seq((11L, text(1)), (12L, text(2)), (13L, text(13)),
      (14L, text(14)), (15L, "too short")).toDF("doc_id", "text")
    val batchDf =
      if (reservedBatchCol) batchDf0.withColumn(LakeTable.CoordPath, lit("x"))
      else batchDf0
    val corpusBase = MinhashIndex.baseOf(corpusDf)
    val corpusBands = MinhashIndex.bandsOf(corpusBase)
    val bandsRoot = graft.util.Scratch.dir(s"${prefix}idx_")
    val baseRoot = graft.util.Scratch.dir(s"${prefix}base_")
    val resultsRoot = graft.util.Scratch.dir(s"${prefix}res_")
    val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, bandsRoot, corpusBands, cfg, Seq("doc_id"))
    LakeTable.commit(spark, baseRoot,
      if (baseExtraCol) corpusBase.withColumn("extra", lit(0)) else corpusBase,
      cfg, Seq("doc_id"))
    val inDir = stageBatches(s"${prefix}in_", Seq(batchDf))
    val file = java.nio.file.Paths.get(inDir, "b00.parquet").toString
    val survivors = DedupStream.batchFold(spark, Seq(file), corpusBands, corpusBase)
    assert(survivors === Seq(13L, 14L, 15L), "fixture: exact copies drop, the rest survive")
    (bandsRoot, baseRoot, resultsRoot, inDir, cfg, batchDf, survivors)
  }

  test("streaming dedup replay: a batch whose results (and base) landed before a crash re-lands only the rest") {
    import graft.lake.LakeTable
    import graft.operators.MinhashIndex
    import graft.streaming.DedupStream
    def ids(root: String) =
      LakeTable.read(spark, root).filter(col("doc_id") > 10L)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    for (baseLanded <- Seq(false, true)) {
      val (bandsRoot, baseRoot, resultsRoot, inDir, cfg, batchDf, survivors) =
        smallDedupFixture(if (baseLanded) "graft_ddrb_" else "graft_ddrr_")
      val kept = col("doc_id").isin(survivors: _*)
      // what a crash after the first commit(s) of batch 0 leaves behind
      LakeTable.commit(spark, resultsRoot, batchDf.filter(kept), cfg,
        Seq("doc_id"), note = "batch-0")
      if (baseLanded)
        LakeTable.commit(spark, baseRoot,
          MinhashIndex.baseOf(batchDf).filter(kept), cfg, Seq("doc_id"),
          note = "batch-0")
      DedupStream.runOnceDedupToLake(spark, inDir, resultsRoot, bandsRoot,
        baseRoot, cfg)
      // every survivor in results exactly once: the landed commit is
      // not repeated
      assert(ids(resultsRoot) === survivors, s"baseLanded=$baseLanded")
      assert(LakeTable.currentSnapshot(resultsRoot) === 1)
      // base and bands gained exactly the shingled survivors (doc 15
      // is too short to shingle), each once
      val shingled = survivors.filterNot(_ == 15L)
      assert(ids(baseRoot) === shingled, s"baseLanded=$baseLanded")
      assert(ids(bandsRoot) ===
        shingled.flatMap(Seq.fill(MinhashIndex.BANDS)(_)), s"baseLanded=$baseLanded")
      assert(LakeTable.manifest(bandsRoot, LakeTable.currentSnapshot(bandsRoot))
        .note === "batch-0")
    }
  }

  test("streaming dedup: a failing overlapped commit fails the drain, after its twin landed") {
    import graft.lake.LakeTable
    import graft.streaming.DedupStream
    def headNote(root: String) =
      LakeTable.manifest(root, LakeTable.currentSnapshot(root)).note
    def failure(e: Throwable): IllegalArgumentException =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i }
        .getOrElse(fail(s"drain failed with an unexpected exception: $e", e))
    // results (the stream thread's commit) fails at once, before
    // staging; base (the helper's, still staging then) must have landed
    // by the time the drain rethrows
    locally {
      val (bandsRoot, baseRoot, resultsRoot, inDir, cfg, _, _) =
        smallDedupFixture("graft_ddfr_", reservedBatchCol = true)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        DedupStream.runOnceDedupToLake(spark, inDir, resultsRoot, bandsRoot,
          baseRoot, cfg)
      }
      val cause = failure(e)
      assert(cause.getMessage.contains(LakeTable.CoordPath) &&
        cause.getMessage.contains("reserved"), cause.getMessage)
      assert(LakeTable.currentSnapshot(resultsRoot) === 0)
      assert(headNote(baseRoot) === "batch-0", "the overlapped base commit must land first")
      assert(headNote(bandsRoot) !== "batch-0", "bands must not land after a failed commit")
    }
    // base (the helper's commit) fails; results must have landed
    locally {
      val (bandsRoot, baseRoot, resultsRoot, inDir, cfg, _, survivors) =
        smallDedupFixture("graft_ddfb_", baseExtraCol = true)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        DedupStream.runOnceDedupToLake(spark, inDir, resultsRoot, bandsRoot,
          baseRoot, cfg)
      }
      val cause = failure(e)
      assert(cause.getMessage.contains(s"append schema mismatch for $baseRoot"),
        cause.getMessage)
      assert(headNote(resultsRoot) === "batch-0", "the overlapped results commit must land first")
      assert(LakeTable.read(spark, resultsRoot).count() === survivors.size.toLong)
      assert(headNote(bandsRoot) !== "batch-0", "bands must not land after a failed commit")
    }
  }

  test("custom-state sessionizer matches native session_window") {
    val ev = Tables.load(spark, sf, "events")
    val typed = ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value")).as[Sessionize.Ev](Sessionize.evEnc)
    val custom = Sessionize.sessionsCustomState(typed, 86400000000L)
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events, s.sum_value)).toSet
    val native = Sessionize.sessions(ev, "24 hours")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(custom === native)
  }

  test("outer interval join: unmatched rows flush on watermark, state stays bounded") {
    val s = spark
    import s.implicits._
    // left (purchases): hours 0, 1, 30; right (clicks): a match for
    // hour 1 only. The GLOBAL watermark is the MIN across both sides'
    // watermarks, so far-future rows on BOTH sides (hour 90) are
    // needed to push it past every real left row's window — the same
    // two-sided sentinel shape stream_join_outer uses. A one-sided
    // sentinel provably leaves the later left rows in state forever.
    // +24h base: an epoch-0 event time sits AT the initial watermark
    // and the strict late filter drops it (same gotcha as the
    // sessionizer spec)
    def mk(rows: Seq[(Long, Int)], tag: String) = rows.toDF("id", "h")
      .select(col("id"), expr("timestamp_millis((h + 24) * 3600000L)").as("ts"),
        lit(tag).as("side"), (col("id") % 2 === 0).as("grp"))
    val inDir = stageBatches("graft_oj_", Seq(
      mk(Seq((1L, 0), (2L, 1), (3L, 30)), "p"),
      mk(Seq((100L, 1), (101L, 90)), "c"),
      mk(Seq((9L, 90)), "p")))
    val schema = s.read.parquet(inDir).schema
    val in = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir)
    val left = in.filter(col("side") === "p")
      .select(col("id").as("p_id"), col("ts").as("p_ts"), col("grp").as("p_grp"))
      .withWatermark("p_ts", "1 hour")
    val right = in.filter(col("side") === "c")
      .select(col("id").as("c_id"), col("ts").as("c_ts"), col("grp").as("c_grp"))
      .withWatermark("c_ts", "1 hour")
    val name = s"graft_oj_sink_${System.nanoTime()}"
    val q = left.join(right,
      col("p_grp") === col("c_grp") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS") &&
        col("c_ts") <= col("p_ts"), "leftOuter")
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", graft.util.Scratch.dir("graft_oj_ck_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(name)
      .filter(col("p_id") =!= 9L)
      .select(col("p_id"), coalesce(col("c_id"), lit(-1L)).as("c_id"))
      .as[(Long, Long)].collect().toSet
    // p1 and p3 never matched -> null-extended emission on watermark
    // expiry; p2 matched click 100 within its window
    assert(out === Set((1L, -1L), (2L, 100L), (3L, -1L)), s"sink: $out")
    // bounded state: every left row whose window the watermark passed
    // was EVICTED (emitted exactly once, matched or not) — only rows
    // the watermark has not yet released may remain
    val last = q.recentProgress.toSeq.flatMap(_.stateOperators).last
    assert(last.numRowsTotal <= 2,
      s"join state not bounded: ${last.numRowsTotal} rows")
  }
  test("stream_drift: per-window ppm shares close; alert iff shift crosses the threshold") {
    val rows = graft.queries.StreamingQ.streamDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val byWin = rows.groupBy(_.getLong(0))
    byWin.foreach { case (w, rs) =>
      // integer-floor shares close to within one ppm per present type
      val sum = rs.map(_.getLong(3)).sum
      assert(sum > 1000000L - rs.length && sum <= 1000000L,
        s"window $w shares don't close: $sum")
      rs.foreach { r =>
        assert(r.getLong(5) === math.abs(r.getLong(3) - r.getLong(4)))
        assert((r.getInt(6) == 1) === (r.getLong(5) > 100000L))
      }
    }
  }

  test("stream_geofence: drained stream equals the batch geo rollup, fence side broadcast") {
    val df = graft.queries.StreamingQ.streamGeofence(spark, sf)
    val got = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch twin: identical cell join + window bucketing in one pass
    import graft.functions.GeoFns._
    val offsets = RadiusNeighborhood.map { case (a, b) =>
      struct(lit(a).as("dlat"), lit(b).as("dlon")) }
    val stations = Tables.load(spark, sf, "nation")
      .select(col("n_name"))
      .withColumn("s_lat_e6", latE6(col("n_name")))
      .withColumn("s_lon_e6", lonE6(col("n_name")))
      .withColumn("o", explode(array(offsets: _*)))
      .withColumn("clat", latCell(col("s_lat_e6")) + col("o.dlat"))
      .withColumn("clon", wrapLonCell(lonCell(col("s_lon_e6")) + col("o.dlon")))
      .drop("o")
    val want = Tables.load(spark, sf, "events")
      .withColumn("lat_e6", latE6(col("event_id")))
      .withColumn("lon_e6", lonE6(col("event_id")))
      .withColumn("clat", latCell(col("lat_e6")))
      .withColumn("clon", lonCell(col("lon_e6")))
      .join(broadcast(stations), Seq("clat", "clon"))
      .withColumn("d_m", haversineMeters(
        deg(col("lat_e6")), deg(col("lon_e6")),
        deg(col("s_lat_e6")), deg(col("s_lon_e6"))))
      .filter(col("d_m") <= lit(600000.0))
      .groupBy((floor(unix_micros(col("ts")) / 3600000000L) * 3600000000L).as("win_us"),
        col("n_name"))
      .agg(count(lit(1)).as("n_fixes"),
        sum(floor(col("d_m") / 1000).cast("bigint")).as("sum_km"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want, "stream drain must equal the batch rollup")
  }

  test("stream_topk: drained boards equal the batch top-5; state bounded at K per key") {
    val got = graft.queries.StreamingQ.streamTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // batch twin of the leaderboard reduction
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val ranked = Tables.load(spark, sf, "events")
      .withColumn("rn", row_number().over(w))
    val want = ranked.filter(col("rn") <= 5)
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === 1, col("event_id"))).as("top1_id"),
        sum(col("event_id")).cast("bigint").as("topk_id_sum"),
        sum(floor(col("value") * 100 + 0.5)).cast("bigint").as("topk_val_x100"))
      .join(Tables.load(spark, sf, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("seen")), Seq("event_type"))
      .collect()
      .map(r => (r.getString(0), r.getLong(4), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want, "drained leaderboard must equal batch top-5")
  }
}

class VectorFnsSpec extends AnyFunSuite {
  import TestSpark._
  import graft.functions.VectorFns

  test("cosine: self = 1, orthogonal = 0 (basis points)") {
    val s = spark
    import s.implicits._
    // (3,4,0) has an exact norm (5), so self-cosine is exactly 1.0;
    // inexact norms legitimately floor to 9999 bp.
    val df = Seq(
      (Array(3.0f, 4f, 0f), Array(3.0f, 4f, 0f), 10000L),
      (Array(1.0f, 0f, 0f), Array(0f, 3f, 0f), 0L),
      (Array(1.0f, 0f, 0f), Array(-1f, 0f, 0f), -10000L)
    ).toDF("a", "b", "expect")
    val out = df.select(
      VectorFns.cosineBp(VectorFns.toD(col("a")), VectorFns.toD(col("b")),
        VectorFns.norm(VectorFns.toD(col("a"))), VectorFns.norm(VectorFns.toD(col("b"))))
        .as("got"), col("expect")).collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("hyperplanes are deterministic and in [-1000, 1000]") {
    val h1 = VectorFns.hyperplaneInts(3, 64)
    val h2 = VectorFns.hyperplaneInts(3, 64)
    assert(h1 === h2)
    assert(h1.forall(k => k >= -1000 && k <= 1000))
  }

  test("native graft_cosine is bit-equal to the composed zip_with form") {
    graft.plans.GraftExtensions.register(spark)
    val e = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), VectorFns.toD(col("embedding")).as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib")).limit(500)
    val diff = pairs.select(
      call_function("graft_cosine", col("va"), col("vb")).as("native"),
      VectorFns.cosine(col("va"), col("vb"),
        VectorFns.norm(col("va")), VectorFns.norm(col("vb"))).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(diff === 0L)
  }

  test("FuseCosine rewrites the composed zip_with form to the native expression") {
    val e = sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), VectorFns.toD(col("embedding")).as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val composed = a.join(b, col("ia") < col("ib"))
      .select(VectorFns.cosine(col("va"), col("vb"),
        VectorFns.norm(col("va")), VectorFns.norm(col("vb"))).as("c"))
    val optimized = composed.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_cosine"),
      s"composed cosine not fused:\n${optimized.take(2000)}")
  }

  test("graft_cosine resolves in plain SQL via the session extension") {
    val n = spark.sql(
      "SELECT graft_cosine(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c").head().getDouble(0)
    assert(n === 1.0)
  }

}
