package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.DsV2Shim
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.lake.LakeTable
import graft.operators.{Dedup, MinhashIndex}
import graft.writer.BlockWriter

/** STREAMING NEAR-DUP INGEST — the production composition of the
  * engine's index artifacts: each arriving micro-batch of documents
  * probes the PERSISTED MinHash band index (a [[LakeTable]]),
  * EXACT-VERIFIES every band collision against the persisted shingle
  * sets (Jaccard ≥ τ — the same tier the batch paths dedup_minhash /
  * dedup_incremental gate), drops only verified near-dups, commits
  * the survivors to a results lake table, and appends the survivors'
  * shingle sets + bands to the index — each step one atomic commit,
  * idempotent by batch id. This is the continuous-crawl dedup service
  * the reference's streaming pipeline (main.go:62-115) feeds at
  * 100 TB: per batch the work is O(batch · bands + collisions); the
  * corpus is only ever touched through the index artifacts, and
  * because the index appends are themselves lake commits, a restart
  * resumes from a consistent (results, index) pair.
  *
  * Candidate semantics: a band-key collision is a CANDIDATE, not a
  * verdict — two genuinely distinct documents sharing one LSH band
  * (p ≈ s^rows per band even at low similarity s) must BOTH survive.
  *
  * COST SHAPE — the verdict is collected once per micro-batch. A
  * batch's cost is its fixed per-job cost (scheduling, planning, the
  * driver gap between jobs), not its rows, so the gate is three
  * collected actions and driver-side set logic:
  *  1. one job collects the batch's (doc_id, whs, bands) rows;
  *  2. one job scans the band index filtered to the batch's band keys
  *     (the index is streamed and filtered map-side, never shuffled
  *     or broadcast) and collects the colliding (band, bk, doc_id)
  *     rows — candidate pairs are matched and de-duplicated on the
  *     driver;
  *  3. one job reads the shingle sets of exactly the colliding corpus
  *     ids;
  * then the exact-Jaccard test runs as a [[Dedup.jaccardBp]] filter
  * over a local relation of the candidate pairs. The collected bytes
  * are batch-bounded: the batch's shingle sets and band keys are what
  * a broadcast of the batch side ships to the driver anyway, and the
  * probe and corpus reads return O(collisions) rows. Nothing is
  * cached, so nothing outlives the batch.
  *
  * COMMIT ORDER — the three commits take driver-built frames
  * (results = the batch minus the verified ids, base and bands = the
  * collected rows of the kept ids). The results and base commits
  * share nothing and run at the same time (the stream thread lands
  * one, a helper thread started for the batch the other); the bands
  * commit runs only after both landed. The bands table is the gate's
  * probe side, so "bands done ⇒ results and base done": a replay
  * after a crash between commits re-derives the same verdict, because
  * the index never matches a batch against its own entries.
  */
object DedupStream {

  /** Exact-verify threshold, basis points (0.5 Jaccard — the batch
    * paths' τ).
    */
  val TauBp = 5000

  /** Has `root`'s HEAD commit already recorded this batch? Batches
    * are sequential (one foreachBatch at a time), so the head note is
    * a complete replay ledger for the table it sits on — but ONLY for
    * that table: results, base and bands are separate commits, and a
    * crash between them must leave the un-committed ones still due.
    */
  private def hasBatch(root: String, id: Long): Boolean = {
    val head = LakeTable.currentSnapshot(root)
    head > 0 && LakeTable.manifest(root, head).note == s"batch-$id"
  }

  /** ASYMMETRIC INDEX PROBE over a band FRAME — which of the batch
    * docs in `bands` LSH-collide with anything already indexed? The
    * corpus-scale side is the persisted band index, so it must be the
    * STREAMED side of the join: inner-join it against the broadcast
    * batch bands and project the colliding batch doc ids. A left-semi
    * with the corpus on the right would force Spark to broadcast or
    * shuffle the whole index (only the RIGHT side of a semi can
    * broadcast); this shape plans the corpus as scan →
    * broadcast-hash-join probe, zero Exchange on the index side at any
    * index size (StreamingSpec pins the plan — the only shuffle is the
    * batch-sized distinct on the probe output). Raw collisions, no
    * verify tier: the recall-oriented candidate gate. The drain probes
    * with the batch's COLLECTED band keys instead (see the object doc),
    * which streams the index the same way without the broadcast job.
    */
  def probeDupIds(spark: SparkSession, bandsRoot: String,
      bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    LakeTable.read(spark, bandsRoot)
      .join(broadcast(bands.select("band", "bk", "doc_id")
        .withColumnRenamed("doc_id", "probe_doc_id")), Seq("band", "bk"))
      .select(col("probe_doc_id").as("doc_id"))
      .distinct()
  }

  /** `c IN values` over a batch-derived value set, built as an
    * `InSet` so generated code holds the set by reference. A literal
    * `isin` list of ≤ 10 values is inlined into the generated code
    * instead, so every batch's own ids compiled new code (measured:
    * ~4 more codegen compilations per micro-batch). Still pushed down
    * as a source `In` filter. `values` are Catalyst values
    * (UTF8String for text).
    */
  private def inSet(c: String, values: Iterable[Any]): Column =
    DsV2Shim.exprColumn(InSet(DsV2Shim.columnExpr(col(c)), values.toSet))

  /** One micro-batch's collected gate: every batch doc id (documents
    * too short to shingle included — they are never dups), the
    * (doc_id, whs, bands) rows of the shingled ones with their schema,
    * and the verified near-dup ids.
    */
  private final case class Verdict(docIds: Set[Long], sigRows: Seq[Row],
      sigSchema: StructType, dups: Set[Long]) {

    def keepsAny: Boolean = !docIds.subsetOf(dups)

    private def kept = sigRows.filterNot(r => dups(r.getLong(0)))

    /** The kept docs' (doc_id, whs) rows as a local relation. */
    def keptBase(spark: SparkSession): DataFrame =
      spark.createDataFrame(kept.map(r => Row(r.getLong(0), r.get(1))).asJava,
        StructType(Seq(sigSchema("doc_id"), sigSchema("whs"))))

    /** The kept docs' (doc_id, band, bk) rows as a local relation. */
    def keptBands(spark: SparkSession): DataFrame = {
      val band = sigSchema("bands").dataType
        .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      spark.createDataFrame(kept.flatMap(r => r.getSeq[Row](2).map(b =>
          Row(r.getLong(0), b.getInt(0), b.getString(1)))).asJava,
        StructType(sigSchema("doc_id") +: band.fields.toSeq))
    }
  }

  /** The verified near-dup gate of one micro-batch (see the object
    * doc for the cost shape): at most three jobs, the Jaccard filter
    * runs on the driver over a local relation.
    */
  private def verdict(spark: SparkSession, df: DataFrame, bandsRoot: String,
      baseRoot: String): Verdict = {
    import org.apache.spark.sql.functions.lit
    val sig = MinhashIndex.bandArrayOf(MinhashIndex.baseOf(df))
    val sigSchema = sig.schema
    val whsType = sigSchema("whs").dataType
    // job 1: the shingled docs' signatures plus every doc's id (a doc
    // too short to shingle has no base row but is still kept)
    val rows = sig.unionByName(df.select(col("doc_id"),
        lit(null).cast(whsType).as("whs"),
        lit(null).cast(sigSchema("bands").dataType).as("bands")))
      .collect()
    val (sigRows, idRows) = rows.toSeq.partition(r => !r.isNullAt(1))
    val batchWhs = sigRows.groupMap(_.getLong(0))(_.getSeq[Long](1))
    val probeKeys = sigRows.flatMap { r =>
      r.getSeq[Row](2).map(b => (b.getInt(0), b.getString(1)) -> r.getLong(0))
    }.groupMap(_._1)(_._2)
    // job 2: the index streamed through the batch's band keys; the
    // (band, bk) match and the pair de-duplication run on the driver
    val pairs: Set[(Long, Long)] =
      if (probeKeys.isEmpty) Set.empty
      else LakeTable.read(spark, bandsRoot)
        .filter(inSet("bk", probeKeys.keys.map(k => UTF8String.fromString(k._2))))
        .select("band", "bk", "doc_id").collect()
        .iterator.flatMap { r =>
          probeKeys.getOrElse((r.getInt(0), r.getString(1)), Nil)
            .map(p => (p, r.getLong(2)))
        }.toSet
    // job 3: the shingle sets of exactly the colliding corpus ids
    val corpusWhs =
      if (pairs.isEmpty) Map.empty[Long, Seq[Seq[Long]]]
      else LakeTable.read(spark, baseRoot)
        .filter(inSet("doc_id", pairs.map(_._2)))
        .select("doc_id", "whs").collect().toSeq
        .groupMap(_.getLong(0))(_.getSeq[Long](1))
    val cmp = for {
      (p, c) <- pairs.toSeq
      sha <- batchWhs.getOrElse(p, Nil)
      shb <- corpusWhs.getOrElse(c, Nil)
    } yield Row(p, sha, shb)
    // exact Jaccard over a local relation: folded on the driver
    val dups =
      if (cmp.isEmpty) Set.empty[Long]
      else spark.createDataFrame(cmp.asJava, StructType(Seq(
          StructField("doc_id", LongType), StructField("sha", whsType),
          StructField("shb", whsType))))
        .filter(Dedup.jaccardBp(col("sha"), col("shb")) >= TauBp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    Verdict(idRows.map(_.getLong(0)).toSet, sigRows, sigSchema, dups)
  }

  /** Run `helper` on a thread started for this call and `here` on the
    * calling one, returning once BOTH finished. A failure is rethrown
    * only after the other side finished too (this thread's failure
    * first, the helper's suppressed under it), so a failed commit
    * never leaves its twin still staging behind the rethrow, and no
    * failure is dropped.
    */
  private def overlapped(name: String)(helper: => Unit)(here: => Unit): Unit = {
    val helperFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try helper catch { case e: Throwable => helperFailure.set(e) }, name)
    t.setDaemon(true)
    t.start()
    val hereFailure = try { here; None } catch { case e: Throwable => Some(e) }
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (hereFailure, Option(helperFailure.get)) match {
      case (Some(e), other) => other.foreach(e.addSuppressed); throw e
      case (None, Some(e)) => throw e
      case (None, None) =>
    }
  }

  /** Drain `inDir` (arriving document files) through the verified
    * near-dup gate into `resultsRoot`, maintaining the two index
    * tables (`baseRoot`: (doc_id, whs) shingle sets, `bandsRoot`:
    * (doc_id, band, bk)) as batches land; returns (results commits,
    * index commits).
    *
    * The default checkpoint is DERIVED from (inDir, resultsRoot), so
    * a re-invocation of the same pipeline resumes from the file-source
    * offset instead of replaying every input file from batch 0 (and
    * spuriously matching a stale `batch-0` head note).
    */
  def runOnceDedupToLake(
      spark: SparkSession,
      inDir: String,
      resultsRoot: String,
      bandsRoot: String,
      baseRoot: String,
      cfg: BlockWriter.Config,
      maxFilesPerTrigger: Int = 1,
      checkpoint: String = null): (Int, Int) = {
    val schema = spark.read.parquet(inDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(inDir)
    val q = in.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        // per-TABLE idempotence: a replay after a crash between the
        // commits repairs exactly the missing ones — the dedup result
        // is reproducible because the bands table (the probe side)
        // lands last, so it never holds this batch's entries while
        // any commit is due
        val resultsDone = hasBatch(resultsRoot, id)
        val baseDone = hasBatch(baseRoot, id)
        val bandsDone = hasBatch(bandsRoot, id)
        if (!(resultsDone && baseDone && bandsDone)) {
          val df = batch.toDF()
          val v = verdict(spark, df, bandsRoot, baseRoot)
          if (v.keepsAny) {
            val note = s"batch-$id"
            // results keep the batch's columns, doc_id first
            val results = df.select(col("doc_id") +:
              df.columns.toSeq.filter(_ != "doc_id").map(col): _*)
            overlapped(s"graft-dedup-base-$id") {
              if (!baseDone)
                LakeTable.commit(spark, baseRoot, v.keptBase(spark), cfg,
                  Seq("doc_id"), note = note): Unit
            } {
              if (!resultsDone)
                LakeTable.commit(spark, resultsRoot,
                  if (v.dups.isEmpty) results
                  else results.filter(!inSet("doc_id", v.dups)),
                  cfg, Seq("doc_id"), note = note): Unit
            }
            // the probe side last: survivors' bands join the index
            // only once their results and shingle sets landed
            if (!bandsDone)
              LakeTable.commit(spark, bandsRoot, v.keptBands(spark), cfg,
                Seq("doc_id"), note = note): Unit
          }
        }
      }
      .option("checkpointLocation",
        Option(checkpoint).getOrElse {
          val key = java.lang.Integer.toHexString(
            (inDir + "\u0000" + resultsRoot + "\u0000" + bandsRoot).hashCode)
          s"$resultsRoot/_ingest_checkpoint-$key"
        })
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (LakeTable.currentSnapshot(resultsRoot), LakeTable.currentSnapshot(bandsRoot))
  }

  /** The batch-mode twin: fold the same files in the same order
    * through the same VERIFIED gate — the spec's equivalence oracle
    * for the streaming path.
    */
  def batchFold(spark: SparkSession, files: Seq[String],
      corpusBands: DataFrame, corpusBase: DataFrame): Seq[Long] = {
    var bandsIdx = corpusBands
    var baseIdx = corpusBase
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    // every fold step's cached frames stay in the later steps' index
    // lineage, so they are released only once the fold is done
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    files.foreach { f =>
      val df = spark.read.parquet(f)
      val base = MinhashIndex.baseOf(df).cache()
      val bands = MinhashIndex.bandsOf(base).cache()
      cached ++= Seq(base, bands)
      val cand = bands.join(bandsIdx
          .select(col("band"), col("bk"), col("doc_id").as("corpus_doc_id")),
          Seq("band", "bk"))
        .select(col("doc_id"), col("corpus_doc_id")).distinct()
      val dupIds = cand
        .join(baseIdx.select(col("doc_id").as("corpus_doc_id"),
          col("whs").as("shb")), "corpus_doc_id")
        .join(base.select(col("doc_id"), col("whs").as("sha")), "doc_id")
        .filter(Dedup.jaccardBp(col("sha"), col("shb")) >= TauBp)
        .select("doc_id").distinct()
      val keep = df.join(dupIds, Seq("doc_id"), "left_anti")
      kept ++= keep.select("doc_id").collect().map(_.getLong(0))
      baseIdx = baseIdx.unionByName(
        base.join(keep.select("doc_id"), Seq("doc_id"), "left_semi"))
      bandsIdx = bandsIdx.unionByName(
        bands.join(keep.select("doc_id"), Seq("doc_id"), "left_semi"))
    }
    cached.foreach(_.unpersist(blocking = true))
    kept.toSeq.sorted
  }
}
