package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.lake.LakeTable
import graft.writer.BlockWriter

/** Streaming ingest INTO a manifest-tracked lake table — the full
  * replica of the reference pipeline (main.go:62-115: file stream →
  * BlockManager → iceberg-core storage): every micro-batch becomes
  * ONE atomic lake commit (files + stats + manifest + pointer swap),
  * so downstream readers always see a consistent snapshot and can
  * time-travel the ingest history batch by batch.
  *
  * Exactly-once: `foreachBatch` is at-least-once under retries, so
  * the commit is made idempotent by recording the batch id in the
  * manifest note — a replayed batch whose id is already the latest
  * content commit ([[LakeTable.landed]]: post-commit maintenance on
  * top does not count) is skipped. This is the same recipe Iceberg's
  * own streaming writers use (commit metadata carries the checkpoint
  * epoch).
  */
object LakeStream {

  /** Drain `inDir` (a directory of arriving files) into the lake
    * table at `root`, one atomic commit per micro-batch; returns the
    * number of commits. `maxFilesPerTrigger=1` makes each staged file
    * one batch — the MaxAge/MaxSize flush cadence of the reference,
    * with AvailableNow standing in for the wall-clock trigger.
    */
  def runOnceToLake(
      spark: SparkSession,
      inDir: String,
      root: String,
      cfg: BlockWriter.Config,
      statCols: Seq[String],
      maxFilesPerTrigger: Int = 1,
      checkpoint: String = null): Int = {
    graft.sources.Tables.ensureParquetConfs(spark)
    val schema = spark.read.parquet(inDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(inDir)
    val restored =
      if (schema.fieldNames.contains("ts") &&
          schema("ts").dataType == org.apache.spark.sql.types.LongType)
        in.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else in
    val q = restored.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val done = LakeTable.landed(root, s"batch-$id")
        if (!done && !batch.isEmpty)
          // declared CHECK constraints gate this ingest path too —
          // same in-flight guard as the DSv2 sinks
          LakeTable.commit(spark, root,
            graft.sources.LakeFormatWrite.applyChecks(root, batch.toDF()),
            cfg, statCols, note = s"batch-$id"): Unit
      }
      .option("checkpointLocation",
        Option(checkpoint).getOrElse(graft.util.Scratch.dir("graft_lake_ck_")))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    LakeTable.currentSnapshot(root)
  }

  /** The reference pipeline VERBATIM on the data plane too: drain the
    * arriving files into SNAPPY AVRO container files under the
    * manifest (main.go:62-115 writes exactly this — a file stream
    * flushed as partitioned snappy Avro blocks on a MaxAge cadence).
    * One [[LakeTable.appendAvro]] commit per micro-batch, idempotent
    * by batch id like the parquet path; in-stream writer stats make
    * the committed files prunable without a stats re-read.
    */
  def runOnceToAvroLake(
      spark: SparkSession,
      inDir: String,
      root: String,
      statCols: Seq[String],
      maxFilesPerTrigger: Int = 1,
      checkpoint: String = null): Int = {
    graft.sources.Tables.ensureParquetConfs(spark)
    val schema = spark.read.parquet(inDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(inDir)
    val q = in.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val done = LakeTable.landed(root, s"avro-batch-$id")
        if (!done && !batch.isEmpty)
          // declared CHECK constraints gate this ingest path exactly
          // like the parquet twin — the table's integrity contract
          // must not depend on which storage-format verb ingested it
          LakeTable.appendAvro(spark, root,
            graft.sources.LakeFormatWrite.applyChecks(root, batch.toDF()),
            statCols, note = s"avro-batch-$id"): Unit
      }
      .option("checkpointLocation",
        Option(checkpoint).getOrElse(graft.util.Scratch.dir("graft_avro_ck_")))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    LakeTable.currentSnapshot(root)
  }

  /** CDC APPLY: drain a stream of change records (latest-wins upserts
    * keyed on `keyCol`) INTO the lake table as one atomic MoR MERGE
    * per micro-batch — the streaming half of the changelog lifecycle
    * (a [[graft.lake.LakeTable.changelogRead]] of an upstream table
    * feeds this on a downstream one). Each batch first resolves to
    * one row per key (a replayed key within the batch keeps the
    * highest `orderCol` value, ties broken arbitrarily but
    * deterministically by the merge's distinct), then lands as new
    * data files + an equality-delete of the batch's keys in ONE
    * commit — a batch touching 0.01% of the table costs 0.01%, never
    * a rewrite, at any table size. Exactly-once: the batch id rides
    * the manifest note, so a foreachBatch retry of an
    * already-committed batch is skipped (same recipe as
    * [[runOnceToLake]]). Returns the head snapshot.
    */
  def applyCdcToLake(
      spark: SparkSession,
      inDir: String,
      root: String,
      keyCol: String,
      orderCol: String,
      cfg: BlockWriter.Config,
      statCols: Seq[String],
      maxFilesPerTrigger: Int = 1,
      checkpoint: String = null): Int = {
    graft.sources.Tables.ensureParquetConfs(spark)
    val schema = spark.read.parquet(inDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(inDir)
    val q = in.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val done = LakeTable.landed(root, s"cdc-batch-$id")
        if (!done && !batch.isEmpty) {
          // latest-per-key WITHIN the batch (cross-batch latest-wins
          // falls out of the merge's delete-older-files rule)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(keyCol)).orderBy(col(orderCol).desc)
          val resolved = batch.toDF()
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          LakeTable.merge(spark, root, keyCol, resolved, cfg, statCols,
            note = s"cdc-batch-$id"): Unit
        }
      }
      .option("checkpointLocation",
        Option(checkpoint).getOrElse(graft.util.Scratch.dir("graft_cdc_ck_")))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    LakeTable.currentSnapshot(root)
  }
}
