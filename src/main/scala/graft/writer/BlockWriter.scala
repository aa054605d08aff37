package graft.writer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, RowOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.DsV2Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The reference's write path, Spark-idiomatic (reference
  * main.go:48-87: BlockManager + FilesystemStorageAdapter — buffer
  * rows per PartitionColumn, order by KeyColumn, flush blocks of
  * ≤ MaxSize rows as snappy columnar files under
  * `basePath/partition=<value>/`).
  *
  * Spark realization: `repartition(partitionCol)` co-locates each
  * partition value on one task (ONE shuffle, hash-distributed across
  * executors — no driver-side block table, unlike the reference's
  * in-memory BlockManager map, so partition-value cardinality is
  * unbounded at 100 TB); `sortWithinPartitions(partition, key)` makes
  * every output file key-ordered; `maxRecordsPerFile` enforces the
  * MaxSize row bound WITHOUT any centralized accounting; dynamic
  * `partitionBy` lays out `partition=<value>/` dirs. MaxAge has no
  * batch meaning — the streaming analog lives in
  * [[graft.streaming.StreamWriter]] (trigger interval = MaxAge).
  *
  * The one place the reference's shape survives literally is a frame
  * the driver built from rows it holds (a local relation): the
  * hash-bucket [[writeFlat]] buckets, sorts and flushes those rows on
  * the driver, as the BlockManager does, and starts no Spark job —
  * the same files the job path writes, without its scheduling,
  * shuffle and stage round-trips.
  */
object BlockWriter {

  final case class Config(
      partitionCol: String,
      keyCol: String,
      maxRecordsPerFile: Int = 4096, // reference MaxSize (main.go:78)
      compression: String = "snappy", // reference CompressionName (main.go:53)
      format: String = "parquet",
      // write fan-out; None = the session's shuffle parallelism.
      // Callers that know the input volume derive this instead of
      // paying full-cluster task/file overhead on small layouts
      // (and full parallelism remains the default at scale).
      parallelism: Option[Int] = None,
      // TASK fan-out hint for a SMALL hash-clustered staged write,
      // sized by the caller's known FILE bound (e.g. an MV fold's
      // collected touched-lead count: files ≤ non-empty buckets ≤
      // distinct partition values). Never changes the bucket WIDTH
      // (`parallelism` / the manifest bucket spec) or the file set:
      // the effective task count is rounded UP to a DIVISOR of the
      // bucket width, so `hash mod width` still determines
      // `hash mod tasks` and every bucket stays whole on one task —
      // byte-identical layout, fewer scheduled tasks per commit.
      // Sized by FILES, not shuffle bytes: AQE's byte-sized
      // coalescing was measured 3× slower on file-count-heavy
      // layouts (it serializes file creation unboundedly), while a
      // files-per-task bound of ~1 cannot. Ignored when ≥ the bucket
      // width; full parallelism remains the default at scale.
      writeTasks: Option[Int] = None)

  /** Smallest divisor of `n` that is ≥ `want` (falls back to `n`):
    * the task count that keeps every `hash mod n` bucket whole on
    * one task while scheduling no more tasks than the caller's
    * known file bound needs.
    */
  def divisorFanout(n: Int, want: Int): Int = {
    val w = math.max(1, math.min(want, n))
    (w to n).find(d => n % d == 0).getOrElse(n)
  }

  /** Block id a row lands in: per-partition, key-ordered, ≤maxSize
    * rows per block — exactly the reference BlockManager's assignment.
    * Pure window arithmetic → whole-stage codegen, one shuffle.
    */
  def blockId(partitionCol: String, orderCols: Seq[Column], maxSize: Int): Column = {
    val w = Window.partitionBy(col(partitionCol)).orderBy(orderCols: _*)
    floor((row_number().over(w) - lit(1)) / lit(maxSize))
  }

  /** Write `df` as a partitioned, key-sorted, size-bounded file set.
    *
    * The repartition uses an EXPLICIT partition count (the session's
    * shuffle parallelism): an un-numbered `repartition(col)` is
    * eligible for AQE partition coalescing, which collapses a small
    * write into a handful of tasks and serializes file creation —
    * measured 3× slower on a file-count-heavy layout. Writing wants
    * full cluster parallelism regardless of shuffle byte size.
    */
  def write(df: DataFrame, basePath: String, cfg: Config): Unit = {
    val parallelism = cfg.parallelism
      .getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions)
    df.repartition(parallelism, col(cfg.partitionCol))
      .sortWithinPartitions(col(cfg.partitionCol), col(cfg.keyCol))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", cfg.maxRecordsPerFile.toLong)
      .option("compression", cfg.compression)
      .partitionBy(cfg.partitionCol)
      .format(cfg.format)
      .save(basePath)
  }

  /** The hash-bucket directory column hash-clustered [[writeFlat]]
    * staging writes under: `_graft_bucket=K/…`. The bucket id a file's
    * rows hash to is encoded in its PATH — ground truth for the
    * manifest's per-file bucket label (storage-partitioned joins pair
    * partitions by it, so a wrong label is silently wrong data).
    * Deriving it from the write task id instead is NOT sound: when the
    * incoming frame is already hash-partitioned on the key (e.g. the
    * output of a DISTINCT), Catalyst elides the repartition exchange
    * and AQE may coalesce the surviving upstream shuffle — task ids
    * then stop being bucket ids. `partitionBy` splits rows by the
    * computed bucket VALUE regardless of task layout, so every file is
    * bucket-pure by construction.
    */
  val BucketDir = "_graft_bucket"

  /** Reserved TRANSIENT column for a derived range-cluster key
    * (z-order): present only between the cluster shuffle and the
    * save — never written to files, never part of a table schema.
    */
  val ClusterTmp = "_graft_zcluster"

  /** `pmod(murmur3, n)` — exactly `repartition(n, col)`'s partition id
    * ([[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]]),
    * so co-bucketed tables agree with Spark's own `bucket(n, col)`
    * storage-partitioned-join transform.
    */
  def bucketExpr(c: String, n: Int): Column = pmod(hash(col(c)), lit(n))

  /** Same clustering (partition-value co-location, key order, size
    * bound) as [[write]], but the table columns stay FLAT in the data
    * files: the only directory level is the [[BucketDir]] hash bucket
    * (dropped from file contents by `partitionBy`), which records each
    * file's bucket in its path. Manifest-tracked tables
    * ([[graft.lake.LakeTable]]) follow the Iceberg model — partition
    * structure is table METADATA; readers get explicit file paths and
    * never list directories.
    *
    * `rangeCluster = true` switches the shuffle to RANGE partitioning
    * on the key (sampled bounds) + key sort, producing GLOBALLY
    * key-ordered files whose per-file key extents are disjoint and
    * tight — the rewrite shape of OPTIMIZE/ZORDER maintenance jobs.
    * A hash repartition would scatter each key range across every
    * task, giving every file near-full-span min/max stats and
    * defeating stats pruning.
    *
    * A hash-bucket parquet write of a frame whose optimized plan is a
    * local relation takes the driver path ([[writeLocal]]): the same
    * bucket dirs, files, row order and bytes, and no Spark job. The
    * choice follows the plan's shape alone; range-clustered writes,
    * other formats and every frame that reads a source keep the job.
    */
  def writeFlat(df: DataFrame, basePath: String, cfg: Config,
      rangeCluster: Boolean = false): Unit = {
    val parallelism = cfg.parallelism
      .getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions)
    if (rangeCluster) {
      val clustered = df.repartitionByRange(parallelism, col(cfg.keyCol))
        .sortWithinPartitions(col(cfg.keyCol))
      // a DERIVED cluster key (z-order) is transport, not data: the
      // projection drops it after the shuffle+sort, so files carry
      // only table columns while keeping the clustered row order
      (if (cfg.keyCol == BlockWriter.ClusterTmp)
        clustered.drop(BlockWriter.ClusterTmp) else clustered)
        .write
        .mode("errorifexists")
        .option("maxRecordsPerFile", cfg.maxRecordsPerFile.toLong)
        .option("compression", cfg.compression)
        .format(cfg.format)
        .save(basePath)
    }
    else {
      // task fan-out: the caller's file-bound hint, rounded up to a
      // divisor of the bucket width (bucket co-location preserved —
      // see Config.writeTasks); the bucket EXPRESSION always uses the
      // full width, so the layout and manifest spec never change
      val tasks = cfg.writeTasks
        .filter(_ < parallelism)
        .map(t => divisorFanout(parallelism, t))
        .getOrElse(parallelism)
      val local = for {
        rows <- DsV2Shim.localRows(df)
        if cfg.format == "parquet" && DsV2Shim.parquetWritable(df.schema)
        cols <- clusterOrdinals(df.schema, cfg)
      } yield (rows, cols)
      def save(): Unit =
        df.withColumn(BucketDir, bucketExpr(cfg.partitionCol, parallelism))
          .repartition(tasks, col(cfg.partitionCol))
          // bucket dir leads the sort so the file writer sees its
          // required partition-column ordering already satisfied and
          // preserves the (partition, key) order inside every file
          .sortWithinPartitions(col(BucketDir), col(cfg.partitionCol), col(cfg.keyCol))
          .write
          .mode("errorifexists")
          .option("maxRecordsPerFile", cfg.maxRecordsPerFile.toLong)
          .option("compression", cfg.compression)
          .partitionBy(BucketDir)
          .format(cfg.format)
          .save(basePath)
      local match {
        case Some((rows, cols)) =>
          writeLocal(df, rows, cols, basePath, cfg, parallelism, tasks)
        // a writeTasks-hinted write is DECLARED small and fully sized
        // driver-side (file-bound fan-out above): AQE has nothing left
        // to decide for it, but still materializes every exchange as a
        // separate query stage — one extra scheduler round-trip plus a
        // re-plan/codegen pause per shuffle, pure per-commit fixed cost
        // on a staged write that runs tens of times per refresh. Plan
        // it statically instead (conf-gated escape hatch below; at
        // cluster scale the same argument holds — the hint is only ever
        // passed for metadata-scale staged frames).
        case None if tasks < parallelism && smallWriteAqeOff(df) =>
          withAqeOff(df)(save())
        case None => save()
      }
    }
  }

  /** The ordinals of the (partition, key) columns when each resolves
    * to one top-level column of an orderable type — the frames whose
    * layout the driver path computes as the job path would. None keeps
    * the job path, which raises its errors as before.
    */
  private def clusterOrdinals(schema: StructType, cfg: Config): Option[(Int, Int)] = {
    val resolver = SQLConf.get.resolver
    val Seq(p, k) = Seq(cfg.partitionCol, cfg.keyCol).map { c =>
      val hits = schema.fields.indices.filter(i => resolver(schema(i).name, c))
      if (hits.length == 1 && RowOrdering.isOrderable(schema(hits.head).dataType))
        hits.head else -1
    }
    if (p < 0 || k < 0) None else Some((p, k))
  }

  /** The hash-bucket [[writeFlat]] of rows the driver already holds,
    * with no Spark job: the layout the job path's shuffle, sort and
    * file writer produce, computed here.
    *   - bucket `pmod(murmur3(partitionCol), nBuckets)`, as
    *     [[bucketExpr]] and `repartition(n, col)` assign it;
    *   - within a bucket, a stable sort by (partitionCol, keyCol) in
    *     Catalyst's ordering, a new file every `maxRecordsPerFile`
    *     rows;
    *   - each file written by Spark's own parquet writer under
    *     `_graft_bucket=K/part-<task>-<job>.c<n><codec ext>`, named as
    *     write task `K mod tasks` of one job names it.
    * An empty frame leaves what the job path leaves: the directory
    * and its `_SUCCESS` marker, no data file.
    */
  private def writeLocal(df: DataFrame, rows: Seq[InternalRow], cols: (Int, Int),
      basePath: String, cfg: Config, nBuckets: Int, tasks: Int): Unit = {
    val schema = df.schema
    val (p, k) = cols
    val pType = schema(p).dataType
    val ordering = new InterpretedOrdering(Seq(p, k).map(i =>
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)))
    val conf = DsV2Shim.writeConf(df.sparkSession, cfg.compression)
    val ext = DsV2Shim.parquetExtension(conf)
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(conf)
    if (fs.exists(base))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"path $basePath already exists")
    fs.mkdirs(base)
    val job = java.util.UUID.randomUUID()
    rows.groupBy(r => Math.floorMod(DsV2Shim.murmur3(r.get(p, pType), pType).toInt, nBuckets))
      .foreach { case (b, rs) =>
        val sorted = rs.sorted(ordering)
        val files =
          if (cfg.maxRecordsPerFile > 0) sorted.grouped(cfg.maxRecordsPerFile)
          else Iterator(sorted)
        files.zipWithIndex.foreach { case (chunk, n) =>
          val w = DsV2Shim.newRowWriter(
            f"$basePath/$BucketDir=$b/part-${b % tasks}%05d-$job.c$n%03d$ext", schema, conf)
          try chunk.foreach(w.write) finally w.close()
        }
      }
    fs.create(new org.apache.hadoop.fs.Path(base, "_SUCCESS")).close()
  }

  /** Conf gate for the static-plan small-write path (default on). */
  val SmallWriteAqeOffKey = "spark.graft.write.smallAqeOff"

  private def smallWriteAqeOff(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(SmallWriteAqeOffKey).forall(_.toBoolean)

  /** Run `body` with AQE disabled on the frame's session, restoring
    * the prior value afterwards (exception-safe). Session-level and
    * therefore visible to concurrent planners on the same session;
    * callers hold it only across one small staged write.
    */
  private def withAqeOff[T](df: DataFrame)(body: => T): T = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prior = conf.get(key, "true")
    if (prior == "false") body
    else {
      conf.set(key, "false")
      try body finally conf.set(key, prior)
    }
  }
}
