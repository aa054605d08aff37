package org.apache.spark.sql.graftshim

import scala.collection.mutable.LinkedHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.SparkCharVarcharUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FilePartition, FileStatusWithMetadata, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge into Spark's `private[sql]` file-source internals for the
  * graft-lake DataSource V2 implementation — the same trick Spark's
  * own external connectors use (see [[StreamShim]]): the object sits
  * in an `org.apache.spark.sql.*` subpackage purely to satisfy
  * `private[sql]` scopes. Everything reached here is stock Spark
  * machinery (the vectorized parquet scan, the catalyst→source filter
  * translator); the lake logic itself lives in `graft.sources`.
  */
object DsV2Shim {

  /** The reserved column name that makes Spark's parquet readers emit
    * each row's ACTUAL parquet row index (row-group aware, so it is
    * correct even under split files and row-group skipping) — the
    * hook the `_metadata.row_index` machinery itself rides on.
    * Positional-delete application reads it, then projects it away.
    */
  def rowIndexCol: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Wrap a raw Catalyst expression as a user-facing Column (and
    * back) — `classic.ExpressionUtils` is `private[sql]`, and the
    * deletion-vector probe builds its [[graft.functions.DvContains]]
    * predicate directly over frame columns.
    */
  def exprColumn(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def columnExpr(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Catalyst predicate → translatable v1 filters (the public
    * `sources.Filter` shapes manifest pruning understands).
    */
  def toV1Filters(exprs: Seq[Expression]): Seq[Filter] =
    exprs.flatMap(e =>
      DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true))

  /** The file partitions Spark's parquet scan would plan for `files`
    * (manifest path, size): the same data-path filter and empty-file
    * drop as a file index listing, the same `maxSplitBytes` over the
    * set, the same splits sorted largest first and the same packing —
    * computed from the manifest sizes, with no file index, scan copy or
    * hadoop conf per call.
    */
  def filePartitions(scan: ParquetScan, files: Seq[(String, Long)]): Seq[FilePartition] = {
    val listed = files.collect { case (p, len) if len > 0 && isDataPath(p) =>
      FileStatusWithMetadata(fileStatus(p, len))
    }
    val maxSplit = FilePartition.maxSplitBytes(scan.sparkSession,
      Seq(PartitionDirectory(InternalRow.empty, listed)))
    val splits = listed.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        scan.isSplitable(f.getPath), maxSplit, InternalRow.empty))
      .sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(scan.sparkSession, splits, maxSplit)
  }

  // a file index's listing filter (`PartitioningAwareFileIndex.isDataPath`)
  private def isDataPath(p: String): Boolean = {
    val name = new Path(p).getName
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
  }

  /** A manifest file's status. The block size is chosen so that
    * maxPartitionBytes, not fake block boundaries, drives split planning.
    */
  def fileStatus(p: String, len: Long): FileStatus =
    new FileStatus(len, false, 1, 128L << 20, 0L, new Path(p))

  /** The data schema `spark.read.schema(s).parquet(..)` gives its
    * relation: char/varchar refused as the reader refuses them, every
    * field nullable.
    */
  def fileSourceSchema(s: StructType): StructType =
    SparkCharVarcharUtils.failIfHasCharVarchar(s).asInstanceOf[StructType].asNullable

  /** The frame of a DSv2 `table`'s relation, as a catalog or
    * `format(..)` read of it resolves.
    */
  def tableFrame(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty()))

  /** Materialize a (metadata-scale) frame as the InternalRow array a
    * DSv2 `LocalScan` serves — the executed plan's collect, so the
    * rows are already safe copies.
    */
  def internalRows(df: org.apache.spark.sql.DataFrame): Array[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeCollect()

  /** Executor-side projection dropping the helper columns a
    * delete-applying reader appended: the output row is the first
    * `baseLen` fields of the augmented row.
    */
  def prefixProjection(augmented: StructType, baseLen: Int): UnsafeProjection =
    UnsafeProjection.create(augmented.fields.take(baseLen).zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable): Expression
    }.toIndexedSeq)

  /** Executor-side projection mapping an augmented parquet row to the
    * scan's requested output: `outMap(i)` is the augmented-row ordinal
    * serving output field i, or -1 for the row's (constant) file path
    * — the coordinate-emitting read that serves `_graft_file_path` /
    * `_graft_row_idx` metadata columns.
    */
  def mappedProjection(augmented: StructType, outMap: Seq[Int],
      filePath: String): UnsafeProjection =
    UnsafeProjection.create(outMap.map { ord =>
      if (ord < 0)
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(filePath),
          org.apache.spark.sql.types.StringType): Expression
      else {
        val f = augmented.fields(ord)
        BoundReference(ord, f.dataType, f.nullable): Expression
      }
    }.toIndexedSeq)

  /** Spark's shuffle hash, exactly as `repartition(n, col)` computes
    * it (Murmur3, seed 42) — the storage-partitioned `bucket` function
    * must agree with the layout the write shuffle produced.
    */
  def murmur3(value: Any, dt: org.apache.spark.sql.types.DataType): Long =
    org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(value, dt, 42L)

  def v2BucketingEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled

  /** A top-level column reference for v2 column statistics
    * (`FieldReference` is `private[sql]`).
    */
  def fieldRef(name: String): org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference.column(name)

  // ---- parquet writing outside a Spark write job (the delta-write
  // tasks, the driver's local-relation writes) ----

  /** The hadoop conf a parquet writer of `compression`-coded files
    * needs, prepared from the session (the same keys Spark's own
    * `ParquetUtils.prepareWrite` pins before handing the conf to
    * write tasks).
    */
  def writeConf(spark: SparkSession, compression: String)
      : org.apache.hadoop.conf.Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    // the codec name as a `compression` write option resolves it
    // (short names, case-insensitive; an unknown one is refused)
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      new ParquetOptions(Map(ParquetOptions.COMPRESSION -> compression), sqlConf)
        .compressionCodecClassName)
    conf
  }

  /** The file extension Spark's parquet writer gives a file written
    * under `conf`'s codec: `.snappy.parquet`, `.zstd.parquet`, or
    * `.parquet` uncompressed.
    */
  def parquetExtension(conf: org.apache.hadoop.conf.Configuration): String =
    org.apache.parquet.hadoop.metadata.CompressionCodecName
      .fromConf(conf.get(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION))
      .getExtension + ".parquet"

  /** True when Spark's parquet writer takes `schema` as it is: every
    * column type supported, no variant column (whose shredding the
    * writer's job set-up decides).
    */
  def parquetWritable(schema: StructType): Boolean =
    schema.forall(f => new ParquetFileFormat().supportDataType(f.dataType)) &&
      !schema.existsRecursively(_.isInstanceOf[org.apache.spark.sql.types.VariantType])

  /** The rows of `df` when the driver already holds them: its
    * optimized plan is a local relation (`createDataFrame` of rows,
    * `Seq.toDF`, and a project or filter over either, which
    * `ConvertToLocalRelation` folds). None for every other frame; one
    * with a leaf that is not a local relation is refused from its
    * analyzed plan, so it pays no extra optimizer pass.
    */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else qe.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => Some(r.data)
      case _ => None
    }
  }

  /** A task-side writer of [[InternalRow]]s to one parquet file —
    * Spark's own [[org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter]]
    * (full Catalyst type fidelity: the files read back exactly like
    * any Spark-written parquet) behind a fabricated task context.
    */
  def newRowWriter(path: String, schema: StructType,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
    val c = new org.apache.hadoop.conf.Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    c.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    val id = new TaskAttemptID(new TaskID(new JobID("graft-delta", 0),
      TaskType.MAP, 0), 0)
    new ParquetOutputWriter(path,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(c, id))
  }
}

/** Java-serializable hadoop `Configuration` carrier (the conf rides
  * the writer factory from driver to executors).
  */
final class ConfBox(@transient private var conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = conf.write(out)
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

/** A [[PartitioningAwareFileIndex]] served straight from the lake
  * manifest: no directory listing, no filesystem stats — the manifest
  * already records every live file's path and size (the Iceberg
  * model: metadata IO is O(manifest), never O(listing)). Partition
  * values are table columns in graft-lake (flat layout), so the
  * partition spec is always empty and file skipping happens upstream
  * via manifest stats instead of directory pruning.
  */
final class ManifestFileIndex(spark: SparkSession, files: Seq[(String, Long)])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val statuses: Seq[FileStatus] =
    files.map { case (p, len) => DsV2Shim.fileStatus(p, len) }

  override def rootPaths: Seq[Path] = statuses.map(_.getPath.getParent).distinct
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override val leafFiles: LinkedHashMap[Path, FileStatus] = {
    val m = LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m += s.getPath -> s)
    m
  }
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
  /** The default resolves through root-path re-qualification — serve
    * the manifest list verbatim instead (this is what `listFiles`
    * consumes when the partition spec is empty).
    */
  override def allFiles(): Seq[FileStatus] = statuses
  override def refresh(): Unit = ()
}

/** The lake's ScanBuilder: delegates pushdown negotiation verbatim to
  * Spark's own [[ParquetScanBuilder]] (column pruning, parquet filter
  * pushdown) while capturing the pushed predicates in v1 form for
  * manifest-stats pruning; `finish` (supplied by the lake layer)
  * prunes the file set and wraps the resulting [[ParquetScan]] with
  * merge-on-read delete application. Lives in the shim package only
  * because [[SupportsPushDownCatalystFilters]] — the interface
  * Spark's pushdown rule negotiates with — is `private[sql]`.
  */
final class DelegatedScanBuilder(
    spark: SparkSession,
    dataSchema: StructType,
    options: CaseInsensitiveStringMap,
    allFiles: Seq[(String, Long)],
    aggPushdown: Boolean,
    coordNames: Set[String],
    // logical → physical column names (column mapping); empty =
    // identity. `dataSchema` is already physical when non-empty.
    physMap: Map[String, String],
    finish: (ParquetScan, Seq[Filter], Option[StructType], Option[Int]) => Scan,
    // exact total row count from the MANIFEST, present only when the
    // snapshot has no outstanding deletes (a manifest count cannot
    // subtract masked rows) — serves bare COUNT(*) with ZERO IO
    manifestRows: Option[Long] = None,
    // per-column manifest stats PRE-AGGREGATED over the snapshot's
    // files, keyed by PHYSICAL column name: (kind, minL, maxL, minS,
    // maxS). Present only for columns EVERY file carries a matching
    // stat for — serves bare MIN/MAX with zero IO alongside COUNT(*)
    manifestStats: Map[String, (String, Long, Long, String, String)] = Map.empty)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private def phys(c: String): String = physMap.getOrElse(c, c)

  private val inner =
    ParquetScanBuilder(spark, new ManifestFileIndex(spark, allFiles),
      dataSchema, dataSchema, options)
  private var pushedV1: Seq[Filter] = Nil
  private var requested: Option[StructType] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown: the lake scan can cap its PLANNED FILE LIST from
    * manifest row counts (a `LIMIT 10` against 100 TB plans a file or
    * two, not the table) — always PARTIAL, Spark keeps its limit
    * operator, so the scan only needs to deliver at least `limit`
    * rows when the cap applies (clean snapshot, no residual filters —
    * enforced at plan time by [[GraftScan]]).
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // manifest pruning consumes the LOGICAL filters (GraftScan
    // translates stat keys itself); the parquet builder binds FILE
    // columns, so its copy gets physical names (exprIds survive the
    // rename, so Spark still binds any residual it hands back)
    pushedV1 = DsV2Shim.toV1Filters(filters)
    if (physMap.isEmpty) inner.pushFilters(filters)
    else inner.pushFilters(filters.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if physMap.contains(a.name) => a.withName(physMap(a.name))
    }))
  }
  override def pushedFilters: Array[V2Predicate] = inner.pushedFilters

  /** Row-coordinate METADATA columns (`_graft_file_path` /
    * `_graft_row_idx`) are stripped before delegating — the parquet
    * builder prunes to the data fields; the lake layer's scan emits
    * the coordinates itself (`finish` sees the full requested schema).
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = Some(requiredSchema)
    inner.pruneColumns(StructType(
      requiredSchema.fields.filterNot(f => coordNames(f.name))
        .map(f => f.copy(name = phys(f.name)))))
  }

  /** The manifest's answer to one aggregate expression, when it has
    * one: (output type, internal value). COUNT(*) comes from
    * commit-time per-file row counts; MIN/MAX come from per-file
    * min/max stats pre-aggregated over the snapshot — both exact, so
    * a bare `SELECT min(ts), max(ts), count(*) FROM t` (the
    * freshness probe every pipeline runs) answers with ZERO file IO
    * at any table size, no session conf, not even the footer reads
    * the parquet agg pushdown would pay. Refused per-column unless
    * EVERY file carries a matching stat (a defaulted column's
    * pre-evolution files, all-null files, bloom-only entries and
    * non-stat types all fall back to the scan); row counts are
    * schema-agnostic, so COUNT(*) additionally survives column
    * mapping / widening / defaults.
    */
  private def manifestAnswer(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[(org.apache.spark.sql.types.DataType, Any)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.FieldReference
    import org.apache.spark.sql.types._
    def colOf(x: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      x match {
        case f: FieldReference if f.fieldNames.length == 1 =>
          Some(phys(f.fieldNames.head))
        case _ => None
      }
    def statOf(name: String, wantMin: Boolean): Option[(DataType, Any)] =
      for {
        field <- dataSchema.fields.find(_.name == name)
        (kind, minL, maxL, minS, maxS) <- manifestStats.get(name)
        v <- (field.dataType, kind) match {
          case (LongType, "i") => Some(if (wantMin) minL else maxL)
          case (IntegerType, "i") => Some(Int.box((if (wantMin) minL else maxL).toInt))
          case (ShortType, "i") => Some(Short.box((if (wantMin) minL else maxL).toShort))
          case (ByteType, "i") => Some(Byte.box((if (wantMin) minL else maxL).toByte))
          // internal representations: micros for timestamps, days for
          // dates — exactly what the manifest records
          case (TimestampType, "i") => Some(if (wantMin) minL else maxL)
          case (DateType, "i") => Some(Int.box((if (wantMin) minL else maxL).toInt))
          case (StringType, "s") => Some(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              if (wantMin) minS else maxS))
          case _ => None
        }
      } yield (field.dataType, v)
    e match {
      case _: CountStar => manifestRows.map(n => (LongType, n))
      case m: Min => colOf(m.column).flatMap(statOf(_, wantMin = true))
      case m: Max => colOf(m.column).flatMap(statOf(_, wantMin = false))
      case _ => None
    }
  }

  private def manifestAnswerable(agg: Aggregation): Boolean =
    pushedV1.isEmpty && limit.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(e => manifestAnswer(e).isDefined)

  private var manifestAgg: Option[Aggregation] = None

  /** MIN/MAX/COUNT answered from parquet FOOTERS (zero data IO) —
    * forwarded to the parquet builder only for snapshots with no
    * outstanding deletes (a footer count cannot subtract masked
    * rows). Activates under spark.sql.parquet.aggregatePushdown.
    * Bare MIN/MAX/COUNT(*) short-circuits further: the manifest
    * answers them without touching a single file.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    manifestAnswerable(agg) ||
      (aggPushdown && inner.supportCompletePushDown(agg))
  override def pushAggregation(agg: Aggregation): Boolean =
    if (manifestAnswerable(agg)) { manifestAgg = Some(agg); true }
    else aggPushdown && inner.pushAggregation(agg)

  override def build(): Scan =
    manifestAgg match {
      case Some(agg) =>
        val answers = agg.aggregateExpressions.toIndexedSeq
          .map(e => manifestAnswer(e).get)
        new ManifestAggScan(answers)
      case None => finish(inner.build(), pushedV1,
        requested.filter(_.fields.exists(f => coordNames(f.name))), limit)
    }
}

/** The one-row driver-side answer to a manifest-served aggregation
  * (COUNT(*) / MIN / MAX over a clean snapshot).
  */
final class ManifestAggScan(
    answers: IndexedSeq[(org.apache.spark.sql.types.DataType, Any)])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(org.apache.spark.sql.catalyst.InternalRow(answers.map(_._2): _*))
  override def readSchema(): StructType = StructType(
    answers.zipWithIndex.map { case ((dt, _), i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", dt, nullable = false)
    })
  override def description(): String =
    s"GraftManifestAgg[${answers.map(_._2).mkString(", ")}]"
}
