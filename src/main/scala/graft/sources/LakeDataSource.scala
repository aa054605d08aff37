package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.{DelegatedScanBuilder, DsV2Shim, StreamShim}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.lake.LakeTable
import graft.lake.LakeTable.{DeleteEntry, FileEntry, Manifest}
import graft.writer.BlockWriter

/** The lake's Spark DataSource **V2** registration — the standard
  * front door a reference user expects (they read/write the
  * reference's tables with `spark.read/write.format("iceberg")`; ours
  * with `"graft-lake"`, see reference main.go:48-56 for the table
  * layout this serves).
  *
  * Batch read: `spark.read.format("graft-lake").load(root)` resolves
  * the head manifest; `.option("snapshot", n)` time-travels and
  * `.option("asOfTimestampMs", ts)` resolves AS OF TIMESTAMP. The
  * scan is a genuine DSv2 `BatchScan` that DELEGATES partition
  * reading to Spark's own vectorized parquet machinery — columnar
  * batches, whole-stage codegen above, filter/column pushdown — while
  * the file list comes from a [[org.apache.spark.sql.graftshim.ManifestFileIndex]]
  * (no directory listing; manifest-recorded sizes) pruned by
  * manifest min/max/bloom stats against the pushed predicates.
  *
  * Merge-on-read deletes are applied PER READER (the Iceberg model):
  * data files are grouped by the delete files that apply to them
  * (sequence-number rule). A scan no delete touches keeps the
  * zero-overhead columnar path; otherwise every group reads row-wise
  * through the scan's one parquet reader, with the delete
  * payload hash-probed per executor ([[DeleteSideCache]] — loaded
  * once per JVM, never via the driver). Positional deletes ride the
  * parquet row-index column, so they are exact even under split files
  * and row-group skipping. The per-executor set is bounded by the
  * table's delete debt; [[LakeTable.foldDeletes]] is the maintenance
  * bound. This scan is the lake's one read path: [[LakeTable.read]]
  * and its siblings build their frames over it
  * ([[GraftLakeTable.pinned]]), taking only a bulk equality or
  * positional group, or an unprobeable equality group, off the
  * readers into a shuffle anti-join.
  *
  * Batch write: `df.write.format("graft-lake").mode("append"|
  * "overwrite").save(root)` — the official `V1Write` bridge onto the
  * staged-commit OCC path ([[LakeTable.commit]]/[[LakeTable.rewrite]]):
  * executors write the data files in parallel, the driver commits the
  * manifest. Options: `partitionCol`, `keyCol`, `maxRecordsPerFile`,
  * `stats` (comma-separated stat columns; default = every atomic
  * column), `bloom` (comma-separated bloom columns).
  *
  * Streaming: `readStream.format("graft-lake")` tails the commit log
  * (offset = snapshot id, one micro-batch per appended file set) via
  * a DSv2 [[MicroBatchStream]]; `.option("changeFeed", "true")`
  * switches to the CHANGE-DATA-FEED source ([[GraftCdfSource]]) whose
  * micro-batches emit `changelogRead` rows (`_change_type` /
  * `_change_snap`) instead of appended files — deletes and updates
  * arrive as a stream, replace-type maintenance commits emit zero
  * rows; `writeStream.format("graft-lake")` lands one atomic,
  * batch-id-idempotent commit per micro-batch ([[GraftStreamSink]])
  * — exactly-once end to end.
  */
class LakeSourceProvider extends TableProvider
    with DataSourceRegister with StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft-lake"

  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-lake: a path is required (.load(root) / .save(root))"))

  private def asOf(options: CaseInsensitiveStringMap, root: String): Option[Int] =
    Option(options.get("snapshot")).map(_.trim.toInt)
      .orElse(Option(options.get("asOfTimestampMs")).map(ts =>
        LakeTable.snapshotAsOfTime(root, ts.trim.toLong)))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options)
    val snap = asOf(options, root).getOrElse(LakeTable.currentSnapshot(root))
    if (snap <= 0) new StructType() // new table: the write carries the schema
    else GraftLakeTable.schemaOf(SparkSession.active, root, snap)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = rootOf(options)
    new GraftLakeTable(SparkSession.active, root, asOf(options, root),
      Option(schema).filter(_.fields.nonEmpty),
      // `.option("changeFeed", "true")` on readStream: the table drops
      // MICRO_BATCH_READ so Spark falls back to the v1 source path,
      // where [[createSource]] serves the changelog stream
      changeFeed = options.getBoolean("changefeed", false))
  }

  // ---- the CHANGE-DATA-FEED streaming source (v1 Source path) ----
  //
  // The append-tailing MicroBatchStream plans FILES; a change feed
  // must emit attributed ROWS (`changelogRead`'s per-commit insert/
  // delete frames — O(changed rows), replace commits empty). The v1
  // `Source` contract returns exactly that: one DataFrame per offset
  // range, its distributed plan intact. Offsets are snapshot ids, so
  // the checkpoint replays any range deterministically (exactly-once
  // across restarts); every manifest in the uncommitted range must
  // still be live — expire maintenance and CDF retention interact
  // exactly as in Delta/Iceberg.

  private def cdfSchema(spark: SparkSession, root: String): StructType = {
    val snap = LakeTable.currentSnapshot(root)
    require(snap > 0, s"changeFeed stream on $root: no committed snapshots")
    GraftLakeTable.schemaOf(spark, root, snap)
      .add(StructField("_change_type", StringType, nullable = false))
      .add(StructField("_change_snap", IntegerType, nullable = false))
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake source: a path is required"))
    ("graft-lake-cdf", cdfSchema(sqlContext.sparkSession, root))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake source: a path is required"))
    require(parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("changefeed") => v.toBoolean
      }.getOrElse(false),
      "graft-lake v1 streaming source serves only changeFeed=true " +
        "(plain append tailing rides the DSv2 micro-batch stream)")
    new GraftCdfSource(sqlContext.sparkSession, root,
      cdfSchema(sqlContext.sparkSession, root))
  }

  /** v1 streaming sink — the documented DSv2 fallback for a
    * `TableProvider` without STREAMING_WRITE (Spark's
    * `DataStreamWriter` routes here), giving the sink the whole
    * micro-batch frame so each batch is ONE atomic lake commit.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake sink: a path is required"))
    new GraftStreamSink(sqlContext.sparkSession, root,
      new CaseInsensitiveStringMap(parameters.asJava))
  }
}

object GraftLakeTable {
  /** The snapshot's STORED schema: logical names + column-mapping
    * metadata + drop tombstones.
    */
  private[sources] def storedSchemaAt(spark: SparkSession, root: String,
      snap: Int): StructType =
    LakeTable.manifest(root, snap).schema
      .getOrElse(LakeTable.read(spark, root, Some(snap)).schema)

  /** The relation `LakeTable.read` and its siblings scan: the table
    * pinned at manifest `m` — whose file list may be a subset of its
    * snapshot's, as an incremental or changelog read takes — under the
    * stored schema `stored`. It presents the snapshot's logical names
    * with every field nullable (the schema of a file-source read,
    * which compaction stores back), its scan packs file splits as a
    * file-source read does (no bucket layout report), and the MV
    * rewrite never matches it.
    */
  private[graft] def pinned(spark: SparkSession, root: String, m: Manifest,
      stored: StructType): GraftLakeTable =
    new GraftLakeTable(spark, root, None, None, pinnedAt = Some((m, stored)))

  /** The user-visible schema (tombstones out, mapping metadata
    * stripped — plan schemas never carry graft keys).
    */
  private[sources] def schemaOf(spark: SparkSession, root: String, snap: Int): StructType =
    graft.lake.ColumnMapping.logicalClean(storedSchemaAt(spark, root, snap))

  /** Snapshot-level MIN/MAX per stat column, folded over the
    * manifest's per-file stats: kept only for columns EVERY file
    * carries a matching typed stat for — a column any file lacks
    * (post-evolution addition, all-null file, bloom-only entry)
    * cannot answer an aggregate exactly and is dropped. Keys are
    * PHYSICAL column names (what per-file stats use).
    */
  private[sources] def aggregatedStats(m: LakeTable.Manifest)
      : Map[String, (String, Long, Long, String, String)] = {
    val first = m.files.head.stats
    first.keySet.flatMap { c =>
      val per = m.files.map(_.stats.get(c))
      val kind = first(c).kind
      if (kind == "b" || per.exists(s => s.isEmpty || s.get.kind != kind)) None
      else {
        val all = per.map(_.get)
        Some(c -> (if (kind == "s")
          (kind, 0L, 0L, all.map(_.minS).reduce(LakeTable.utf8Min),
            all.map(_.maxS).reduce(LakeTable.utf8Max))
        else (kind, all.map(_.min).min, all.map(_.max).max, "", "")))
      }
    }.toMap
  }

  private[sources] def metaCol(name0: String, dt: DataType,
      comment0: String): MetadataColumn = new MetadataColumn {
    override def name(): String = name0
    override def dataType(): DataType = dt
    override def isNullable: Boolean = false
    override def comment(): String = comment0
  }
}

/** One lake table at one (optional) snapshot. Capabilities cover
  * batch read (DSv2 columnar scan), micro-batch streaming read,
  * and batch write via the V1 bridge (ACCEPT_ANY_SCHEMA defers
  * schema enforcement to the commit layer, which validates appends
  * against the manifest schema — including on new tables, where no
  * table schema exists yet for Spark to check against).
  */
class GraftLakeTable(spark: SparkSession, val root: String, asOf: Option[Int],
    providedSchema: Option[StructType], changeFeed: Boolean = false,
    // ([[GraftLakeTable.pinned]]) the manifest and stored schema to
    // scan instead of resolving `root` at `asOf`
    pinnedAt: Option[(Manifest, StructType)] = None)
    extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations {

  // the snapshot this table reads: a pinned manifest's, else `asOf`'s
  private val at: Option[Int] = pinnedAt.map(_._1.snapshotId).orElse(asOf)

  private lazy val snap: Int = at.getOrElse(LakeTable.currentSnapshot(root))

  private[graft] def resolvedSnapshot: Int = snap

  /** Only a catalog or `format("graft-lake")` read of the table's
    * state may be answered from an MV. A change feed reads a COMMIT
    * RANGE, and a pinned relation is the engine's own read (an MV
    * refresh among them), possibly of a file subset — the MV
    * query-rewrite rule must never match either.
    */
  private[graft] def mvRewritable: Boolean = !changeFeed && pinnedAt.isEmpty

  /** A CREATE TABLE'd-but-never-written table's declared schema
    * (meta/_schema.json), for loads that bypass the catalog (the
    * path-based DataSource).
    */
  private lazy val declaredSchema: Option[StructType] = {
    val p = java.nio.file.Paths.get(root, "meta", "_schema.json")
    if (snap == 0 && java.nio.file.Files.isRegularFile(p))
      Some(org.apache.spark.sql.types.DataType
        .fromJson(java.nio.file.Files.readString(p)).asInstanceOf[StructType])
    else None
  }

  override def name(): String =
    s"graft-lake.`$root`" + at.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType = pinnedAt match {
    case Some((_, stored)) =>
      DsV2Shim.fileSourceSchema(
        if (graft.lake.ColumnMapping.hasMapping(stored))
          graft.lake.ColumnMapping.logicalClean(stored)
        else stored)
    case None =>
      providedSchema.orElse(declaredSchema).getOrElse {
        require(snap > 0, s"graft-lake table $root has no committed snapshots")
        GraftLakeTable.schemaOf(spark, root, snap)
      }
  }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      // `MERGE INTO … WITH SCHEMA EVOLUTION`: source columns absent
      // from the target auto-ADD (the analyzer routes them through
      // GraftCatalog.alterTable — the same metadata-only additive
      // evolution ADD COLUMNS takes) before the position-delta write
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // A brand-new table with NO declared schema has nothing to
    // validate against — the first commit's frame defines it. A
    // CREATE TABLE'd table (providedSchema / meta/_schema.json) and
    // every EXISTING table get Spark's full append validation and
    // INSERT column alignment (plus the commit layer's own
    // enforcement underneath) — the first INSERT must match the
    // declared schema, not silently redefine it.
    if (snap == 0 && providedSchema.isEmpty && declaredSchema.isEmpty)
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    // a changeFeed readStream must NOT advertise MICRO_BATCH_READ —
    // dropping it routes Spark to the v1 fallback, where the
    // provider's createSource serves the changelog stream
    if (!changeFeed) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }

  /** The manifest this table scans and its stored schema. snap == 0:
    * a CREATE TABLE'd-but-never-written table reads as zero rows of its
    * declared schema.
    */
  private def scanned: (Manifest, StructType) = pinnedAt.getOrElse(
    if (snap > 0)
      (LakeTable.manifest(root, snap), GraftLakeTable.storedSchemaAt(spark, root, snap))
    else (LakeTable.Manifest(0, 0, Nil, schemaJson = schema().json), schema()))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val (m, stored) = scanned
    // FORMAT DISPATCH: parquet files ride the delegated vectorized
    // scan; `.avro` files (the reference's own ingest format,
    // main.go:47-54) plan as their own partition set under the SAME
    // scan — container-decoded row-wise with avro reader-schema
    // projection for column pruning. Row-coordinate machinery
    // (positional/DV deletes, UPDATE/MERGE delta writes) stays
    // parquet-only and rejects avro with a pointed error at plan time.
    val hasAvro = m.files.exists(_.path.endsWith(".avro"))
    val mapped = graft.lake.ColumnMapping.hasMapping(stored)
    // unreachable by construction (appendAvro/rewriteAvro reject
    // mapped tables; evolution verbs reject avro tables) — but a
    // mis-bound decode is silent corruption, so verify anyway
    require(!hasAvro || !mapped,
      s"avro data plane: column mapping unsupported on $root")
    // the delegated parquet machinery binds FILE columns → build it on
    // the PHYSICAL schema; the scan presents logical names on top
    val fileSchema =
      if (mapped) graft.lake.ColumnMapping.physicalSchema(stored)
      else graft.lake.ColumnMapping.logicalClean(stored)
    new DelegatedScanBuilder(spark, fileSchema, options,
      m.files.map(f => (f.path, LakeTable.fileBytes(f))),
      // footer aggregate answers bind by file column name — disabled
      // under a mapping rather than risking a logical/physical mixup,
      // on float→double-widened tables (parquet float footer bounds
      // are not exact mins — see ColumnMapping.hasUnsafeAggWidening;
      // integral widens promote exactly and keep the shortcut), and
      // on tables with initial-default columns, where files predating
      // the column would contribute "absent" instead of the default.
      // Avro files have no parquet footer to answer from — manifest
      // aggregates (COUNT/MIN/MAX from commit stats) still serve.
      aggPushdown = m.deletes.isEmpty && !mapped && !hasAvro &&
        !graft.lake.ColumnMapping.hasUnsafeAggWidening(stored) &&
        !graft.lake.ColumnMapping.hasInitialDefaults(stored),
      Set(LakeTable.CoordPath, LakeTable.CoordIdx),
      if (mapped) graft.lake.ColumnMapping.toPhysical(stored) else Map.empty,
      (pscan, pushed, requested, limit) =>
        new GraftScan(spark, root, m, stored, pscan, pushed, requested,
          limit, reportBuckets = pinnedAt.isEmpty),
      // bare COUNT(*) answers straight from manifest row counts on a
      // clean snapshot — exact regardless of mapping/widening/defaults
      manifestRows =
        if (m.deletes.isEmpty && m.snapshotId > 0)
          Some(m.files.map(_.rows).sum) else None,
      // bare MIN/MAX answer from per-file manifest stats when EVERY
      // file carries a matching stat for the column (pre-aggregated
      // here once per scan build; metadata-scale)
      manifestStats =
        if (m.deletes.isEmpty && m.snapshotId > 0 && m.files.nonEmpty)
          GraftLakeTable.aggregatedStats(m) else Map.empty)
  }

  /** Row-coordinate METADATA columns: every scan can serve each row's
    * (file path, parquet row index) — the address space positional
    * deletes and the SQL UPDATE/MERGE delta writes target.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    GraftLakeTable.metaCol(LakeTable.CoordPath, StringType,
      "data file holding the row"),
    GraftLakeTable.metaCol(LakeTable.CoordIdx, LongType,
      "parquet row index of the row within its file"))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spark, root, info)

  // ---- SQL DELETE FROM / TRUNCATE TABLE (SupportsDelete) ----
  //
  // DELETE FROM t WHERE p runs as a POSITIONAL merge-on-read delete:
  // the matching rows' (file, row-index) coordinates become one
  // metadata-sized delete commit — no data files rewritten, arbitrary
  // predicate supported. TRUNCATE (and an unconditioned DELETE) is a
  // metadata-only empty-rewrite commit.

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    at.isEmpty && snap > 0 &&
      filters.forall(f => FilterToColumn.translate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val conds = filters.toSeq.flatMap(FilterToColumn.translate)
    if (conds.isEmpty) { LakeTable.truncate(root); return }
    val coords = LakeTable.withRowCoords(spark, root)
      .filter(conds.reduce(_ && _))
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    // a DELETE matching nothing is a no-op, not an empty commit
    if (!coords.isEmpty) LakeTable.deletePositions(spark, root, coords): Unit
  }

  override def truncateTable(): Boolean = { LakeTable.truncate(root); true }

  // ---- SQL UPDATE / MERGE INTO / non-translatable DELETE ----
  //
  // The position-delta row-level operation ([[GraftDeltaOperation]]):
  // scan emits row coordinates, write stages new data + positional
  // deletes, commit is one atomic merge-on-read snapshot. (A DELETE
  // whose predicate translates still takes the metadata-only
  // SupportsDelete path above — Spark's optimizer prefers it.)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(at.isEmpty,
      s"cannot run row-level ${info.command()} against a time-travel view of $root")
    () => new GraftDeltaOperation(spark, this, info.command())
  }
}

/** v1 `Filter` → `Column` for row-level DELETE conditions. Total on
  * the filter shapes Spark can produce for flat schemas; `None` makes
  * `canDeleteWhere` refuse (Spark then reports the condition as
  * unsupported instead of silently deleting the wrong rows).
  */
object FilterToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit

  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c) => translate(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Pushed-filter → manifest-stat predicate translation (integer and
  * string range bounds, bloom point probes). Pruning only ever bounds
  * IO — a conservative superset is always safe (Spark re-applies
  * every filter above the scan) — so strict bounds relax to inclusive
  * ones and unsupported shapes are simply not pruned on.
  */
object LakeFilters {

  private[graft] def translate(filters: Seq[Filter])
      : (Map[String, (Long, Long)], Map[String, (String, String)], Map[String, Seq[String]]) = {
    def num(v: Any): Option[Long] = v match {
      case n: Long => Some(n)
      case n: Int => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte => Some(n.toLong)
      // temporal predicates prune against the same units the stats
      // store: timestamps as epoch MICROS, dates as epoch DAYS
      case t: java.sql.Timestamp =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
      case d: java.sql.Date =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
      case d: java.time.LocalDate =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong)
      case _ => None
    }
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    var intB = Map.empty[String, (Long, Long)]
    var strB = Map.empty[String, (String, String)]
    var points = Map.empty[String, Seq[String]]
    // ONE-SIDED string bounds (range and prefix predicates) collect
    // separately and merge into strB at the end; a missing side
    // becomes null = "unbounded" (filesMatching null-guards). Strict
    // bounds relax to inclusive — conservative superset, always safe.
    var strLoB = Map.empty[String, String]
    var strHiB = Map.empty[String, String]
    def boundStrLo(c: String, v: String): Unit =
      strLoB += c -> strLoB.get(c).filter(_ >= v).getOrElse(v)
    def boundStrHi(c: String, v: String): Unit =
      strHiB += c -> strHiB.get(c).filter(_ <= v).getOrElse(v)
    // An inclusive upper bound covering every string with prefix p:
    // drop trailing U+FFFF chars, then increment the last char — all
    // p-prefixed strings compare strictly below it (char-wise, in
    // both UTF-16 and UTF-8 binary order). All-U+FFFF prefixes get
    // no upper bound (None), never a wrong one.
    def prefixUpper(p: String): Option[String] = {
      val t = p.reverse.dropWhile(_ == '\uffff').reverse
      if (t.isEmpty) None
      else Some(t.dropRight(1) + (t.last + 1).toChar)
    }
    def boundInt(c: String, lo: Option[Long], hi: Option[Long]): Unit = {
      val (l0, h0) = intB.getOrElse(c, (Long.MinValue, Long.MaxValue))
      intB += c -> (lo.map(math.max(l0, _)).getOrElse(l0), hi.map(math.min(h0, _)).getOrElse(h0))
    }
    def boundStr(c: String, v: String): Unit = {
      // contradictory equalities on one column leave lo > hi, which
      // prunes every file AND filters every row -- exactly the
      // unsatisfiable conjunction's answer
      val (l0, h0) = strB.getOrElse(c, (v, v))
      strB += c -> (Ordering[String].max(l0, v), Ordering[String].min(h0, v))
    }
    // Bloom probes compare against the bloom built from
    // `cast(col as string)` at commit time, so only value types whose
    // toString IS that rendering may probe: integrals. Temporal
    // predicates normalize to micros/days (num), which is NOT the
    // column's string rendering — they prune by range only.
    def intStr(v: Any): Option[String] = v match {
      case n: Long => Some(n.toString)
      case n: Int => Some(n.toString)
      case n: Short => Some(n.toString)
      case n: Byte => Some(n.toString)
      case _ => None
    }
    filters.flatMap(flat).foreach {
      case EqualTo(a, v: String) =>
        boundStr(a, v)
        points += a -> (points.getOrElse(a, Nil) :+ v).distinct
      case EqualTo(a, v) =>
        num(v).foreach(n => boundInt(a, Some(n), Some(n)))
        // point-lookup blooms prune scattered keys where min/max
        // ranges span the whole domain (same conservative-superset
        // rule as the string case: no bloom ⇒ file kept)
        intStr(v).foreach(s =>
          points += a -> (points.getOrElse(a, Nil) :+ s).distinct)
      // string range / prefix predicates prune on the same min/max
      // string stats equality uses — `c LIKE 'p%'` bounds the file
      // set to [p, prefixUpper(p)], which is what makes a DECLARED
      // truncate(n, col) layout (range-clustered appends) answer
      // prefix probes from a sliver of the file list
      case GreaterThan(a, v: String) => boundStrLo(a, v)
      case GreaterThanOrEqual(a, v: String) => boundStrLo(a, v)
      case LessThan(a, v: String) => boundStrHi(a, v)
      case LessThanOrEqual(a, v: String) => boundStrHi(a, v)
      case StringStartsWith(a, p) if p.nonEmpty =>
        boundStrLo(a, p); prefixUpper(p).foreach(boundStrHi(a, _))
      case GreaterThan(a, v) => num(v).foreach(n => boundInt(a, Some(n), None))
      case GreaterThanOrEqual(a, v) => num(v).foreach(n => boundInt(a, Some(n), None))
      case LessThan(a, v) => num(v).foreach(n => boundInt(a, None, Some(n)))
      case LessThanOrEqual(a, v) => num(v).foreach(n => boundInt(a, None, Some(n)))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        points += a -> vs.map(_.asInstanceOf[String]).toSeq.distinct
        // a range bound over the point set prunes on min/max stats
        // where no bloom exists — conservative superset, always safe
        // (conjunction with any existing bound, NOT boundStr, whose
        // per-value equality semantics would empty the range)
        val ss = vs.map(_.asInstanceOf[String])
        val (l0, h0) = strB.getOrElse(a, (ss.min, ss.max))
        strB += a -> (Ordering[String].max(l0, ss.min), Ordering[String].min(h0, ss.max))
      case In(a, vs) if vs.nonEmpty && vs.forall(v => num(v).isDefined) =>
        // numeric IN-sets (including runtime join-key filters) prune
        // as the range [min, max] of the probe values — plus bloom
        // point probes when every value is integral (scattered keys
        // under a foreign clustering leave min/max useless)
        val ns = vs.flatMap(num)
        boundInt(a, Some(ns.min), Some(ns.max))
        val ss = vs.flatMap(intStr)
        if (ss.length == vs.length)
          points += a -> (points.getOrElse(a, Nil) ++ ss).distinct
      case _ => () // unsupported shape: no pruning for it, never wrong
    }
    // merge one-sided string bounds into the equality bounds map;
    // null marks an unbounded side (filesMatching treats it as ±∞)
    (strLoB.keySet ++ strHiB.keySet).foreach { c =>
      val lo = strLoB.get(c); val hi = strHiB.get(c)
      strB.get(c) match {
        case Some((l0, h0)) =>
          strB += c -> (lo.filter(_ > l0).getOrElse(l0),
            hi.filter(_ < h0).getOrElse(h0))
        case None => strB += c -> (lo.orNull, hi.orNull)
      }
    }
    (intB, strB, points)
  }
}

/** Per-group merge-on-read delete payload, serialized to executors.
  * `eqs` = equality deletes (augmented-row ordinal of the key column,
  * an accessor tag, and the delete-file paths); `posFiles` =
  * positional-delete files whose (path, row-index) coordinates are
  * probed against the parquet row index at `rowIdxOrd`. `augSchema`
  * is what the scan's one parquet reader emits (the same for every
  * group of a scan); rows project back to its first `baseLen` fields.
  */
private[sources] final case class EqDeleteSpec(ord: Int, tag: String, files: Seq[String])
private[sources] final case class GroupDeleteSpec(
    eqs: Seq[EqDeleteSpec], posFiles: Seq[String], rowIdxOrd: Int,
    augSchema: StructType, baseLen: Int,
    // coordinate-emitting output: augmented-row ordinal per output
    // field, -1 = the partition's (constant) file path
    outMap: Option[Seq[Int]] = None,
    // deletion-vector sidecars: per-file bitmaps probed at rowIdxOrd
    // (O(1) bit test; payload O(files) bytes, never row-proportional)
    dvFiles: Seq[String] = Nil)

private[graft] final case class TaggedPartition(tag: Int, inner: FilePartition,
    bucket: Int = -1,
    // a micro-batch whose file set mixes formats must plan EVERY
    // partition row-wise (Spark forbids mixing columnar and row
    // partitions in one scan) — the batch planner sets this on its
    // parquet partitions when avro files share the batch
    forceRow: Boolean = false) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
  // consulted only when the scan reports KeyGroupedPartitioning (all
  // planned files bucketed under one spec); -1 otherwise, ignored
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

object GraftScan {
  /** InternalRow accessor tag for an equality-delete key column, None
    * for a type the readers have no probe for. [[LakeTable.read]]
    * anti-joins such a group; the scan rejects it at PLAN time with a
    * pointer to the paths that do handle it.
    */
  private[graft] def probeTag(dt: DataType): Option[String] = dt match {
    case LongType => Some("long")
    case IntegerType | DateType => Some("int")
    case ShortType => Some("short")
    case ByteType => Some("byte")
    case StringType => Some("string")
    case DoubleType => Some("double")
    case FloatType => Some("float")
    case BooleanType => Some("bool")
    case _ => None
  }

  private[sources] def keyTag(dt: DataType): String =
    probeTag(dt).getOrElse(throw new UnsupportedOperationException(
      s"graft-lake format read cannot apply equality deletes keyed on " +
        s"$dt; read via LakeTable.read or fold the deletes " +
        "(LakeTable.foldDeletes) first"))
}

/** The lake's DSv2 scan: ONE logical `BatchScan` whose partitions are
  * planned by Spark's parquet scan over the manifest-pruned file
  * list, grouped by applicable merge-on-read deletes (sequence rule).
  * A scan with no deletes keeps the columnar fast path untouched.
  * Implements runtime (join-driven) file pruning: a broadcast-join
  * key set arriving at execution time re-prunes the planned files
  * through the same manifest stats — the lake-native analog of
  * dynamic partition pruning.
  */
final class GraftScan(spark: SparkSession, root: String, m: Manifest,
    // the snapshot's STORED schema: logical names + column-mapping
    // metadata + drop tombstones
    tableSchema: StructType, template: ParquetScan, pushed: Seq[Filter],
    // full requested schema when row-coordinate metadata columns
    // (`_graft_file_path`/`_graft_row_idx`) are among the output
    requested: Option[StructType] = None,
    limit: Option[Int] = None,
    // false: never report the bucket layout, so splits pack across
    // buckets as a file-source read packs them
    reportBuckets: Boolean = true)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private val coordsRequested: Boolean = requested.isDefined

  /** The lake-table directory this scan serves (spec introspection). */
  def tableRoot: String = root

  // column mapping: filters/output are LOGICAL; file columns and the
  // per-file stat keys are PHYSICAL. Both maps empty = identity.
  private val physOf: Map[String, String] =
    if (graft.lake.ColumnMapping.hasMapping(tableSchema))
      graft.lake.ColumnMapping.toPhysical(tableSchema)
    else Map.empty
  private val logOf: Map[String, String] =
    physOf.map { case (l, p) => (p, l) }
  private def phys(c: String): String = physOf.getOrElse(c, c)

  /** STORAGE-PARTITIONED layout report: valid when the manifest
    * carries a bucket spec and EVERY live file is bucketed under it
    * (delta-written files clear this until compaction re-buckets).
    * Two lake tables co-bucketed on the join key then join with ZERO
    * shuffles — at 100 TB, the difference between a fact-fact join
    * being feasible and not.
    */
  private lazy val spjSpec: Option[(String, Int)] =
    if (reportBuckets && m.bucketCol.nonEmpty && m.nBuckets > 0 && !coordsRequested &&
        !aggPushed && m.files.forall(_.bucket >= 0) &&
        DsV2Shim.v2BucketingEnabled)
      Some((m.bucketCol, m.nBuckets))
    else None

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjSpec match {
      case Some((c, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
          planned.map(_.bucket).distinct.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  private val tracked: Set[String] =
    m.files.headOption.map(_.stats.keySet).getOrElse(Set.empty[String])

  private def prune(files: Seq[FileEntry], filters: Seq[Filter]): Seq[FileEntry] = {
    // filters carry LOGICAL names; stats key by PHYSICAL name
    val (intP, strP, pointP) = LakeFilters.translate(filters)
    LakeTable.filesMatching(files,
      intP.map { case (k, v) => phys(k) -> v }.filter(kv => tracked(kv._1)),
      strP.map { case (k, v) => phys(k) -> v }.filter(kv => tracked(kv._1)),
      pointP.map { case (k, v) => phys(k) -> v }.filter(kv => tracked(kv._1)))
  }

  /** Manifest-stats pruning on the statically pushed predicates,
    * then the pushed-LIMIT file cap: on a CLEAN snapshot (no deletes)
    * with NO residual filters, manifest row counts are exact, so the
    * scan plans just enough files to cover the limit — a `LIMIT 10`
    * against a 100 TB table reads one file. With filters or delete
    * masks in play the counts are not exact and the cap is skipped
    * (the limit is only ever partially pushed; Spark's own limit
    * operator still applies).
    */
  private[graft] val survivors: Seq[FileEntry] = {
    val pruned = prune(m.files, pushed)
    limit match {
      case Some(n) if pushed.isEmpty && m.deletes.isEmpty =>
        val buf = Seq.newBuilder[FileEntry]
        var acc = 0L
        val it = pruned.iterator
        while (acc < n && it.hasNext) {
          val f = it.next(); buf += f; acc += f.rows
        }
        buf.result()
      case _ => pruned
    }
  }
  private[graft] def totalFiles: Int = m.files.size

  /** Post-runtime-filter file set (starts at the static survivors). */
  @volatile private var planned: Seq[FileEntry] = survivors
  private[graft] def plannedFiles: Seq[FileEntry] = planned

  private val aggPushed: Boolean = template.pushedAggregate.nonEmpty

  // ---- runtime filtering (SupportsRuntimeFiltering) ----

  override def filterAttributes(): Array[NamedReference] =
    if (aggPushed) Array.empty
    else {
      // only columns surviving column pruning: Spark resolves these
      // against the scan OUTPUT (logical names), and a pruned-away
      // column would fail analysis of the runtime-filter subquery
      val out = readSchema().fieldNames.toSet
      tracked.toArray.map(p => logOf.getOrElse(p, p)).sorted.filter(out).map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.column(c))
    }

  override def filter(filters: Array[Filter]): Unit =
    // narrowing by join keys is sound with deletes (masked rows can
    // only shrink the result further) but NOT under a complete
    // aggregate pushdown, whose footer answer must cover every file
    if (!aggPushed) synchronized {
      planned = prune(planned, filters.toIndexedSeq); plannedParts = null
    }

  override def readSchema(): StructType =
    if (aggPushed) template.readDataSchema
    else requested.getOrElse(
      if (logOf.isEmpty) template.readDataSchema
      else StructType(template.readDataSchema.fields.map(f =>
        f.copy(name = logOf.getOrElse(f.name, f.name)))))

  override def description(): String =
    s"GraftLakeScan root=$root snapshot=${m.snapshotId} " +
      s"files=${survivors.size}/$totalFiles deleteFiles=${m.deletes.size} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      (if (aggPushed) "PushedAggregation: true, " else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  /** Scan statistics: exact size/row counts from the manifest, plus
    * COLUMN statistics (distinct count, null count, average length)
    * merged from the persisted ANALYZE sketches over the SURVIVING
    * files only — per-file NDV bitmaps OR together, so a pruned scan
    * reports the pruned subset's cardinalities, not the table's.
    * Spark converts these into attribute stats
    * (`DataSourceV2Relation.transformV2Stats`), so with CBO enabled
    * multi-join queries reorder on real distinct counts. Served only
    * when EVERY surviving file is sketched and the snapshot has no
    * outstanding deletes (a masked row would skew null/row ratios):
    * stale analysis after an un-analyzed append serves nothing rather
    * than something wrong.
    */
  override def estimateStatistics(): Statistics = {
    val colMap: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (m.deletes.isEmpty && survivors.nonEmpty) {
        graft.lake.LakeTable.colStats(root).foreach { meta =>
          graft.lake.LakeTable.mergedColStats(meta, survivors.map(_.path))
            .foreach(_.foreach { case (physCol, (occ, nulls, sumLen, rows)) =>
              val nonNull = rows - nulls
              // EQUI-HEIGHT HISTOGRAM over the surviving files: the
              // sidecar stores mergeable fixed-boundary bin counts +
              // per-bin NDV bitmaps; serve-time rebalancing re-expands
              // heavy bins into round(rows/height) equal-height
              // duplicates (a skewed value spans many bins with its
              // own ndv — exactly Spark's equi-height shape, so
              // FilterEstimation sees the skew a uniform NDV hides)
              val mergedBins = graft.lake.LakeTable.mergedHist(
                meta, survivors.map(_.path), physCol)
              // numeric value range from the merged bins: without
              // min/max, FilterEstimation's value interval degrades
              // to NullValueInterval and every predicate estimates 0
              // (Double survives: EstimationUtils.toDouble stringifies)
              val (minV, maxV): (java.util.Optional[Object], java.util.Optional[Object]) =
                mergedBins.filter(_.nonEmpty) match {
                  case Some(bins) =>
                    (java.util.Optional.of(
                       java.lang.Double.valueOf(bins.map(_._2).min): Object),
                     java.util.Optional.of(
                       java.lang.Double.valueOf(bins.map(_._3).max): Object))
                  case None =>
                    (java.util.Optional.empty(), java.util.Optional.empty())
                }
              val histo: java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                mergedBins match {
                  case Some(bins) if bins.map(_._1).sum > 0 =>
                    val total = bins.map(_._1).sum.toDouble
                    val height0 =
                      math.max(1.0, total / graft.lake.LakeTable.HistBins)
                    val expanded = bins.flatMap { case (r, lo, hi, nd) =>
                      val k = math.max(1, math.round(r / height0).toInt)
                      Seq.fill(k)((lo, hi,
                        math.max(1L, math.round(nd.toDouble / k))))
                    }
                    val h = total / expanded.size
                    java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats.Histogram {
                        override def height(): Double = h
                        override def bins(): Array[
                            org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                          expanded.map { case (l, u, nd) =>
                            new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                              override def lo(): Double = l
                              override def hi(): Double = u
                              override def ndv(): Long = nd
                            }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                          }.toArray
                      })
                  case _ => java.util.Optional.empty()
                }
              val st = new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  OptionalLong.of(math.max(1L,
                    graft.lake.LakeTable.ndvEstimate(occ, meta.buckets)))
                override def nullCount(): OptionalLong = OptionalLong.of(nulls)
                override def avgLen(): OptionalLong =
                  if (nonNull > 0) OptionalLong.of(math.max(1L, sumLen / nonNull))
                  else OptionalLong.empty()
                override def min(): java.util.Optional[Object] = minV
                override def max(): java.util.Optional[Object] = maxV
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats.Histogram] = histo
              }
              out.put(DsV2Shim.fieldRef(logOf.getOrElse(physCol, physCol)), st)
            })
        }
      }
      out
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(math.max(1L, survivors.map(LakeTable.fileBytes).sum))
      override def numRows(): OptionalLong =
        OptionalLong.of(survivors.map(_.rows).sum)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colMap
    }
  }

  override def toBatch: Batch = this

  /** Data-file groups by the delete set that applies to them (same
    * grouping as the Scala read path): commits are few, so the group
    * count is small. One parquet reader serves every group. On a dirty
    * scan it reads an AUGMENTED schema — the base columns, then every
    * group's missing equality-delete key columns, then the parquet row
    * index when any group needs it — and each group's delete spec
    * indexes into it (a clean group's spec only projects the helper
    * columns away). Built from the UNPRUNED file list so group indexes
    * are STABLE: the reader factory and a runtime-narrowed partition
    * plan must agree on them.
    */
  private case class Group(spec: Option[GroupDeleteSpec], paths: Set[String])

  /** Any `.avro` data file at this snapshot forces the whole scan
    * row-wise (Spark forbids mixing columnar and row partitions) and
    * disables parquet-footer machinery; computed over the UNPRUNED
    * manifest so the reader factory and a runtime-narrowed plan agree.
    */
  private[graft] val hasAvroFiles: Boolean =
    m.files.exists(_.path.endsWith(".avro"))

  private lazy val groups: Seq[Group] = {
    val base = template.readDataSchema
    val sets = m.files.groupBy(f => m.deletes.filter(_.seq > f.seq).map(_.path))
      .toSeq.sortBy(_._2.head.path)
      .map { case (_, fs) => (m.deletes.filter(_.seq > fs.head.seq), fs.map(_.path).toSet) }
    val dels = sets.flatMap(_._1)
    if (dels.isEmpty && !coordsRequested) sets.map { case (_, paths) => Group(None, paths) }
    else {
      // key columns are PHYSICAL names, as is the file read schema, so
      // the lookup and any added field stay in the physical domain
      def keyField(kc: String): StructField =
        graft.lake.ColumnMapping.fieldByPhysical(tableSchema, kc).getOrElse(
          throw new IllegalStateException(s"equality-delete key $kc not in schema of $root"))
      val withKeys = dels.filter(_.kind == "eq").map(_.keyCol).distinct.sorted
        .filterNot(base.fieldNames.contains).foldLeft(base) { (aug, kc) =>
          aug.add(StructField(kc, keyField(kc).dataType, keyField(kc).nullable))
        }
      val aug =
        if (dels.exists(d => d.kind == "pos" || d.kind == "dv") ||
            requested.exists(_.fieldNames.contains(LakeTable.CoordIdx)))
          // nullable: the column is absent from the FILES (the reader's
          // row-index generator back-fills it after the batch is read),
          // and a required-but-missing column fails the vectorized
          // reader's schema check
          withKeys.add(StructField(DsV2Shim.rowIndexCol, LongType, nullable = true))
        else withKeys
      val rowIdxOrd = aug.fieldNames.indexOf(DsV2Shim.rowIndexCol)
      val outMap = requested.map(_.fields.map { f =>
        if (f.name == LakeTable.CoordPath) -1
        else if (f.name == LakeTable.CoordIdx) rowIdxOrd
        else aug.fieldNames.indexOf(phys(f.name))
      }.toSeq)
      sets.map { case (ds, paths) =>
        def files(kind: String): Seq[String] = ds.filter(_.kind == kind).map(_.path)
        val eqs = ds.filter(_.kind == "eq").groupBy(_.keyCol).toSeq.sortBy(_._1).map {
          case (kc, es) => EqDeleteSpec(aug.fieldNames.indexOf(kc),
            GraftScan.keyTag(keyField(kc).dataType), es.map(_.path))
        }
        Group(Some(GroupDeleteSpec(eqs, files("pos"), rowIdxOrd, aug, base.length,
          outMap, files("dv"))), paths)
      }
    }
  }

  // what the one parquet reader emits: a dirty scan's augmented schema
  private lazy val emitSchema: StructType =
    groups.flatMap(_.spec).headOption.fold(template.readDataSchema)(_.augSchema)

  // the one parquet scan every group reads through
  private[graft] lazy val scan: ParquetScan =
    if (emitSchema eq template.readDataSchema) template
    else template.copy(readDataSchema = emitSchema)

  // Spark asks every copy of the scan's exec node for partitions and a
  // reader factory (`supportsColumnar` reads both); the factory is made
  // once per scan, the partitions once per planned file set
  private lazy val readerFactory: GraftReaderFactory =
    new GraftReaderFactory(scan.createReaderFactory(),
      groups.map(_.spec).toArray, emitSchema, anyAvro = hasAvroFiles)
  private var plannedParts: Array[InputPartition] = _

  override def planInputPartitions(): Array[InputPartition] = synchronized {
    if (plannedParts == null) plannedParts = partitionsOf(planned)
    plannedParts
  }

  private def partitionsOf(current: Seq[FileEntry]): Array[InputPartition] = {
    val spj = spjSpec.isDefined
    var i = -1
    groups.zipWithIndex.flatMap { case (g, tag) =>
      val keep = current.filter(f => g.paths(f.path))
      // under a bucket-spec report every partition must be keyed by
      // ONE bucket, so files are planned per bucket within the group
      val byBucket: Seq[(Int, Seq[FileEntry])] =
        if (keep.isEmpty) Nil
        else if (spj) keep.groupBy(_.bucket).toSeq.sortBy(_._1)
        else Seq((-1, keep))
      byBucket.flatMap { case (bucket, fs) =>
        // `.avro` files plan as [[AvroPartition]]s under the same group
        // tag (same delete spec, container-decoded row-wise)
        val (avroFs, pqFs) = fs.partition(_.path.endsWith(".avro"))
        val parts = DsV2Shim.filePartitions(scan,
          pqFs.map(f => (f.path, LakeTable.fileBytes(f))))
        val shaped =
          if (g.spec.exists(s => s.posFiles.nonEmpty || s.dvFiles.nonEmpty ||
              s.outMap.isDefined))
            // one PartitionedFile per partition so each reader knows
            // its rows' file coordinate (splits of one file are still
            // fine: the parquet row index is file-global)
            parts.flatMap(fp => fp.files.map { pf =>
              i += 1; FilePartition(i, Array(pf))
            })
          else parts.map { fp => i += 1; FilePartition(i, fp.files) }
        shaped.map(fp => TaggedPartition(tag, fp, bucket): InputPartition) ++
          avroFs.map(f => AvroPartition(tag, f.path, bucket): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(spark, root, template)
}

/** Delegates each partition to the scan's one parquet reader factory
  * — a clean scan keeps columnar batches end to end; a dirty scan
  * reads row-wise through [[DeleteFilterReader]] with the partition's
  * group spec — or, for an [[AvroPartition]], to the avro container
  * decoder ([[AvroRowReader]]), which emits the same schema so the
  * delete filter applies unchanged.
  */
final class GraftReaderFactory(private[graft] val inner: PartitionReaderFactory,
    specs: Array[Option[GroupDeleteSpec]], emitSchema: StructType,
    anyAvro: Boolean = false) extends PartitionReaderFactory {

  // Spark requires every partition of one scan to agree on columnar
  // vs row output — so the scan is columnar only when NO group has
  // deletes (any dirty group forces the whole scan row-wise; folding
  // deletes restores the columnar path) and NO data file is avro
  // (container decode is row-wise; lake_avro_migrate restores the
  // columnar path).
  private val allClean = specs.forall(_.isEmpty) && !anyAvro

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case t: TaggedPartition =>
        allClean && !t.forceRow && inner.supportColumnarReads(t.inner)
      case _ => false
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    inner.createColumnarReader(partition.asInstanceOf[TaggedPartition].inner)

  private def withDeletes(r: PartitionReader[InternalRow], tag: Int,
      filePath: => String): PartitionReader[InternalRow] =
    specs(tag) match {
      case None => r
      case Some(spec) =>
        val p =
          if (spec.posFiles.isEmpty && spec.dvFiles.isEmpty && spec.outMap.isEmpty) ""
          else filePath
        new DeleteFilterReader(r, spec, p)
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case a: AvroPartition =>
        // the delete filter / output projection key rows by the
        // MANIFEST-form path, which is exactly what the partition
        // carries (no parquet PartitionedFile round-trip to undo)
        withDeletes(new AvroRowReader(a.path, emitSchema,
          Set(DsV2Shim.rowIndexCol)), a.tag, a.path)
      case t: TaggedPartition =>
        withDeletes(inner.createReader(t.inner), t.tag,
          t.inner.files.head.filePath.toPath.toString)
    }
}

/** Row-wise reader applying a group's merge-on-read deletes: equality
  * keys hash-probed against the per-executor [[DeleteSideCache]],
  * positional coordinates probed against the parquet row index, and
  * the augmented helper columns projected away. SQL anti-join null
  * semantics: a null key never matches, so null-keyed rows survive
  * and null delete keys delete nothing.
  */
final class DeleteFilterReader(inner: PartitionReader[InternalRow],
    spec: GroupDeleteSpec, filePath: String)
  extends PartitionReader[InternalRow] {

  private val eqs = spec.eqs.toArray
  private val eqSets: Array[java.util.HashSet[AnyRef]] =
    eqs.map(e => DeleteSideCache.keySet(e.files, e.tag))
  private val posSet: java.util.HashSet[java.lang.Long] =
    if (spec.posFiles.isEmpty) null
    else DeleteSideCache.positions(spec.posFiles)
      .getOrDefault(filePath, DeleteSideCache.noPositions)
  // this file's deletion-vector bitmap (merged across sidecars); null
  // = no vector targets this file — probe is one O(1) bit test
  private val dvBits: Array[Byte] =
    if (spec.dvFiles.isEmpty) null
    else DeleteSideCache.dvBitmaps(spec.dvFiles).getOrDefault(filePath, null)
  private val project = spec.outMap match {
    case Some(m) => DsV2Shim.mappedProjection(spec.augSchema, m, filePath)
    case None => DsV2Shim.prefixProjection(spec.augSchema, spec.baseLen)
  }
  private var cur: InternalRow = _

  private def keyOf(r: InternalRow, ord: Int, tag: String): AnyRef = tag match {
    case "long" => java.lang.Long.valueOf(r.getLong(ord))
    case "int" => java.lang.Long.valueOf(r.getInt(ord).toLong)
    case "short" => java.lang.Long.valueOf(r.getShort(ord).toLong)
    case "byte" => java.lang.Long.valueOf(r.getByte(ord).toLong)
    case "string" => r.getUTF8String(ord).toString
    case "double" => DeleteSideCache.floating(r.getDouble(ord))
    case "float" => DeleteSideCache.floating(r.getFloat(ord).toDouble)
    case _ => java.lang.Boolean.valueOf(r.getBoolean(ord))
  }

  private def deleted(r: InternalRow): Boolean = {
    var i = 0
    while (i < eqs.length) {
      val e = eqs(i)
      if (!r.isNullAt(e.ord) && eqSets(i).contains(keyOf(r, e.ord, e.tag)))
        return true
      i += 1
    }
    (posSet != null &&
      posSet.contains(java.lang.Long.valueOf(r.getLong(spec.rowIdxOrd)))) ||
    (dvBits != null &&
      graft.functions.DvContains.contains(dvBits, r.getLong(spec.rowIdxOrd)))
  }

  override def next(): Boolean = {
    while (inner.next()) {
      val r = inner.get()
      if (!deleted(r)) { cur = r; return true }
    }
    false
  }
  override def get(): InternalRow = project(cur)
  override def close(): Unit = inner.close()
}

/** Executor-resident delete-payload cache: each JVM loads a delete
  * file set ONCE (plain parquet-mr read — no Spark session on the
  * executor path) and every task on that executor probes the shared
  * hash set. This is Iceberg's delete-application model; memory is
  * bounded by the table's outstanding delete debt, which
  * [[LakeTable.foldDeletes]] compaction bounds operationally. Entries
  * are keyed by the immutable delete-file paths, so staleness is
  * impossible (lake files are write-once).
  */
object DeleteSideCache {
  import LakeTable.{CoordIdx, CoordPath}

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  val noPositions = new java.util.HashSet[java.lang.Long]()

  def keySet(files: Seq[String], tag: String): java.util.HashSet[AnyRef] =
    cache.computeIfAbsent("eq:" + files.sorted.mkString(";"),
      _ => loadKeys(files)).asInstanceOf[java.util.HashSet[AnyRef]]

  def positions(files: Seq[String])
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] =
    cache.computeIfAbsent("pos:" + files.sorted.mkString(";"),
      _ => loadPositions(files))
      .asInstanceOf[java.util.HashMap[String, java.util.HashSet[java.lang.Long]]]

  /** Deletion-vector bitmaps (data-file path → merged BitSet bytes):
    * the JSON sidecars parse once per executor JVM; memory is
    * O(files × rowsPerFile/8) bytes — never row-proportional.
    */
  def dvBitmaps(files: Seq[String])
      : java.util.HashMap[String, Array[Byte]] =
    cache.computeIfAbsent("dv:" + files.sorted.mkString(";"),
      _ => {
        val merged = new java.util.HashMap[String, Array[Byte]]()
        graft.lake.LakeTable.mergedDv(files).foreach { case (p, b) =>
          merged.put(p, b): Unit
        }
        merged
      }).asInstanceOf[java.util.HashMap[String, Array[Byte]]]

  private def open(f: String): ParquetReader[org.apache.parquet.example.data.Group] =
    ParquetReader.builder(new GroupReadSupport(), new HPath(f))
      .withConf(new Configuration()).build()

  /** A floating key as both sides box it, normalized as Spark's join
    * keys are: -0.0 equals 0.0 and every NaN equals every other.
    */
  def floating(d: Double): java.lang.Double =
    java.lang.Double.valueOf(if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d)

  /** Values normalized to the same boxing [[DeleteFilterReader.keyOf]]
    * produces: integer family → Long, float family → [[floating]].
    */
  private def loadKeys(files: Seq[String]): java.util.HashSet[AnyRef] = {
    val set = new java.util.HashSet[AnyRef]()
    files.foreach { f =>
      val reader = open(f)
      try {
        var g = reader.read()
        while (g != null) {
          if (g.getFieldRepetitionCount(0) > 0) {
            val prim = g.getType.getType(0).asPrimitiveType().getPrimitiveTypeName
            set.add(prim match {
              case PrimitiveTypeName.INT64 => java.lang.Long.valueOf(g.getLong(0, 0))
              case PrimitiveTypeName.INT32 => java.lang.Long.valueOf(g.getInteger(0, 0).toLong)
              case PrimitiveTypeName.BINARY => g.getString(0, 0)
              case PrimitiveTypeName.DOUBLE => floating(g.getDouble(0, 0))
              case PrimitiveTypeName.FLOAT => floating(g.getFloat(0, 0).toDouble)
              case PrimitiveTypeName.BOOLEAN => java.lang.Boolean.valueOf(g.getBoolean(0, 0))
              case other => throw new UnsupportedOperationException(
                s"graft-lake: unsupported equality-delete key physical type $other")
            })
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    set
  }

  private def loadPositions(files: Seq[String])
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] = {
    val byFile = new java.util.HashMap[String, java.util.HashSet[java.lang.Long]]()
    files.foreach { f =>
      val reader = open(f)
      try {
        var g = reader.read()
        while (g != null) {
          val pi = g.getType.getFieldIndex(CoordPath)
          val ii = g.getType.getFieldIndex(CoordIdx)
          val p = g.getString(pi, 0)
          byFile.computeIfAbsent(p, _ => new java.util.HashSet[java.lang.Long]())
            .add(java.lang.Long.valueOf(g.getLong(ii, 0)))
          g = reader.read()
        }
      } finally reader.close()
    }
    byFile
  }
}

/** DSv2 micro-batch source over the commit log: offset = snapshot id,
  * batch (`from`, `to`] = exactly the data files those commits
  * appended (append-scan semantics, as in Iceberg's incremental
  * scans) — no directory listing, no re-read of older data, and the
  * checkpointed offset makes consumption exactly-once across
  * restarts. Partitions are packed from the added files' manifest
  * sizes exactly as the negotiated parquet scan would plan them.
  */
final case class GraftOffset(snap: Int) extends Offset {
  override def json(): String = snap.toString
}

final class GraftMicroBatchStream(spark: SparkSession, root: String,
    template: ParquetScan) extends MicroBatchStream with AvailableNowCapped {

  override protected def streamRoot: String = root

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    GraftOffset(cappedHead)

  override def initialOffset(): Offset = GraftOffset(0)
  override def latestOffset(): Offset = GraftOffset(cappedHead)
  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].snap
    val to = end.asInstanceOf[GraftOffset].snap
    if (to <= from) Array.empty
    else {
      val m = LakeTable.manifest(root, to)
      val added = m.files.filter(f => f.seq > from && f.seq <= to)
      // format dispatch, as in the batch scan: `.avro` appends (the
      // reference's stream cadence writes them, main.go:75-77) plan
      // as container-decoder partitions; a mixed batch forces its
      // parquet partitions row-wise (Spark forbids mixing columnar
      // and row partitions within one batch)
      val (avro, pq) = added.partition(_.path.endsWith(".avro"))
      val parts = DsV2Shim.filePartitions(template,
          pq.map(f => (f.path, LakeTable.fileBytes(f))))
        .map(p => TaggedPartition(0, p, forceRow = avro.nonEmpty): InputPartition)
      (parts ++ avro.map(f => AvroPartition(0, f.path): InputPartition)).toArray
    }
  }

  // `template` is fixed for the stream's life, so one factory (one
  // conf broadcast) serves every micro-batch, as in [[GraftScan]]
  private lazy val readerFactory: GraftReaderFactory =
    new GraftReaderFactory(template.createReaderFactory(), Array(None),
      template.readDataSchema)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Batch write via the official V1 bridge: the commit layer already
  * does a distributed staged write + driver-side manifest CAS, which
  * is exactly the split DSv2 writes want — `V1Write` hands it the
  * materialized frame without re-implementing an executor-side
  * parquet writer. `overwrite` maps to a basis-validated REWRITE
  * (truncate-and-load as one atomic snapshot; history preserved).
  */
final class GraftWriteBuilder(spark: SparkSession, root: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var overwriteAll = false
  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit =
        LakeFormatWrite.write(spark, root, data, info.options(),
          overwriteAll || overwrite)
    }
    // `writeStream.toTable("graft.db.t")`: one epoch = one atomic,
    // epoch-id-idempotent snapshot (task writers stage rolled files,
    // the driver binds them — see [[GraftStreamingWrite]])
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(spark, root, info)
  }
}

private[graft] object LakeFormatWrite {

  private def atomicStatCols(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if (f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             TimestampType | DateType => true
        case _ => false
      }) => f.name
    }.toSeq

  /** The table's DDL-declared layout: (col, nBuckets, transform) —
    * `PARTITIONED BY (bucket(n, c))` → (c, n, "bucket");
    * `PARTITIONED BY (c)` → (c, 0, "identity"); a temporal transform
    * (`days(ts)` etc.) → (ts, 0, "days"). Delegates to the one
    * shared reader ([[graft.lake.LakeTable.declaredLayout]]) so the
    * parquet and avro planes can never drift on layout semantics.
    */
  private def declaredLayout(root: String): Option[(String, Int, String)] =
    graft.lake.LakeTable.declaredLayout(root)

  private val temporal = Set("days", "months", "hours", "years", "date")

  private[graft] def config(options: CaseInsensitiveStringMap,
      schema: StructType, root: String = "")
      : (BlockWriter.Config, Seq[String], Seq[String], Boolean, Option[Seq[String]]) = {
    val layout = if (root.nonEmpty) declaredLayout(root) else None
    // a TEMPORAL layout clusters every append by RANGE on the raw
    // column: per-file time extents come out disjoint and tight, so a
    // period predicate prunes via the manifest's min/max stats — the
    // declared analog of the zorder_layout recipe. A declared
    // truncate(n, col) layout range-clusters the same way (raw-value
    // clustering is strictly tighter than truncation-bucket
    // clustering), so prefix/point/range predicates on the column
    // prune by file stats alone.
    val rangeCluster = layout.exists(l => temporal(l._3) || l._3 == "truncate")
    // a DECLARED z-order layout: all dims range-cluster via the
    // interleaved quantile buckets (operators/ZOrder) — the caller
    // builds the batch-derived cluster expression from these cols
    val zCols: Option[Seq[String]] = layout.collect {
      case (c, _, "zorder") => c.split(',').toSeq
    }
    val partitionCol = Option(options.get("partitioncol"))
      .orElse(zCols.map(_.head))
      .orElse(layout.map(_._1))
      .getOrElse(schema.fieldNames.head)
    val keyCol = Option(options.get("keycol"))
      .orElse(layout.collect { case (c, _, tf) if temporal(tf) || tf == "truncate" => c })
      .getOrElse(partitionCol)
    val maxRecords = Option(options.get("maxrecordsperfile"))
      .map(_.trim.toInt).getOrElse(4096)
    val stats = Option(options.get("stats"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(atomicStatCols(schema))
    val bloom = Option(options.get("bloom"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // a declared bucket count pins the write fan-out — the
    // storage-partitioned-join spec `bucket(n, col)` is then stable
    // across appends by construction
    val fanOut = layout.collect { case (c, n, "bucket") if n > 0 && c == partitionCol => n }
    (BlockWriter.Config(partitionCol, keyCol, maxRecords,
      parallelism = fanOut), stats, bloom, rangeCluster, zCols)
  }

  /** The declared-z-order cluster expression for this batch (None
    * when the table declares no z layout).
    */
  private[graft] def zClusterOf(zCols: Option[Seq[String]],
      data: DataFrame): Option[org.apache.spark.sql.Column] =
    zCols.map(cols => graft.operators.ZOrder.zColumn(data, cols))

  /** `option("replaceWhere", "<pred>")` → stat-bounds maps for
    * [[LakeTable.overwriteWhere]]. Supported grammar (Delta's
    * replaceWhere shape): a conjunction of range/equality terms over
    * integral, timestamp, date, or string columns — `c >= v`,
    * `c <= v`, `c > v`, `c < v` (integral/temporal only; strict
    * string bounds have no exact inclusive form), `c = v`,
    * `c BETWEEN a AND b`. Anything else is rejected loudly: the
    * predicate defines the REPLACED REGION, so a silently-dropped
    * term would replace the wrong rows.
    */
  private[sources] def parseReplaceWhere(spark: SparkSession, text: String)
      : (Map[String, (Long, Long)], Map[String, (String, String)]) = {
    import org.apache.spark.sql.catalyst.expressions.{
      And => CAnd, EqualTo => CEq, Expression, GreaterThan => CGt,
      GreaterThanOrEqual => CGte, LessThan => CLt, LessThanOrEqual => CLte,
      Literal => CLit}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def num(l: CLit): Option[Long] = l.dataType match {
      case LongType => Some(l.value.asInstanceOf[Long])
      case IntegerType => Some(l.value.asInstanceOf[Int].toLong)
      case ShortType => Some(l.value.asInstanceOf[Short].toLong)
      case ByteType => Some(l.value.asInstanceOf[Byte].toLong)
      case TimestampType => Some(l.value.asInstanceOf[Long]) // micros
      case DateType => Some(l.value.asInstanceOf[Int].toLong) // days
      case _ => None
    }
    def str(l: CLit): Option[String] = l.dataType match {
      case StringType => Some(l.value.toString)
      case _ => None
    }
    var ints = Map.empty[String, (Long, Long)]
    var strs = Map.empty[String, (String, String)]
    def boundI(c: String, lo: Option[Long], hi: Option[Long]): Unit = {
      val (l0, h0) = ints.getOrElse(c, (Long.MinValue, Long.MaxValue))
      ints += c -> (lo.map(math.max(l0, _)).getOrElse(l0),
        hi.map(math.min(h0, _)).getOrElse(h0))
    }
    def boundS(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = strs.get(c)
        .getOrElse((lo.orElse(hi).get, hi.orElse(lo).get))
      strs += c -> (lo.map(Ordering[String].max(l0, _)).getOrElse(l0),
        hi.map(Ordering[String].min(h0, _)).getOrElse(h0))
    }
    def bad(e: Expression): Nothing = throw new IllegalArgumentException(
      s"unsupported replaceWhere term: ${e.sql}; supported: conjunctions of " +
        "range/equality bounds over integral, timestamp, date, or string columns")
    def walk(e: Expression): Unit = e match {
      case CAnd(l, r) => walk(l); walk(r)
      case CGte(UnresolvedAttribute(Seq(c)), l: CLit) =>
        num(l).map(v => boundI(c, Some(v), None))
          .orElse(str(l).map(v => boundS(c, Some(v), None))).getOrElse(bad(e))
      case CLte(UnresolvedAttribute(Seq(c)), l: CLit) =>
        num(l).map(v => boundI(c, None, Some(v)))
          .orElse(str(l).map(v => boundS(c, None, Some(v)))).getOrElse(bad(e))
      case CGt(UnresolvedAttribute(Seq(c)), l: CLit) =>
        // exact inclusive form exists for integral domains only
        num(l).map(v => boundI(c, Some(v + 1), None)).getOrElse(bad(e))
      case CLt(UnresolvedAttribute(Seq(c)), l: CLit) =>
        num(l).map(v => boundI(c, None, Some(v - 1))).getOrElse(bad(e))
      case CEq(UnresolvedAttribute(Seq(c)), l: CLit) =>
        num(l).map(v => boundI(c, Some(v), Some(v)))
          .orElse(str(l).map(v => boundS(c, Some(v), Some(v)))).getOrElse(bad(e))
      case other => bad(other)
    }
    walk(spark.sessionState.sqlParser.parseExpression(text))
    (ints, strs)
  }

  /** Declared CHECK constraints enforced IN-FLIGHT: the conjunction
    * evaluates inside the projection of the first output column, so a
    * violating row fails the write job (named constraint + offending
    * row in the error) before any manifest commit — no second scan of
    * the batch, no driver-side validation pass, and the staged-commit
    * protocol guarantees the failed batch leaves table state
    * untouched. NULL evaluates as PASS (the SQL-standard CHECK
    * semantics: only definite FALSE violates).
    */
  private[graft] def applyChecks(root: String, data: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat, expr, lit, not, raise_error, struct, to_json, when}
    val checks = LakeTable.checksOf(root)
    if (checks.isEmpty) return data
    val c0 = data.columns.head
    val msg = checks.foldLeft(lit("")) { case (acc, (name, sql)) =>
      when(not(coalesce(expr(sql), lit(true))),
        concat(lit(s"graft-lake CHECK constraint '$name' violated ($sql) by row "),
          to_json(struct(data.columns.map(col): _*)))).otherwise(acc)
    }
    val fails = checks.values.map(sql => not(coalesce(expr(sql), lit(true))))
      .reduce(_ || _)
    data.withColumn(c0, when(fails, raise_error(msg)).otherwise(col(c0)))
  }

  def write(spark: SparkSession, root: String, data0: DataFrame,
      options: CaseInsensitiveStringMap, overwrite: Boolean): Unit = {
    val data = applyChecks(root, data0)
    val (cfg, stats, bloom, rc, zc) = config(options, data.schema, root)
    val head = LakeTable.currentSnapshot(root)
    val replaceWhere = Option(options.get("replacewhere")).map(_.trim)
      .filter(_.nonEmpty)
    if (overwrite && head > 0 && replaceWhere.isDefined) {
      val (ints, strs) = parseReplaceWhere(spark, replaceWhere.get)
      LakeTable.overwriteWhere(spark, root, ints, data, cfg, stats,
        strBounds = strs, rangeCluster = rc): Unit
    } else if (overwrite && head > 0)
      LakeTable.rewrite(spark, root, data, cfg, stats, rangeCluster = rc,
        basis = Some(head), clusterBy = zClusterOf(zc, data)): Unit
    else
      LakeTable.commit(spark, root, data, cfg, stats, rangeCluster = rc,
        bloomCols = bloom, clusterBy = zClusterOf(zc, data)): Unit
  }
}

/** v1 streaming sink: every micro-batch is ONE atomic lake commit,
  * made idempotent by recording the batch id in the manifest note — a
  * replayed batch whose id is already the latest content commit is
  * skipped (the recipe Iceberg's streaming writers use; same contract as
  * [[graft.streaming.LakeStream]], now behind
  * `writeStream.format("graft-lake")`).
  */
final class GraftStreamSink(spark: SparkSession, root: String,
    options: CaseInsensitiveStringMap) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (LakeTable.landed(root, s"batch-$batchId")) return
    // re-plan the micro-batch frame as a batch frame (the plan's RDD
    // feeds the write; ForeachBatchSink does the same re-wrap).
    // Emptiness is decided from the staged write's entries inside the
    // commit (skipIfEmpty) — a pre-commit `batch.isEmpty` would run
    // the whole micro-batch plan a second time.
    val batch = LakeFormatWrite.applyChecks(root, StreamShim.asBatchFrame(data))
    val (cfg, stats, bloom, rc, zc) = LakeFormatWrite.config(options, data.schema, root)
    LakeTable.commit(spark, root, batch, cfg, stats, rangeCluster = rc,
      bloomCols = bloom, note = s"batch-$batchId", skipIfEmpty = true,
      clusterBy = LakeFormatWrite.zClusterOf(zc, batch)): Unit
  }

  override def toString: String = s"GraftLakeSink[$root]"
}
