package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.graftshim.{ConfBox, DsV2Shim}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** Declared CHECK constraints bound for InternalRow-level write paths
  * (row-level MERGE/UPDATE deltas, the DSv2 streaming write): the
  * boolean SQL resolves against the LOGICAL write schema on the
  * driver, binds by ordinal (column mapping renames only — row layout
  * is identical), and the serialized bound expression evaluates
  * interpreted per INSERTED row on executors. Violation = definite
  * FALSE (NULL passes — SQL CHECK semantics), thrown with the
  * constraint name before the row reaches a staged file, so the
  * failed job aborts and the staged-commit protocol discards it.
  */
private[sources] object CheckEnforce {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}

  def bind(spark: SparkSession, root: String, schema: StructType)
      : Seq[(String, Expression)] = {
    val checks = LakeTable.checksOf(root)
    if (checks.isEmpty) return Nil
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    checks.toSeq.map { case (name, sql) =>
      val analyzed = probe.where(org.apache.spark.sql.functions.expr(sql))
        .queryExecution.analyzed
      val cond = analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalStateException(
        s"CHECK constraint '$name' did not analyze to a filter: $sql"))
      val bound = cond.transform {
        case a: AttributeReference =>
          val ord = schema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
          require(ord >= 0, s"CHECK constraint '$name' references unknown column ${a.name}")
          BoundReference(ord, a.dataType, a.nullable)
      }
      name -> bound
    }
  }

  /** Throws on definite FALSE; NULL/TRUE pass. */
  def validate(checks: Seq[(String, Expression)], row: InternalRow): Unit =
    checks.foreach { case (name, e) =>
      val r = e.eval(row)
      if (r != null && r == false)
        throw new IllegalStateException(
          s"graft-lake CHECK constraint '$name' violated by row $row")
    }
}

/** SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE` on lake
  * tables — the DSv2 POSITION-DELTA row-level operation (Iceberg's
  * merge-on-read write shape, which its `iceberg-core` dependency
  * gives the reference's tables; see reference main.go:48-56):
  *
  *  - the SCAN is the table's own coordinate-emitting scan — each
  *    candidate row carries its (`_graft_file_path`,
  *    `_graft_row_idx`) metadata columns, which Spark's row-level
  *    rewrite rules project as the row id (manifest-stats pruning
  *    still bounds the candidate files to the condition);
  *  - the WRITE is a delta: executors stage replacement/inserted rows
  *    as ordinary data files and the replaced rows' coordinates as a
  *    positional-delete payload, in parallel, with no driver
  *    funneling;
  *  - the COMMIT binds both to ONE atomic snapshot
  *    ([[LakeTable.commitDelta]]), basis-validated for snapshot
  *    isolation. Nothing is rewritten: an UPDATE touching 0.01% of a
  *    100 TB table costs 0.01%. [[LakeTable.foldDeletes]] remains the
  *    maintenance path that bounds accumulated delete debt.
  *
  * UPDATEs are represented as delete + reinsert
  * (`representUpdateAsDeleteAndInsert`), so the writer only ever
  * appends — updated rows simply land in new files while their old
  * coordinates are masked.
  */
final class GraftDeltaOperation(spark: SparkSession, table: GraftLakeTable,
    cmd: Command) extends RowLevelOperation with SupportsDelta {

  /** The snapshot the candidate rows are read from; the commit
    * validates against it (snapshot isolation). This is the TABLE's
    * resolved snapshot — re-reading the head here would let a MoR
    * delete that commits between table resolution and operation
    * creation land with seq == basis and escape commitDelta's
    * `seq > basis` conflict check, resurrecting just-deleted rows.
    */
  private[sources] val basis: Int = table.resolvedSnapshot

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, table.root, basis, info, cmd)
    }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(LakeTable.CoordPath),
    Expressions.column(LakeTable.CoordIdx))

  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String =
    s"GraftPositionDelta[${cmd.toString.toLowerCase}] basis=$basis"
}

/** One SQL row-level statement's write: task writers stage files
  * under a commit-unique dir, the driver commit is one atomic
  * manifest CAS over exactly the task-reported files (a speculative
  * or retried task's abandoned files are never picked up).
  */
final class GraftDeltaWrite(spark: SparkSession, root: String, basis: Int,
    info: LogicalWriteInfo, cmd: Command) extends DeltaWrite {

  override def description(): String = s"GraftDeltaWrite[$root]"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val staging = LakeTable.newStagingDir(root)

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory =
      // staged data files store PHYSICAL column names (column mapping)
      GraftDeltaWriterFactory(staging,
        LakeTable.physicalizeSchema(root, info.schema()),
        new ConfBox(DsV2Shim.writeConf(spark, "snappy")),
        // declared CHECK constraints gate every INSERTED row (MERGE
        // inserts and UPDATE reinsertions alike; deletes are exempt)
        CheckEnforce.bind(spark, root, info.schema()))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.collect { case m: GraftDeltaMessage => m }
      val dataFiles = ms.flatMap(_.dataFiles).toSeq.sortBy(_._1)
      val deleteFiles = ms.flatMap(_.deleteFiles).toSeq.sortBy(_._1)
      if (dataFiles.isEmpty && deleteFiles.isEmpty) return // matched nothing
      val statCols = info.schema().fields.collect {
        case f if (f.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType | StringType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.DateType => true
          case _ => false
        }) => f.name
      }.toSeq
      LakeTable.commitDelta(spark, root, basis, dataFiles, deleteFiles,
        statCols, note = s"sql-${cmd.toString.toLowerCase}"): Unit
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.collect { case m: GraftDeltaMessage => m }.foreach { m =>
        (m.dataFiles ++ m.deleteFiles).foreach { case (p, _) =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
            new java.net.URI(p).getPath)): Unit
        }
      }
  }
}

private[sources] final case class GraftDeltaMessage(
    dataFiles: Seq[(String, Long)], deleteFiles: Seq[(String, Long)])
  extends WriterCommitMessage

/** DSv2 STREAMING write (`writeStream.toTable("graft.db.t")` /
  * `.format("graft-lake")` via the capability path): each epoch's
  * task writers stage rolled parquet files in parallel, the driver
  * binds them as ONE snapshot per epoch, idempotent by the epoch id
  * recorded in the manifest note — a replayed epoch after restart
  * sees its own note at the head and skips (exactly-once end to end,
  * the same contract as the v1 sink path).
  */
final class GraftStreamingWrite(spark: SparkSession, root: String,
    info: LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
  import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo}

  private val staging = LakeTable.newStagingDir(root)

  override def createStreamingWriterFactory(pinfo: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    // staged data files store PHYSICAL column names (column mapping)
    GraftStreamWriterFactory(staging,
      LakeTable.physicalizeSchema(root, info.schema()),
      new ConfBox(DsV2Shim.writeConf(spark, "snappy")),
      CheckEnforce.bind(spark, root, info.schema()))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftDeltaMessage => m }
      .flatMap(_.dataFiles).toSeq.sortBy(_._1)
    if (files.isEmpty) return
    val statCols = info.schema().fields.collect {
      case f if (f.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType | StringType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }) => f.name
    }.toSeq
    LakeTable.commitStaged(spark, root, files, info.schema(), statCols,
      note = s"batch-$epochId"): Unit
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftDeltaMessage => m }.foreach(
      _.dataFiles.foreach { case (p, _) =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)): Unit
      })
}

private[sources] final case class GraftStreamWriterFactory(staging: String,
    rowSchema: StructType, conf: ConfBox,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val out = new Rolled(staging,
        s"ep$epochId-$partitionId-$taskId", rowSchema, conf)
      override def write(row: InternalRow): Unit = {
        if (checks.nonEmpty) CheckEnforce.validate(checks, row)
        out.write(row)
      }
      override def commit(): WriterCommitMessage = {
        out.closeCurrent()
        GraftDeltaMessage(out.files.reverse, Nil)
      }
      override def abort(): Unit = { out.closeCurrent(); out.deleteAll() }
      override def close(): Unit = out.closeCurrent()
    }
}

private[sources] final case class GraftDeltaWriterFactory(staging: String,
    rowSchema: StructType, conf: ConfBox,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(staging, rowSchema, conf, partitionId, taskId, checks)
}

/** Per-task delta writer: inserted rows stream to data parquet files,
  * deleted rows' (path, idx) ids to positional-delete parquet files —
  * created lazily (a task that only deletes writes no data file and
  * vice versa), named by (partition, task) so a retried attempt never
  * collides, and ROLLED every [[GraftDeltaRowWriter.RollRows]] rows so
  * a task inserting billions of rows (a bulk MERGE at 100 TB) never
  * funnels them into one unbounded file.
  */
object GraftDeltaRowWriter {
  /** Rows per staged file before rolling to the next. */
  val RollRows: Long = 1L << 20
}

/** One rolled staged-parquet stream: lazily opens
  * `<staging>/<stem>-<k>.parquet`, rolls to the next file every
  * [[GraftDeltaRowWriter.RollRows]] rows — task-side writing stays
  * size-bounded at any input volume.
  */
private[sources] final class Rolled(staging: String, stem: String,
    schema: StructType, conf: ConfBox) {
  import GraftDeltaRowWriter.RollRows

  private var writer: OutputWriter = _
  private var rowsInFile = 0L
  private var curPath: String = _
  var files: List[(String, Long)] = Nil

  def write(row: InternalRow): Unit = {
    if (writer == null) {
      curPath = s"$staging/$stem-${files.size}.parquet"
      writer = DsV2Shim.newRowWriter(curPath, schema, conf.value)
      rowsInFile = 0L
    }
    writer.write(row)
    rowsInFile += 1
    if (rowsInFile >= RollRows) closeCurrent()
  }

  def closeCurrent(): Unit = if (writer != null) {
    writer.close()
    files = (curPath, rowsInFile) :: files
    writer = null
  }

  def deleteAll(): Unit = files.foreach { case (p, _) =>
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)): Unit
  }
}

final class GraftDeltaRowWriter(staging: String, rowSchema: StructType,
    conf: ConfBox, partitionId: Int, taskId: Long,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
  extends DeltaWriter[InternalRow] {

  private val delSchema = StructType(Seq(
    StructField(LakeTable.CoordPath, StringType, nullable = false),
    StructField(LakeTable.CoordIdx, LongType, nullable = false)))

  private val data = new Rolled(staging, s"delta-d-$partitionId-$taskId",
    rowSchema, conf)
  private val dels = new Rolled(staging, s"delta-x-$partitionId-$taskId",
    delSchema, conf)

  override def insert(row: InternalRow): Unit = {
    if (checks.nonEmpty) CheckEnforce.validate(checks, row)
    data.write(row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = dels.write(id)

  // unreachable under representUpdateAsDeleteAndInsert, but total
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    close()
    GraftDeltaMessage(data.files.reverse, dels.files.reverse)
  }

  override def abort(): Unit = {
    close()
    data.deleteAll()
    dels.deleteAll()
  }

  override def close(): Unit = {
    data.closeCurrent()
    dels.closeCurrent()
  }
}
