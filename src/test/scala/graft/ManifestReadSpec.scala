package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, FileScanRDD, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ManifestFileIndex
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable
import graft.sources.{GraftScan, TaggedPartition}
import graft.writer.BlockWriter

/** `LakeTable.read` scans the manifest's file list: no glob, no file
  * listing and no listing job at any file count, with the rows,
  * schema, size statistics and file splits of a
  * `spark.read.schema(s).parquet(paths)` read of the same files.
  */
class ManifestReadSpec extends AnyFunSuite {
  import TestSpark._

  private def events: DataFrame =
    graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  /** What the assertions read off a leaf: a lake read's DSv2 scan or a
    * listed read's file-source relation.
    */
  private final case class Leaf(sizeInBytes: Long, dataSchema: StructType,
      partitionSchema: StructType, inputFiles: Seq[String], location: FileIndex)

  private def relationsOf(df: DataFrame): Seq[Leaf] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        Leaf(r.sizeInBytes, r.dataSchema, r.partitionSchema, r.inputFiles.toSeq,
          r.location)
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftScan] =>
        val s = r.scan.asInstanceOf[GraftScan]
        Leaf(s.estimateStatistics().sizeInBytes().getAsLong, r.relation.schema,
          s.scan.readPartitionSchema, s.plannedFiles.map(_.path), s.scan.fileIndex)
    }

  // a file index spells a local file `file:///…` or `file:/…`; the
  // file is its URI's path
  private def fileOf(uri: String): String = new java.net.URI(uri).getPath

  private def splitsOf(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.inputRDD.asInstanceOf[FileScanRDD].filePartitions
      case b: BatchScanExec => b.inputPartitions.map(_.asInstanceOf[TaggedPartition].inner)
    }.flatten.flatMap(_.files.map(f => (fileOf(f.filePath.toString), f.start, f.length)))

  private def storedSchema(root: String): StructType =
    DataType.fromJson(LakeTable.manifest(root, LakeTable.currentSnapshot(root))
      .schemaJson).asInstanceOf[StructType]

  /** The read the engine made before it used the manifest's list. */
  private def listedRead(root: String): DataFrame =
    spark.read.schema(storedSchema(root)).parquet(
      LakeTable.manifest(root, LakeTable.currentSnapshot(root)).files.map(_.path): _*)

  /** A clean table of more files than Spark lists on the driver
    * (`parallelPartitionDiscovery.threshold`, 32).
    */
  private def manyFileTable(prefix: String): String = {
    val root = graft.util.Scratch.dir(prefix)
    val n = events.count()
    LakeTable.commit(spark, root, events,
      BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = (n / 40).toInt),
      Seq("event_id"))
    val files = LakeTable.manifest(root, 1).files.size
    assert(files > 32, s"fixture: $files files")
    root
  }

  test("job budget: a read of a clean 40-file table runs one Spark job and builds no listing index") {
    val root = manyFileTable("graft_mread_jobs_")
    var got: Array[org.apache.spark.sql.Row] = null
    val jobs = SparkJobs.during(spark) {
      got = LakeTable.read(spark, root).collect()
    }
    // the scan's own job; the listing job a file index runs above 32
    // paths is gone
    assert(jobs.size === 1, s"${jobs.size} Spark jobs")
    assert(got.length.toLong === events.count())
    val rels = relationsOf(LakeTable.read(spark, root))
    assert(rels.nonEmpty && rels.forall(_.location.isInstanceOf[ManifestFileIndex]),
      rels.map(_.location.getClass.getName))
    graft.util.Scratch.rmNow(root)
  }

  test("the manifest relation has the listed read's schema, size, input files and splits") {
    val root = manyFileTable("graft_mread_size_")
    val df = LakeTable.read(spark, root)
    val listed = listedRead(root)
    val Seq(rel) = relationsOf(df)
    val Seq(listedRel) = relationsOf(listed)
    assert(rel.sizeInBytes === listedRel.sizeInBytes)
    assert(rel.sizeInBytes === LakeTable.manifest(root, 1).files.map(_.bytes).sum)
    assert(rel.dataSchema === listedRel.dataSchema)
    assert(rel.partitionSchema === listedRel.partitionSchema)
    assert(df.schema === listed.schema)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes ===
      listed.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(rel.inputFiles.map(fileOf).toSet === listedRel.inputFiles.map(fileOf).toSet)
    assert(splitsOf(df) === splitsOf(listed))
    assert(rows(df) === rows(listed))
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: additive evolution null-fills the older files") {
    val root = graft.util.Scratch.dir("graft_mread_evo_")
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 256)
    val base = events.select(col("event_id"), col("user_id"), col("event_type"))
    val even = base.filter(col("event_id") % 2 === 0)
    val odd = base.filter(col("event_id") % 2 === 1)
      .withColumn("extra", when(lit(true), col("event_id") * 2))
    LakeTable.commit(spark, root, even, cfg, Seq("event_id"))
    LakeTable.commit(spark, root, odd, cfg, Seq("event_id"))
    val got = LakeTable.read(spark, root)
    assert(got.columns.toSeq === Seq("event_id", "user_id", "event_type", "extra"))
    val expect = even.withColumn("extra", lit(null).cast(odd.schema("extra").dataType))
      .unionByName(odd)
    assert(rows(got) === rows(expect))
    assert(got.filter(col("extra").isNull).count() === even.count())
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: a column-mapped rename and drop read old files by physical name") {
    val root = graft.util.Scratch.dir("graft_mread_cm_")
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 256)
    val base = events.select(col("event_id"), col("user_id"), col("event_type"))
    LakeTable.commit(spark, root, base.filter(col("event_id") % 3 =!= 0), cfg,
      Seq("event_id", "user_id"))
    LakeTable.renameColumn(root, "user_id", "uid")
    LakeTable.dropColumn(root, "event_type")
    val later = base.filter(col("event_id") % 3 === 0)
      .select(col("event_id"), col("user_id").as("uid"))
    LakeTable.commit(spark, root, later, cfg.copy(partitionCol = "uid"), Seq("event_id"))
    val got = LakeTable.read(spark, root)
    assert(got.columns.toSeq === Seq("event_id", "uid"))
    val expect = base.filter(col("event_id") % 3 =!= 0)
      .select(col("event_id"), col("user_id").as("uid")).unionByName(later)
    assert(rows(got) === rows(expect))
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: equality, positional and deletion-vector deletes in one read") {
    val root = graft.util.Scratch.dir("graft_mread_del_")
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 128)
    val first = events.filter(col("event_id") < 600)
    val later = events.filter(col("event_id") >= 600)
    LakeTable.commit(spark, root, first, cfg, Seq("event_id"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 10 === 3))
    LakeTable.deleteWhere(spark, root, "event_type",
      spark.range(1).select(lit("click").as("event_type")))
    LakeTable.deletePositionsDv(spark, root, LakeTable.withRowCoords(spark, root)
      .filter(col("event_id") % 10 === 7)
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx)))
    // a later append: no delete applies to its files
    LakeTable.commit(spark, root, later, cfg, Seq("event_id"))
    assert(LakeTable.manifest(root, LakeTable.currentSnapshot(root))
      .deletes.map(_.kind).toSet === Set("pos", "eq", "dv"))
    val expect = first.filter(col("event_id") % 10 =!= 3 &&
        col("event_id") % 10 =!= 7 && !(col("event_type") <=> lit("click")))
      .unionByName(later)
    assert(rows(LakeTable.read(spark, root)) === rows(expect))
    assert(rows(spark.read.format("graft-lake").load(root)) === rows(expect))
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: every row coordinate names its manifest path and row index") {
    val root = manyFileTable("graft_mread_coords_")
    val m = LakeTable.manifest(root, 1)
    val perFile = LakeTable.withRowCoords(spark, root)
      .groupBy(col(LakeTable.CoordPath))
      .agg(count(lit(1)).as("n"), min(col(LakeTable.CoordIdx)).as("lo"),
        max(col(LakeTable.CoordIdx)).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(perFile.keySet === m.files.map(_.path).toSet)
    m.files.foreach { f =>
      assert(perFile(f.path) === ((f.rows, 0L, f.rows - 1)), f.path)
    }
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: a multi-commit changelog attributes each insert to its commit") {
    val root = graft.util.Scratch.dir("graft_mread_cl_")
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 128)
    (0 until 3).foreach { k =>
      LakeTable.commit(spark, root, events.filter(col("event_id") % 3 === k), cfg,
        Seq("event_id"))
    }
    val cl = LakeTable.changelogRead(spark, root, 0, 3)
    assert(cl.filter(col("_change_type") =!= "insert").isEmpty)
    val expect = events.withColumn("_change_snap", (col("event_id") % 3 + 1).cast("int"))
    assert(rows(cl.drop("_change_type")) === rows(expect))
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: a mixed avro and parquet table reads both planes") {
    val root = graft.util.Scratch.dir("graft_mread_avro_")
    val cfg = BlockWriter.Config("user_id", "event_id", maxRecordsPerFile = 256)
    LakeTable.appendAvro(spark, root, events.filter(col("event_id") < 500), Seq("event_id"))
    LakeTable.commit(spark, root, events.filter(col("event_id") >= 500), cfg, Seq("event_id"))
    val paths = LakeTable.manifest(root, 2).files.map(_.path)
    assert(paths.exists(_.endsWith(".avro")) && paths.exists(_.endsWith(".parquet")))
    assert(rows(LakeTable.read(spark, root)) === rows(events))
    graft.util.Scratch.rmNow(root)
  }

  test("read matrix: entries without a recorded size are sized by a stat") {
    val root = manyFileTable("graft_mread_nobytes_")
    // a copy of the table's metadata whose entries carry no size, as
    // manifests written before sizes were recorded do
    val copy = graft.util.Scratch.dir("graft_mread_nobytes_copy_")
    val from = java.nio.file.Paths.get(root, "meta")
    val to = java.nio.file.Paths.get(copy, "meta")
    java.nio.file.Files.createDirectories(to)
    val walk = java.nio.file.Files.list(from)
    try walk.forEach { p =>
      val text = java.nio.file.Files.readString(p)
        .replace(from.toString, to.toString)
        .replaceAll("\"bytes\":[0-9]+", "\"bytes\":-1")
      java.nio.file.Files.writeString(to.resolve(p.getFileName), text)
    } finally walk.close()
    val files = LakeTable.manifest(copy, 1).files
    assert(files.nonEmpty && files.forall(_.bytes == -1L))
    val sized = LakeTable.manifest(root, 1).files
    assert(files.map(LakeTable.fileBytes) === sized.map(_.bytes))
    val got = LakeTable.read(spark, copy)
    val Seq(rel) = relationsOf(got)
    assert(rel.sizeInBytes === relationsOf(listedRead(root)).head.sizeInBytes)
    assert(rows(got) === rows(LakeTable.read(spark, root)))
    graft.util.Scratch.rmNow(copy)
    graft.util.Scratch.rmNow(root)
  }
}
