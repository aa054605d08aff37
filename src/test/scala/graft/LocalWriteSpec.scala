package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DsV2Shim
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable
import graft.writer.BlockWriter

/** A hash-bucket commit of a frame the driver holds (a local relation)
  * is written on the driver with no Spark job, and lands exactly what
  * the job path lands for the same rows as a non-local frame: the
  * same bucket dirs, files per bucket, per-file rows in the same
  * order and the same bytes, the same manifest entries and bucket
  * spec, and the same rows read back.
  */
class LocalWriteSpec extends AnyFunSuite {
  import LocalWriteSpec.Landed
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("g", StringType),
    StructField("k", LongType),
    StructField("i", IntegerType),
    StructField("ts", TimestampType),
    StructField("d", DateType),
    StructField("dec", DecimalType(12, 3)),
    StructField("arr", ArrayType(IntegerType)),
    StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
    StructField("m", MapType(StringType, LongType))))

  /** Rows with 7 partition values, nulls in every column and a unique
    * key per row (so the in-file order has no ties to break).
    */
  private def rows(n: Int, from: Int = 0): Seq[Row] = (from until from + n).map { j =>
    def orNull[T](v: T): Any = if (j % 11 == 5) null else v
    Row(orNull(s"g${j % 7}"), if (j == from + 3) null else j.toLong,
      orNull(j % 5), orNull(java.sql.Timestamp.valueOf(f"2024-01-${1 + j % 9}%02d 10:00:00")),
      orNull(java.sql.Date.valueOf(f"2024-02-${1 + j % 6}%02d")),
      orNull(new java.math.BigDecimal(s"${j % 4}.125")),
      orNull(Seq(j % 3, j)), orNull(Row(j % 2, s"s$j")), orNull(Map(s"k${j % 2}" -> j.toLong)))
  }

  private def localFrame(rs: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(rs.asJava, s)

  private def jobFrame(rs: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), s)

  private def dataDirs(root: String): Set[Path] = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) Set.empty
    else Files.list(d).iterator().asScala.toSet
  }

  /** Everything a commit left in its staging dir, by path relative to
    * it (`_graft_bucket=K/part-…`), with the file's bytes.
    */
  private def staged(dir: Path): Seq[(String, Array[Byte])] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f))
      .toSeq.sortBy(_._1)

  private def land(root: String, df: DataFrame, cfg: BlockWriter.Config,
      statCols: Seq[String], bloomCols: Seq[String]): Landed = {
    val before = dataDirs(root)
    val snap = LakeTable.commit(spark, root, df, cfg, statCols, bloomCols = bloomCols)
    val dir = (dataDirs(root) -- before).toSeq match {
      case Seq(d) => d
      case other => fail(s"one staging dir per commit, got $other")
    }
    val m = LakeTable.manifest(root, snap)
    val added = m.files.filter(_.seq == snap).sortBy(_.path)
    val fileRows = added.map { f =>
      spark.read.parquet(f.path).collect().map(_.toString).toSeq
    }
    Landed(
      staged(dir).map { case (p, b) =>
        p.replaceAll("(part-\\d{5})-[0-9a-f-]{36}", "$1-*") -> b.toSeq },
      added.map(f => (f.bucket, f.rows, f.stats, f.bytes)),
      fileRows, (m.bucketCol, m.nBuckets),
      LakeTable.read(spark, root).collect().map(_.toString).toSeq.sorted)
  }

  /** Commit `rs` once as a local relation and once as a non-local
    * frame, each into a fresh table `prep` has set up, and assert the
    * two commits landed the same thing. Returns the local side.
    */
  private def twin(name: String, rs: Seq[Row], s: StructType = schema,
      cfg: BlockWriter.Config = BlockWriter.Config("g", "k", 4),
      statCols: Seq[String] = Seq("g", "k"), bloomCols: Seq[String] = Nil,
      prep: String => Unit = _ => (), project: DataFrame => DataFrame = identity)
      : Landed = {
    val local = project(localFrame(rs, s))
    val job = project(jobFrame(rs, s))
    assert(DsV2Shim.localRows(local).isDefined, s"$name: local frame")
    assert(DsV2Shim.localRows(job).isEmpty, s"$name: non-local frame")
    val Seq(l, j) = Seq(local, job).map { df =>
      val root = graft.util.Scratch.dir(s"graft_lw_${name}_")
      prep(root)
      land(root, df, cfg, statCols, bloomCols)
    }
    assert(l.files.map(_._1) === j.files.map(_._1), s"$name: staged files")
    l.files.zip(j.files).foreach { case ((p, lb), (_, jb)) =>
      assert(lb === jb, s"$name: bytes of $p")
    }
    assert(l.entries === j.entries, s"$name: manifest entries")
    assert(l.fileRows === j.fileRows, s"$name: per-file rows in file order")
    assert(l.spec === j.spec, s"$name: bucket spec")
    assert(l.read === j.read, s"$name: rows read back")
    l
  }

  private def bucketDirs(l: Landed): Set[String] =
    l.files.map(_._1).filter(_.contains("/")).map(_.takeWhile(_ != '/')).toSet

  test("type matrix: every partition column type buckets, sorts and writes as the job path does") {
    val rs = rows(60)
    Seq("g", "i", "ts", "d", "dec", "arr").foreach { p =>
      val l = twin(s"p_$p", rs, cfg = BlockWriter.Config(p, "k", 4),
        statCols = Seq("k", "i", "ts", "d"))
      assert(bucketDirs(l).size > 1, s"partition $p: ${bucketDirs(l)}")
    }
    // a struct key orders as Catalyst orders it
    twin("k_st", rs, cfg = BlockWriter.Config("g", "st", 4))
    // null partition keys hash to one bucket
    val l = twin("nulls", rs.filter(_.isNullAt(0)))
    assert(l.entries.map(_._1).distinct.size === 1)
  }

  test("a maxRecordsPerFile roll, a writeTasks hint and a projected local frame") {
    val rs = rows(80)
    val rolled = twin("roll", rs, cfg = BlockWriter.Config("g", "k", 3))
    assert(rolled.entries.forall(_._2 <= 3L))
    assert(rolled.files.exists(_._1.contains(".c002.")), "files rolled within a bucket")
    twin("hint", rs, cfg = BlockWriter.Config("g", "k", 4, writeTasks = Some(1)))
    twin("hint_par", rs, cfg = BlockWriter.Config("g", "k", 4, parallelism = Some(6),
      writeTasks = Some(2)))
    // a project and a filter over a local relation fold into one
    twin("projected", rs, project = df =>
      df.filter(col("k") > 10).withColumn("k2", col("k") * 2).drop("m"))
  }

  test("a column-mapped table, additive evolution and the bloom stats scan") {
    val base = rows(20, from = 1000)
    twin("mapped", rows(50), prep = root => {
      LakeTable.commit(spark, root, localFrame(base, schema),
        BlockWriter.Config("g", "k", 4), Seq("g", "k"))
      LakeTable.renameColumn(root, "g", "grp")
      LakeTable.renameColumn(root, "k", "key")
    }, project = _.withColumnRenamed("g", "grp").withColumnRenamed("k", "key"),
      cfg = BlockWriter.Config("grp", "key", 4), statCols = Seq("grp", "key"))
    val narrow = StructType(schema.fields.filterNot(_.name == "m"))
    twin("evolve", rows(50), prep = root =>
      LakeTable.commit(spark, root, localFrame(base.map(r => Row(r.toSeq.init: _*)), narrow),
        BlockWriter.Config("g", "k", 4), Seq("g", "k")): Unit)
    twin("bloom", rows(50), bloomCols = Seq("k"))
  }

  test("a non-default codec names and compresses the files as the job path does") {
    val l = twin("zstd", rows(40), cfg = BlockWriter.Config("g", "k", 4, compression = "zstd"))
    val data = l.files.map(_._1).filter(_.endsWith(".parquet"))
    assert(data.nonEmpty && data.forall(_.endsWith(".zstd.parquet")), data)
    val root = graft.util.Scratch.dir("graft_lw_codec_")
    LakeTable.commit(spark, root, localFrame(rows(40), schema),
      BlockWriter.Config("g", "k", 4, compression = "zstd"), Seq("k"))
    LakeTable.manifest(root, 1).files.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).foreach(c =>
        assert(c.getCodec === org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD))
      finally r.close()
    }
  }

  test("an empty local frame lands what the job path lands") {
    val l = twin("empty", Nil)
    assert(l.entries.isEmpty && l.read.isEmpty)
    assert(l.files.map(_._1).forall(p => !p.endsWith(".parquet")), l.files.map(_._1))
    // a skipIfEmpty commit of it leaves no snapshot and no staging dir
    val root = graft.util.Scratch.dir("graft_lw_skip_")
    LakeTable.commit(spark, root, localFrame(rows(10), schema),
      BlockWriter.Config("g", "k", 4), Seq("k"))
    val before = dataDirs(root)
    assert(LakeTable.commit(spark, root, localFrame(Nil, schema),
      BlockWriter.Config("g", "k", 4), Seq("k"), skipIfEmpty = true) === 1)
    assert(dataDirs(root) === before)
  }

  test("job budget: a commit of a local frame whose stats footers serve runs no Spark job") {
    val cfg = BlockWriter.Config("g", "k", 4)
    // the null-key bucket's file holds only null `g` values: its
    // footers serve every stat but `g`'s, which is omitted
    val rs = rows(60)
    val roots = Seq.fill(3)(graft.util.Scratch.dir("graft_lw_jobs_"))
    val Seq(localJobs, frameJobs) =
      Seq(localFrame(rs, schema), jobFrame(rs, schema)).zip(roots).map { case (df, root) =>
        SparkJobs.during(spark)(LakeTable.commit(spark, root, df, cfg, Seq("g", "k")): Unit).size
      }
    info(s"local commit $localJobs jobs, non-local commit $frameJobs jobs")
    assert(localJobs === 0)
    // the non-local frame keeps the shuffle and write jobs
    assert(frameJobs >= 2)
    // the stats scan (a bloom column forces it) records the same
    // entries, bloom aside
    LakeTable.commit(spark, roots(2), localFrame(rs, schema), cfg, Seq("g", "k"),
      bloomCols = Seq("k"))
    def entries(root: String) = LakeTable.manifest(root, 1).files.map(f =>
      (f.bucket, f.rows, f.stats.map { case (c, st) => c -> st.copy(bloom = "") },
        f.bytes)).toSet
    assert(entries(roots(0)).exists(e => !e._3.contains("g")), "an all-null g file")
    assert(entries(roots(0)) === entries(roots(2)))
  }
}

object LocalWriteSpec {

  /** What one commit lands: the staged files (bucket dir, file name
    * with its job id masked, bytes), the new manifest entries (bucket,
    * rows, stats, bytes) in path order, each file's rows in file
    * order, the manifest bucket spec and the rows read back.
    */
  final case class Landed(files: Seq[(String, Seq[Byte])],
      entries: Seq[(Int, Long, Map[String, LakeTable.ColStats], Long)],
      fileRows: Seq[Seq[String]], spec: (String, Int), read: Seq[String])
}
