package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.lake.{AutoMaintain, LakeTable}
import graft.operators.MinhashIndex
import graft.streaming.{DedupStream, LakeStream}
import graft.writer.BlockWriter

object Location {
  val Ddl: String =
    """accuracy DOUBLE, altitude DOUBLE, altitudeAccuracy DOUBLE, course DOUBLE,
      |features ARRAY<STRING>, latitude DOUBLE, longitude DOUBLE, speed DOUBLE,
      |source STRING, `timestamp` BIGINT, user_id STRING""".stripMargin
  /** The reference layout: partition user_id, key timestamp, ≤4096 rows/file. */
  val Cfg: BlockWriter.Config = BlockWriter.Config("user_id", "timestamp", 4096)
}

/** Append-only streaming ingest: one continuous drain of Location batches
  * into a table with count-based compaction, manifest and expiry policies.
  */
final class Ingest(c: Ctx) extends Workload(c) {
  val name = "ingest"
  private val T = "graft.bench.locations"
  private val root = s"${c.lake}/bench/locations"
  private val inDir = s"${c.work}/in_ingest"
  private val ck = s"${c.work}/ck_ingest"
  private val all = c.files(c.gen.get("files"))
  private val warm = c.gen.get("warm_batches").asInt
  def roots: Seq[String] = Seq(root)

  def setup(): Unit = {
    spark.sql(s"""CREATE TABLE $T (${Location.Ddl}) PARTITIONED BY (user_id)
                 |TBLPROPERTIES ('${AutoMaintain.AutoCompactKey}' = '${c.param("autocompact_files")}',
                 |  '${AutoMaintain.AutoManifestKey}' = '${c.param("automanifest_parts")}')""".stripMargin)
    AutoMaintain.setPolicy(root, AutoMaintain.AutoExpireKey, c.param("autoexpire_keep").toLong)
  }

  private def drain(): Unit = c.spans.span("graft.streaming", "LakeStream.runOnceToLake") {
    LakeStream.runOnceToLake(spark, inDir, root, Location.Cfg, Seq("timestamp"),
      maxFilesPerTrigger = 1, checkpoint = ck): Unit
  }

  def warmup(): Unit = {
    c.stage(all.take(warm), inDir)
    c.drain(timed = false)(drain())
  }

  def run(): Unit = {
    c.stage(all.drop(warm), inDir)
    c.drain(timed = true)(drain())
  }

  def finish(): Map[String, Any] = {
    val head = LakeTable.currentSnapshot(root)
    Map(
      "per_user" -> c.rows(spark.sql(
        s"SELECT user_id, COUNT(*), MIN(`timestamp`), MAX(`timestamp`) FROM $T GROUP BY user_id")),
      "files" -> LakeTable.manifest(root, head).files.map { f =>
        val note = if (Files.exists(Paths.get(root, "meta", s"manifest-${f.seq}.json")))
          LakeTable.manifest(root, f.seq).note else null
        Seq(f.path, f.rows, note)
      })
  }
}

/** Read-only SQL mix against a table with a long history, outstanding
  * MoR delete files and an aggregate MV.
  */
final class Query(c: Ctx) extends Workload(c) {
  val name = "query"
  private val T = "graft.bench.trips"
  private val MV = "graft.bench.trips_mv"
  private val root = s"${c.lake}/bench/trips"
  private val mvRoot = s"${c.lake}/bench/trips_mv"
  private val snaps = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val ops = c.gen.get("ops").elements.asScala.toSeq
  private val warm = c.gen.get("warm_ops").asInt
  def roots: Seq[String] = Seq(root, mvRoot)

  def setup(): Unit = {
    spark.sql(s"CREATE TABLE $T (${Location.Ddl}) PARTITIONED BY (user_id)")
    c.gen.get("history").elements.asScala.foreach { h =>
      if (h.get("kind").asText == "append")
        spark.sql(s"INSERT INTO $T SELECT * FROM parquet.`${h.get("file").asText}`")
      else
        spark.sql(s"DELETE FROM $T WHERE `timestamp` IN (" +
          h.get("keys").elements.asScala.map(_.asLong).mkString(", ") + ")")
      snaps += LakeTable.currentSnapshot(root)
    }
    spark.sql(s"""CREATE MATERIALIZED VIEW $MV AS
                 |SELECT user_id, COUNT(*) AS n, MIN(`timestamp`) AS t_min,
                 |  MAX(`timestamp`) AS t_max FROM $T GROUP BY user_id""".stripMargin)
  }

  private def sql(o: com.fasterxml.jackson.databind.JsonNode): String =
    "\\{SNAP:(\\d+)\\}".r.replaceAllIn(o.get("sql").asText.replace("{T}", T),
      m => snaps(m.group(1).toInt).toString)

  private def exec(o: com.fasterxml.jackson.databind.JsonNode, timed: Boolean): Unit = {
    val kind = o.get("kind").asText
    val module = if (kind == "history") "graft.lake" else "graft.sources"
    if (!timed) { c.rows(spark.sql(sql(o))); return }
    var df: org.apache.spark.sql.DataFrame = null
    val (ans, rec) = c.op(s"query:$kind", 1) {
      c.spans.span(module, s"sql:$kind") {
        df = spark.sql(sql(o))
        c.rows(df)
      }
    }
    ans.foreach(a => rec("answer") = a)
    if (o.get("mv_eligible").asBoolean && df != null)
      rec("mv_hit") = c.scanRoots(df).contains(mvRoot)
  }

  def warmup(): Unit = ops.take(warm).foreach(exec(_, timed = false))
  def run(): Unit = ops.drop(warm).foreach(exec(_, timed = true))

  def finish(): Map[String, Any] = Map("snaps" -> snaps.toSeq)
}

/** CDC upserts beside reads: each step applies one CDC batch, every few
  * steps deletes a key set, refreshes a COUNT(DISTINCT) MV and reads the
  * MV-served answer.
  */
final class Upsert(c: Ctx) extends Workload(c) {
  val name = "upsert"
  private val T = "graft.bench.accounts"
  private val MV = "graft.bench.accounts_mv"
  private val root = s"${c.lake}/bench/accounts"
  private val mvRoot = s"${c.lake}/bench/accounts_mv"
  private val inDir = s"${c.work}/in_upsert"
  private val ck = s"${c.work}/ck_upsert"
  private val cfg = BlockWriter.Config("id", "id")
  private val steps = c.gen.get("steps").elements.asScala.toSeq
  private val warm = c.gen.get("warm_steps").asInt
  val Q = s"SELECT grp, COUNT(*) AS n, COUNT(DISTINCT uid) AS du FROM $T GROUP BY grp"
  def roots: Seq[String] = Seq(root, mvRoot)

  def setup(): Unit = {
    spark.sql(s"CREATE TABLE $T (id BIGINT, grp STRING, uid BIGINT, amount BIGINT, ver BIGINT)")
    spark.sql(s"INSERT INTO $T SELECT * FROM parquet.`${c.gen.get("base").asText}`")
    spark.sql(s"CREATE MATERIALIZED VIEW $MV AS $Q")
  }

  private def step(s: com.fasterxml.jackson.databind.JsonNode, timed: Boolean): Unit = {
    c.stage(Seq(s.get("file").asText), inDir)
    val keys = s.get("delete").elements.asScala.map(_.asLong).toSeq
    var df: org.apache.spark.sql.DataFrame = null
    def body(): Seq[Seq[Any]] = {
      c.spans.span("graft.streaming", "LakeStream.applyCdcToLake") {
        LakeStream.applyCdcToLake(spark, inDir, root, "id", "ver", cfg, Seq("id"),
          maxFilesPerTrigger = 1, checkpoint = ck)
      }
      if (keys.nonEmpty) c.spans.span("graft.sources", "sql:delete") {
        spark.sql(s"DELETE FROM $T WHERE id IN (${keys.mkString(", ")})")
      }
      c.spans.span("graft.lake", "refresh_mv") {
        spark.sql("CALL graft.system.refresh_mv(table => 'bench.accounts_mv')").collect()
      }
      c.spans.span("graft.sources", "sql:mv") {
        df = spark.sql(Q)
        c.rows(df)
      }
    }
    if (!timed) { body(); return }
    val (ans, rec) = c.op("step", s.get("rows").asLong)(body())
    ans.foreach(a => rec("answer") = a)
    if (df != null) rec("mv_hit") = c.scanRoots(df).contains(mvRoot)
    if (c.trace)
      rec("mv_mode") = spark.sql(s"SELECT mode FROM $MV.mv").head().getString(0)
  }

  def warmup(): Unit = steps.take(warm).foreach(step(_, timed = false))
  def run(): Unit = steps.drop(warm).foreach(step(_, timed = true))

  def finish(): Map[String, Any] = {
    val served = c.rows(spark.sql(Q))
    spark.conf.set("spark.graft.mv.rewrite", "false")
    val recomputed = c.rows(spark.sql(Q))
    spark.conf.set("spark.graft.mv.rewrite", "true")
    val out = s"${c.work}/out/final_upsert"
    spark.table(T).coalesce(1).write.parquet(out)
    Map("served" -> served, "recomputed" -> recomputed, "final_dir" -> out)
  }
}

/** Training-data curation: one continuous near-dup gated drain through
  * the persisted MinHash band index into a results table; the results
  * and index tables declare count-based compaction and manifest policies.
  */
final class Curate(c: Ctx) extends Workload(c) {
  val name = "curate"
  private val base = s"${c.lake}/curate/base"
  private val bands = s"${c.lake}/curate/bands"
  private val results = s"${c.lake}/curate/results"
  private val inDir = s"${c.work}/in_curate"
  private val ck = s"${c.work}/ck_curate"
  private val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20)
  private val all = c.files(c.gen.get("files"))
  private val warm = c.gen.get("warm_batches").asInt
  def roots: Seq[String] = Seq(results, bands, base)

  def setup(): Unit = {
    val corpus = MinhashIndex.baseOf(spark.read.parquet(c.gen.get("corpus").asText)).cache()
    LakeTable.commit(spark, base, corpus, cfg, Seq("doc_id"))
    LakeTable.commit(spark, bands, MinhashIndex.bandsOf(corpus), cfg, Seq("doc_id"))
    corpus.unpersist()
    Seq(results, bands).foreach { r =>
      AutoMaintain.setPolicy(r, AutoMaintain.AutoCompactKey, c.param("autocompact_files").toLong)
      AutoMaintain.setPolicy(r, AutoMaintain.AutoManifestKey, c.param("automanifest_parts").toLong)
    }
  }

  private def drain(): Unit = c.spans.span("graft.streaming", "DedupStream.runOnceDedupToLake") {
    DedupStream.runOnceDedupToLake(spark, inDir, results, bands, base, cfg,
      maxFilesPerTrigger = 1, checkpoint = ck): Unit
  }

  def warmup(): Unit = {
    c.stage(all.take(warm), inDir)
    c.drain(timed = false)(drain())
  }

  def run(): Unit = {
    c.stage(all.drop(warm), inDir)
    c.drain(timed = true)(drain())
  }

  def finish(): Map[String, Any] = Map(
    "kept" -> LakeTable.read(spark, results).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq)
}
