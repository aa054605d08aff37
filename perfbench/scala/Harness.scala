package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM: session, fixture, warm-up, the timed
  * closed loop of one workload, then the post-run state the checks need.
  *
  * Usage: `Harness <plan.json> <record.json>`. The plan (written by
  * run.py) names the workload, the generated input files and the sizes;
  * the record holds raw timings, listener events and answers. All metric
  * math and every correctness check happen in run.py.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new java.io.File(args(0)))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val env0 = envProbe()
    val ctx = new Ctx(plan)
    val sessionMs = Clock.nowMs
    val wl: Workload = plan.get("workload").asText match {
      case "ingest" => new Ingest(ctx)
      case "query" => new Query(ctx)
      case "upsert" => new Upsert(ctx)
      case "curate" => new Curate(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.setup()
    val fixtureMs = Clock.nowMs
    wl.warmup()
    ctx.spark.catalog.clearCache()
    val warmupMs = Clock.nowMs
    val fired0 = wl.roots.map(r => graft.lake.AutoMaintain.firedCounts(r))
    val heads0 = wl.roots.map(r => graft.lake.LakeTable.currentSnapshot(r))
    val gc0 = gcMs()
    val res0 = resources()
    val t0 = Clock.nowMs
    wl.run()
    val t1 = Clock.nowMs
    val res1 = resources()
    val gc1 = gcMs()
    val fired1 = wl.roots.map(r => graft.lake.AutoMaintain.firedCounts(r))
    ctx.sampler.foreach(_.finish())
    org.apache.spark.BusDrain(ctx.spark.sparkContext)
    val finish = wl.finish()
    val heapMb = retainedHeapMb()
    val env1 = envProbe()
    val rec = Map(
      "workload" -> wl.name,
      "env" -> Map("cpus" -> ctx.cpus, "load_avg_start" -> env0._1,
        "load_avg_end" -> env1._1, "calib_ms_start" -> env0._2,
        "calib_ms_end" -> env1._2, "java" -> System.getProperty("java.version"),
        "spark" -> ctx.spark.version,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "setup" -> Map("jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs,
        "fixture_ms" -> fixtureMs, "warmup_ms" -> warmupMs),
      "timed" -> Map("t0" -> t0, "t1" -> t1),
      "ops" -> ctx.ops.toSeq,
      "drains" -> ctx.drains.toSeq,
      "progress" -> ctx.progress.events.asScala.toSeq,
      "maint_fired" -> fired0.zip(fired1).map { case (a, b) =>
        (b._1 - a._1) + (b._2 - a._2) }.sum,
      "commits_timed" -> wl.roots.zip(heads0).map { case (r, h) =>
        graft.lake.LakeTable.currentSnapshot(r) - h }.sum,
      "lake" -> wl.roots.map(lakeStats),
      "gc_ms_timed" -> (gc1 - gc0),
      "resources_timed" -> res1.map { case (k, v) => k -> (v - res0(k)) },
      "heap_mb" -> heapMb,
      "finish" -> finish,
      "trace" -> ctx.events.map(ev => Map(
        "spans" -> ctx.spans.toJson, "jobs" -> ev.jobsJson,
        "samples" -> ctx.sampler.map(_.toJson).getOrElse(Nil),
        "sample_period_ms" -> ctx.sampler.map(_.periodMillis).getOrElse(0),
        "plans" -> ev.plans.asScala.toSeq)).getOrElse(Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(args(1)), rec)
    ctx.spark.stop()
  }

  /** Host load average and a fixed CPU calibration loop (xorshift over
    * 2^25 steps), so every record says how busy the box was.
    */
  def envProbe(): (Double, Double) = {
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 25)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("[perfbench] calibration sentinel")
    (load, ms)
  }

  /** Process CPU time, JIT compile time, page faults and generated-code
    * compilations so far. */
  def resources(): Map[String, Double] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    Map("cpu_ms" -> os.getProcessCpuTime / 1e6,
      "jit_ms" -> java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime.toDouble,
      "minflt" -> f(7).toDouble, "majflt" -> f(9).toDouble,
      // Janino compilations of generated code (cache misses of Spark's
      // codegen cache); each one is new bytecode for the JIT
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Driver heap in use after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Run-end shape of one lake table: live data and delete files at the
    * head, retained snapshots, and bytes under meta/ versus the rest.
    */
  def lakeStats(root: String): Map[String, Any] = {
    val head = graft.lake.LakeTable.currentSnapshot(root)
    val m = if (head > 0) Some(graft.lake.LakeTable.manifest(root, head)) else None
    def bytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    val meta = Paths.get(root, "meta")
    val snaps =
      if (!Files.isDirectory(meta)) 0
      else Files.list(meta).iterator.asScala
        .count(_.getFileName.toString.matches("manifest-\\d+\\.json"))
    // files added per appending commit, over the retained history
    val added = (1 to head).filter(i => Files.exists(meta.resolve(s"manifest-$i.json")))
      .map(i => graft.lake.LakeTable.manifest(root, i).files.count(_.seq == i)).filter(_ > 0)
    Map("root" -> root, "head" -> head,
      "files_per_commit" -> (if (added.isEmpty) 0.0 else added.sum.toDouble / added.size),
      "live_files" -> m.map(_.files.size).getOrElse(0),
      "delete_files" -> m.map(_.deletes.size).getOrElse(0),
      "snapshots" -> snaps, "meta_bytes" -> bytes(meta),
      "total_bytes" -> bytes(Paths.get(root)))
  }
}

/** Session, plan access, spans and the op log shared by the workloads. */
final class Ctx(val plan: JsonNode) {
  val cpus: Int = plan.get("cpus").asInt
  val work: String = plan.get("work").asText
  val lake: String = s"$work/lake"
  val trace: Boolean = plan.get("trace").asInt == 1
  val gen: JsonNode = plan.get("gen")
  val params: JsonNode = plan.get("params")

  val spark: SparkSession = {
    val s = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps 1000 jobs and stages by default and
      // trims them asynchronously, so its bookkeeping would sit in
      // retained_heap_mb at a size that depends on when the trim ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.root", lake))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val progress = new Progress
  spark.streams.addListener(progress)
  val spans = new Spans(trace)
  val events: Option[SparkEvents] =
    if (!trace) None
    else {
      val ev = new SparkEvents
      spark.sparkContext.addSparkListener(ev)
      spark.listenerManager.register(ev)
      Some(ev)
    }
  val sampler: Option[Sampler] = events.map { _ =>
    val s = new Sampler(periodMs = 10)
    s.start()
    s
  }

  val ops = ArrayBuffer.empty[mutable.Map[String, Any]]
  val drains = ArrayBuffer.empty[Map[String, Any]]

  def files(node: JsonNode): Seq[String] = node.elements.asScala.map(_.asText).toSeq
  def param(k: String): Int = params.get(k).asInt

  /** One timed client operation. Exceptions are recorded as a failed op
    * (and printed); the op record is returned for the caller to annotate.
    */
  def op[T](kind: String, items: Long)(body: => T): (Option[T], mutable.Map[String, Any]) = {
    val id = ops.size
    spans.op = id
    val t0 = Clock.nowMs
    val r = try Right(spans.span("harness", kind)(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.nowMs
    spans.op = -1
    val rec = mutable.Map[String, Any]("id" -> id, "kind" -> kind, "t0" -> t0,
      "t1" -> t1, "items" -> items, "ok" -> r.isRight)
    r.left.foreach { e =>
      System.err.println(s"[perfbench] op $id ($kind) failed: $e")
      e.printStackTrace()
      rec("err") = String.valueOf(e)
    }
    ops += rec
    (r.toOption, rec)
  }

  /** One streaming drain; its batches' visibility times come from the
    * progress events that fall inside [t0, t1].
    */
  def drain(timed: Boolean)(body: => Unit): Unit = {
    val t0 = Clock.nowMs
    val r = try { spans.span("harness", "drain")(body); None } catch { case NonFatal(e) => Some(e) }
    val t1 = Clock.nowMs
    r.foreach { e =>
      System.err.println(s"[perfbench] drain failed: $e")
      e.printStackTrace()
    }
    if (!timed) r.foreach(e => throw e)
    drains += Map("t0" -> t0, "t1" -> t1, "ok" -> r.isEmpty,
      "err" -> r.map(String.valueOf).orNull)
  }

  /** Make input files arrive in `inDir`, oldest first (the file source
    * reads in modification-time order).
    */
  def stage(files: Seq[String], inDir: String): Unit = {
    Files.createDirectories(Paths.get(inDir))
    val base = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(inDir, Paths.get(f).getFileName.toString)
      Files.copy(Paths.get(f), dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Lake roots the optimized plan of `df` reads. */
  def scanRoots(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2Relation => r.table
      case s: DataSourceV2ScanRelation => s.relation.table
    }.collect { case t: graft.sources.GraftLakeTable => Paths.get(t.root).toString }
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(rowValues)

  def rowValues(r: Row): Seq[Any] = (0 until r.length).map(i => r.get(i) match {
    case null => null
    case s: String => s
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case o => o.toString
  })
}

abstract class Workload(val ctx: Ctx) {
  def name: String
  def roots: Seq[String]
  def setup(): Unit
  def warmup(): Unit
  def run(): Unit
  def finish(): Map[String, Any]
  def spark: SparkSession = ctx.spark
}
