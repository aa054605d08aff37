package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans and Spark's epoch-millisecond event times share one
  * axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans the benchmark records around its own calls into a module's
  * public functions. Kept in memory, written out at the end. With
  * tracing off, `span` only runs its body.
  */
final class Spans(val on: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, module: String,
      name: String, t0: Double, t1: Double)
  val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 1
  @volatile var op: Int = -1

  def span[T](module: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, op, module, name, t0, Clock.nowMs)
      }
    }

  def toJson: Seq[Map[String, Any]] = done.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "module" -> s.module,
    "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1))
}

/** Micro-batch progress of every streaming query — needed in every run:
  * a continuous drain's per-batch visibility times come from here.
  */
final class Progress extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(Map(
      "run_id" -> p.runId.toString,
      "batch_id" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Driver stack sampler: every `periodMs`, the stack of each client
  * thread (the benchmark's main thread and the streaming query threads),
  * reduced to the innermost `graft.<module>` frame and whether it runs
  * under auto-maintenance. Streaming micro-batch jobs all carry the call
  * site of their query's start, so this is what attributes them (and the
  * driver time between them) to a module. Observes from outside; nothing
  * in the engine is instrumented.
  */
final class Sampler(periodMs: Int) extends Thread("perfbench-sampler") {
  setDaemon(true)
  final case class Sample(t: Double, thread: String, module: String, frame: String,
      maint: Boolean)
  val periodMillis: Int = periodMs
  val samples = ArrayBuffer.empty[Sample]
  @volatile private var running = true
  private val main = Thread.currentThread()

  // thread-group enumeration takes no stacks, unlike Thread.getAllStackTraces
  private val root: ThreadGroup =
    Iterator.iterate(main.getThreadGroup)(_.getParent).takeWhile(_ != null).toSeq.last

  private def clientThreads(): Seq[Thread] = {
    val all = new Array[Thread](root.activeCount() * 2 + 16)
    main +: all.take(root.enumerate(all, true)).toSeq
      .filter(_.getName.startsWith("stream execution thread"))
  }

  private def moduleOf(cls: String): String = {
    val p = cls.split('.')
    if (p.length > 2) s"graft.${p(1)}" else "graft"
  }

  override def run(): Unit = {
    while (running) {
      val t = Clock.nowMs
      clientThreads().foreach { th =>
        val st = th.getStackTrace
        // a thread blocked on a streaming query's end is not working
        if (st.nonEmpty && th.getState != Thread.State.TERMINATED &&
            !st.exists(_.getMethodName == "awaitTermination")) {
          val top = st.find(f => f.getClassName.startsWith("graft.") ||
            f.getClassName.startsWith("perfbench."))
          val module = top.map(_.getClassName).map(c =>
            if (c.startsWith("graft.")) moduleOf(c) else "perfbench").getOrElse("spark")
          val frame = top.map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse("")
          val maint = st.exists(_.getClassName.startsWith("graft.lake.AutoMaintain"))
          samples.synchronized(samples += Sample(t, th.getName, module, frame, maint))
        }
      }
      Thread.sleep(periodMs.toLong)
    }
  }

  def finish(): Unit = { running = false; join() }

  def toJson: Seq[Map[String, Any]] = samples.synchronized(samples.toSeq).map(s =>
    Map("t" -> s.t, "thread" -> s.thread, "module" -> s.module, "frame" -> s.frame,
      "maint" -> s.maint))
}

/** Spark's public scheduler and query-execution events, kept in memory:
  * jobs with their call site and task totals, and the planning phases
  * of every executed query.
  */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val start: Long, val callSite: String,
      val stages: Seq[Int]) {
    var end = 0L
    var tasks = 0L
    var shuffleWrite = 0L
    var bytesRead = 0L
    var recordsRead = 0L
    var runMs = 0L
    var gcMs = 0L
    var ok = true
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time, site, e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      val m = info.taskMetrics
      j.tasks += info.numTasks
      if (m != null) {
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.bytesRead += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    plans.add(Map("func" -> funcName, "start_ms" -> start,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "exec_ms" -> durationNs / 1e6))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def jobsJson: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
    "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "call_site" -> j.callSite,
    "stages" -> j.stages.size, "tasks" -> j.tasks, "shuffle_write" -> j.shuffleWrite,
    "bytes_read" -> j.bytesRead, "records_read" -> j.recordsRead,
    "run_ms" -> j.runMs, "gc_ms" -> j.gcMs, "ok" -> j.ok))
}
