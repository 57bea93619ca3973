package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Times are wall-clock milliseconds so they
  * compare with the timestamps Spark puts on its listener events. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startMs: Long, var endMs: Long = 0L, var wallNs: Long = 0L)

/** Spark counters summed over the jobs and queries attributed to one span
  * (inclusive of the span's children). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var planMs = 0L
  var jobBusyMs = 0L // span wall time covered by at least one running job

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    planMs += o.planMs; jobBusyMs += o.jobBusyMs
  }
}

/**
 * Spans around the benchmark's calls into the program's layers, plus the
 * Spark work each span caused, seen through a `SparkListener` (jobs,
 * stages, task metrics) and a `QueryExecutionListener` (analysis,
 * optimization and planning time).
 *
 * Attribution: entering a span sets the driver thread's job description to
 * `perfbench#<span id>`, so every job Spark starts inside it carries that
 * id; query-planning phases carry no description and are attributed to the
 * innermost span whose interval holds the phase's end. The driver calls
 * layers one at a time, so the time rule is exact.
 *
 * With tracing off, [[span]] runs its body and records nothing, and no
 * listener is registered.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var enabled = false

  private final class JobRec(val span: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val c = new Counters
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // (end of the last planning phase, summed planning ms) per executed query
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  private val Prefix = "perfbench#"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
        .orNull
      val span = if (desc != null && desc.startsWith(Prefix))
        desc.substring(Prefix.length).takeWhile(_.isDigit).toInt else -1
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => j.c.synchronized { j.c.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.c.synchronized {
          j.c.tasks += 1
          if (m != null) {
            j.c.executorRunMs += m.executorRunTime
            j.c.executorCpuNs += m.executorCpuTime
            j.c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            j.c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      if (ph.nonEmpty) plans.add((ph.values.map(_.endTimeMs).max, ms))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def isOn: Boolean = enabled

  def start(): Unit = if (!enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    enabled = true
  }

  /** Detaches the listeners; spans already recorded are kept. */
  def stop(): Unit = if (enabled) {
    require(stack.isEmpty, "stop() inside a span")
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    enabled = false
  }

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobDescription(Prefix + s.id + " " + name)
      val t0 = System.nanoTime()
      try body
      finally {
        s.wallNs = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setJobDescription(stack.headOption.map(p => Prefix + p.id + " " + p.name).orNull)
      }
    }

  /** Waits for the listener bus to deliver every event posted so far, then
    * sums each span's counters over its own and its children's work. */
  def counters(): Map[Int, Counters] = {
    org.apache.spark.SparkInternals.drainListenerBus(sc)
    val own = mutable.Map[Int, Counters]()
    def ancestors(id: Int): Iterator[Int] =
      Iterator.iterate(id)(i => spans(i).parent).takeWhile(_ >= 0)
    for (j <- jobs.values.asScala if j.span >= 0 && j.span < spans.size;
         a <- ancestors(j.span)) {
      val c = own.getOrElseUpdate(a, new Counters)
      c.synchronized { c += j.c; c.jobs += 1 }
    }
    plans.asScala.foreach { case (endMs, ms) =>
      spans.filter(s => s.startMs <= endMs && endMs <= s.endMs)
        .lastOption.foreach(s => ancestors(s.id).foreach { a =>
          own.getOrElseUpdate(a, new Counters).planMs += ms
        })
    }
    // time some job of the span was running, as a union of intervals
    val byAncestor = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
    for (j <- jobs.values.asScala if j.span >= 0 && j.span < spans.size && j.endMs >= 0;
         a <- ancestors(j.span))
      byAncestor.getOrElseUpdate(a, mutable.ArrayBuffer()) += ((j.startMs, j.endMs))
    byAncestor.foreach { case (a, ivs) =>
      val s = spans(a)
      var busy = 0L; var curS = -1L; var curE = -1L
      for ((st, en) <- ivs.map { case (x, y) => (x max s.startMs, y min s.endMs) }
           .filter { case (x, y) => y > x }.sortBy(_._1)) {
        if (st > curE) { busy += curE - curS; curS = st; curE = en }
        else curE = curE max en
      }
      busy += curE - curS
      own(a).jobBusyMs = busy
    }
    own.toMap
  }

  def all: Seq[Span] = spans.toSeq

  /** One JSON line per span with its inclusive counters. */
  def writeTrace(path: java.nio.file.Path, cs: Map[Int, Counters]): Unit = {
    val lines = spans.map { s =>
      val c = cs.getOrElse(s.id, new Counters)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallNs / 1e6,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "executor_run_ms" -> c.executorRunMs, "executor_cpu_ms" -> c.executorCpuNs / 1e6,
        "plan_ms" -> c.planMs, "job_busy_ms" -> c.jobBusyMs)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
