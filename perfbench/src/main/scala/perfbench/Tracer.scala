package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer. Times are epoch nanoseconds. */
final case class Span(id: Int, name: String, parent: Int, workload: String,
    runId: String, round: Int, start: Long, end: Long, codegen: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark's own counters for the jobs that ran inside one span (not its
  * children: those are attributed to the child).
  */
final class Counters {
  val jobs, stages, tasks, writeTasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, inputBytes, outputBytes =
    new AtomicLong
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** Span recorder for the traced run. Every call the benchmark makes into a
  * layer goes through [[span]]; the span id rides a Spark local property, so
  * the jobs, stages and tasks that call starts (including those of a
  * streaming query started inside it, whose thread inherits the property)
  * are attributed to it by the listener half of this class. Spans stay in
  * memory until [[write]]. A disabled tracer only runs the body.
  */
final class Tracer(spark: SparkSession, workload: String, val runId: String,
    val enabled: Boolean) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var round = 0

  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Last value of every observe() group, by name. */
  val observed = new ConcurrentHashMap[String, Map[String, Any]]()

  private val observer = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        observed.put(name, row.schema.fieldNames.map(n => n -> row.getAs[Any](n)).toMap)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(this)
    spark.listenerManager.register(observer)
  }

  def detach(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(observer)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      stack = id :: stack
      counters.put(id, new Counters)
      val cg0 = PerfbenchAccess.codegenCompiles
      val t0 = nowNs()
      try body
      finally {
        val t1 = nowNs()
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
        spans += Span(id, name, parent, workload, runId, round, t0, t1,
          PerfbenchAccess.codegenCompiles - cg0)
      }
    }

  /** Wait for the listener bus so every counter of the spans so far is in. */
  def drain(): Unit = PerfbenchAccess.drainListenerBus(sc)

  def all: Seq[Span] = spans.toSeq

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    s +: kids.flatMap(subtree)
  }

  def sum(s: Span)(f: Counters => Long): Long =
    subtree(s).map(x => f(counters.get(x.id))).sum

  /** Span wall minus the union of the intervals of the jobs it (or any
    * span below it) ran: time the driver alone was busy or idle.
    */
  def driverOnlySeconds(s: Span): Double = {
    val jobs = subtree(s).flatMap(x => counters.get(x.id).jobIntervals.asScala)
    Stats.selfTime(s.start, s.end, jobs) / 1e9
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    Stats.selfTime(s.start, s.end,
      spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq) / 1e9

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { id =>
      jobSpan.put(e.jobId, id)
      jobStart.put(e.jobId, e.time)
      counters.get(id).jobs.incrementAndGet()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { id =>
      counters.get(id).jobIntervals.add(
        (jobStart.get(e.jobId) * 1000000L, e.time * 1000000L))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { id =>
      stageSpan.put(e.stageInfo.stageId, id)
      counters.get(id).stages.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = counters.get(id)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        if (m.outputMetrics.bytesWritten > 0) c.writeTasks.incrementAndGet()
      }
    }

  /** All spans, one JSON object a line, with each span's own counters. */
  def write(file: java.io.File): Unit = {
    drain()
    val lines = spans.sortBy(_.start).map { s =>
      val c = counters.get(s.id)
      Json.render(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "workload" -> s.workload, "run_id" -> s.runId, "round" -> s.round,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs.get,
        "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "executor_run_ms" -> c.runMs.get, "executor_cpu_ns" -> c.cpuNs.get,
        "gc_ms" -> c.gcMs.get, "shuffle_write_bytes" -> c.shuffleWrite.get,
        "shuffle_read_bytes" -> c.shuffleRead.get, "spill_bytes" -> c.spill.get,
        "input_bytes" -> c.inputBytes.get, "output_bytes" -> c.outputBytes.get,
        "codegen_compiles" -> s.codegen))
    }
    java.nio.file.Files.write(file.toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"

  private val offsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Epoch nanoseconds on the monotonic clock, comparable with the epoch
    * milliseconds Spark stamps on job events.
    */
  def nowNs(): Long = System.nanoTime() + offsetNs
}
