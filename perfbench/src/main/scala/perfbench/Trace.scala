package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work attributed to one span by the Spark listeners. */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val cpuNs = new AtomicLong
  val taskWaitMs = new AtomicLong
  val planMs = new AtomicLong
}

/** One timed call into the library, made from the benchmark's own code.
  * `startMs`/`endMs` are wall-clock, used to attribute Catalyst phase
  * times (which the query listener reports with wall-clock stamps);
  * durations use the monotonic clock.
  */
final class Span(val id: Long, val name: String, val parent: Option[Span]) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  @volatile var endMs: Long = Long.MaxValue
  var endNs: Long = 0L
  val children = mutable.ArrayBuffer.empty[Span]
  val counters = new Counters
  /** Spark jobs submitted while this span was active: (job id, submit
    * and end wall-clock ms, stage count). Filled by the listener.
    */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]
  def seconds: Double = (endNs - startNs) / 1e9
  /** Duration minus the part of it that child spans cover. */
  def selfSeconds: Double = seconds - children.map(_.seconds).sum
}

/** Spans kept in memory for the whole run. Every Spark job belongs to
  * the span active on the driver when the job was submitted: the span
  * id travels as a local property, which Spark copies onto every job
  * and stage submitted from that thread (and from the SQL execution
  * threads it spawns). Counters are only filled while the listeners are
  * attached; timing is always on.
  */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicLong
  private val byId = new ConcurrentHashMap[Long, Span]
  private val stack = mutable.Stack.empty[Span]
  val roots = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = new Span(nextId.incrementAndGet(), name, stack.headOption)
    byId.put(s.id, s)
    synchronized {
      stack.headOption match {
        case Some(p) => p.children += s
        case None => roots += s
      }
    }
    stack.push(s)
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(Tracer.Key, prior)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .flatMap(id => Option(byId.get(id.toLong)))

  /** Innermost span whose wall-clock interval holds `ms`. */
  private def spanAt(ms: Long): Option[Span] = synchronized {
    def inner(s: Span): Span =
      s.children.find(c => c.startMs <= ms && ms <= c.endMs).map(inner).getOrElse(s)
    roots.reverseIterator.find(r => r.startMs <= ms && ms <= r.endMs).map(inner)
  }

  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]

  private val sparkListener = new SparkListener {
    private val jobRecords = new ConcurrentHashMap[Int, Array[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.counters.jobs.incrementAndGet()
        val record = Array(e.jobId.toLong, e.time, 0L, e.stageInfos.size.toLong)
        jobRecords.put(e.jobId, record)
        s.jobs.add(record)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobRecords.remove(e.jobId)).foreach(_(2) = e.time)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val key = e.stageInfo.stageId
      spanOf(e.properties).foreach(stageSpan.put(key, _))
      stageSubmitMs.put(key, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.counters
        c.tasks.incrementAndGet()
        if (e.reason != Success) c.failedTasks.incrementAndGet()
        Option(stageSubmitMs.get(e.stageId)).foreach { submit =>
          c.taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submit))
        }
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  /** Catalyst phase times. Planning runs on the driver inside the call
    * that executes the plan, so the phase's start stamp places it in
    * the span that paid for it, even though the callback arrives later
    * on the listener thread.
    */
  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val at = Seq("planning", "optimization", "analysis").flatMap(phases.get)
        .headOption.map(_.startTimeMs)
      at.flatMap(spanAt).foreach(_.counters.planMs.addAndGet(ms))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Blocks until the listeners have seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Every span and every Spark job as one JSON line, parents before
    * children; a job's parent is the span it was submitted under.
    */
  def jsonLines: Seq[String] = {
    def lines(s: Span): Seq[String] = {
      val c = s.counters
      val span = Json.mapper.createObjectNode()
        .put("id", s.id)
        .put("name", s.name)
        .put("start_ms", s.startMs)
        .put("s", s.seconds)
        .put("self_s", s.selfSeconds)
        .put("jobs", c.jobs.get)
        .put("tasks", c.tasks.get)
        .put("failed_tasks", c.failedTasks.get)
        .put("shuffle_write_bytes", c.shuffleWriteBytes.get)
        .put("spill_bytes", c.spillBytes.get)
        .put("cpu_ns", c.cpuNs.get)
        .put("task_wait_ms", c.taskWaitMs.get)
        .put("plan_ms", c.planMs.get)
      s.parent match {
        case Some(p) => span.put("parent", p.id)
        case None => span.putNull("parent")
      }
      val jobLines = s.jobs.asScala.toSeq.map { case Array(id, submit, end, stages) =>
        Json.mapper.createObjectNode().put("job", id).put("parent", s.id)
          .put("submit_ms", submit).put("end_ms", end).put("stages", stages).toString
      }
      span.toString +: (jobLines ++ s.children.toSeq.flatMap(lines))
    }
    roots.toSeq.flatMap(lines)
  }
}

object Tracer {
  val Key = "perfbench.span"
}

object Json {
  val mapper = new ObjectMapper()
}
