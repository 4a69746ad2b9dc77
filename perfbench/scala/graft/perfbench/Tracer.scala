package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call into a graft module, plus Spark listener
  * records. Everything stays in memory until [[dump]].
  *
  * A span carries name, start, end, parent id, workload, iteration and
  * seed. Spark jobs become child spans of the module span that was open
  * when they were submitted: the client is one thread, so the job group
  * the tracer sets names that span, and a job whose group was replaced
  * (streaming queries run under their own run-id group) is attributed by
  * submission time instead and counted as unattributed-by-group.
  *
  * Listeners are registered only while a traced iteration runs, except
  * the streaming input-row counter, which every run needs for its
  * events/s metric and which does no more than add one number per batch.
  */
final class Tracer(spark: SparkSession, workload: String, seed: Long) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  /** stage id → job id, and per-stage task sums (run, cpu, ...) */
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobRec = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Map[String, Any]]()
  val inputRows = new AtomicLong(0)

  /** Wall clock in ms with sub-ms resolution, comparable with the
    * listener events' epoch-ms timestamps.
    */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowMs: Double = (System.nanoTime() + epochNs) / 1e6

  /** Time the client thread spent in span bookkeeping, ns. */
  var ownNanos = 0L

  private var on = false
  def enabled: Boolean = on
  def enabled_=(v: Boolean): Unit = if (v != on) {
    on = v
    if (v) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    } else {
      // deliver the events still queued for the last traced jobs first
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
  spark.streams.addListener(streamListener)

  /** Run `body` inside a span (a no-op wrapper when tracing is off). */
  def span[A](name: String, iteration: Int)(body: => A): A =
    if (!on) body
    else {
      val a0 = System.nanoTime()
      val s = Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L), name,
        iteration, nowMs)
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(s"perfbench-${s.id}", name)
      ownNanos += System.nanoTime() - a0
      try body
      finally {
        val b0 = System.nanoTime()
        s.endMs = nowMs
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, stack.headOption.map(_.name).getOrElse(""))
        ownNanos += System.nanoTime() - b0
      }
    }

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val m = new java.util.concurrent.ConcurrentHashMap[String, Any]()
      m.put("job", e.jobId)
      m.put("start_ms", e.time.toDouble)
      m.put("group", Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
      m.put("stages", e.stageIds.size)
      Seq("tasks", "run_ms", "cpu_ns", "shuffle_write_b", "shuffle_read_b", "spill_b", "gc_ms")
        .foreach(k => m.put(k, 0L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobRec.put(e.jobId, m)
      jobs.add(m)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobRec.remove(e.jobId)).foreach(_.put("end_ms", e.time.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobRec.get(j)))
      val tm = e.taskMetrics
      m.foreach { r =>
        def add(k: String, v: Long): Unit = r.put(k, r.get(k).asInstanceOf[Long] + v)
        add("tasks", 1)
        if (tm != null) {
          add("run_ms", tm.executorRunTime)
          add("cpu_ns", tm.executorCpuTime)
          add("shuffle_write_b", tm.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_b", tm.shuffleReadMetrics.totalBytesRead)
          add("spill_b", tm.memoryBytesSpilled + tm.diskBytesSpilled)
          add("gc_ms", tm.jvmGCTime)
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val m = new java.util.HashMap[String, Any]()
      m.put("end_ms", nowMs)
      m.put("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
      plans.add(m)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      inputRows.addAndGet(p.numInputRows)
      if (on) {
        val m = new java.util.HashMap[String, Any]()
        m.put("end_ms", nowMs)
        m.put("input_rows", p.numInputRows)
        Option(p.durationMs).foreach(_.asScala.foreach { case (k, v) => m.put(s"d_$k", v.longValue) })
        m.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
        m.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
        batches.add(m)
      }
    }
  }

  /** Wait for the listener bus, then hand every record to run.py. */
  def dump(): java.util.Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("seed", seed)
    out.put("slots", spark.sparkContext.defaultParallelism)
    // the root span: the whole measured workload run
    val root = Span(0L, -1L, s"workload.$workload", -1,
      spans.headOption.map(_.startMs).getOrElse(nowMs),
      spans.lastOption.map(_.endMs).getOrElse(nowMs))
    out.put("spans", (root +: spans.toSeq).map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "iteration" -> s.iteration, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "workload" -> workload, "seed" -> seed).asJava
    }.asJava)
    out.put("jobs", jobs.asScala.toSeq.asJava)
    out.put("plans", plans.asScala.toSeq.asJava)
    out.put("batches", batches.asScala.toSeq.asJava)
    out
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, iteration: Int,
      startMs: Double, var endMs: Double = Double.NaN)
}
