package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Timing hooks handed to every op. Untraced, a phase only evaluates its
  * block, so both modes run exactly the same engine calls. */
trait Phases {
  def apply[T](name: String)(f: => T): T
  def plan(p: SparkPlan): Unit
}

object Phases {
  val off: Phases = new Phases {
    def apply[T](name: String)(f: => T): T = f
    def plan(p: SparkPlan): Unit = ()
  }
}

/** One interval at a layer boundary. Times are wall-clock nanoseconds so
  * spans from the benchmark thread and from Spark's listener bus
  * (millisecond event times) share one clock. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long, label: String = "") {
  def dur: Long = math.max(0L, end - start)
}

/** Traced mode: a root span per op with `op.call`/`op.plan`/`op.action`
  * (or `io.*`) children, Spark job and stage spans nested under the phase
  * that submitted them, and counts from a SparkListener and a
  * StreamingQueryListener. Everything stays in memory until the end. */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  private val baseWall = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now: Long = baseWall + (System.nanoTime() - baseNano)

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var handlerNs = 0L
  @volatile private var lastEvent = System.nanoTime()
  private val planNodes = ArrayBuffer.empty[Int]
  private val planExchanges = ArrayBuffer.empty[Int]

  private final class JobRec(val id: Int, val start: Long, val parent: Long) {
    var end: Long = -1L
    val tasks = ArrayBuffer.empty[(Long, Long)]
  }
  private final class StageRec(val id: Int, val job: Int) {
    var start = -1L; var end = -1L
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var input = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private var cacheBlocks = 0L
  private var cacheBytes = 0L
  private var batches = 0L
  private var inputRows = 0L
  private val durs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private def handled[T](f: => T): T = {
    val t0 = System.nanoTime()
    try this.synchronized(f)
    finally {
      val t1 = System.nanoTime()
      this.synchronized(handlerNs += t1 - t0)
      lastEvent = t1
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = handled {
      val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = new JobRec(e.jobId, e.time * 1000000L, p)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = handled {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      handled {
        val i = e.stageInfo
        val s = stage(i.stageId, i.attemptNumber())
        s.start = i.submissionTime.map(_ * 1000000L).getOrElse(-1L)
        s.end = i.completionTime.map(_ * 1000000L).getOrElse(-1L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handled {
      val s = stage(e.stageId, e.stageAttemptId)
      val ti = e.taskInfo
      s.tasks += 1
      if (ti.failed || ti.killed) s.failed += 1
      jobs.get(s.job).foreach(_.tasks += ((ti.launchTime * 1000000L,
        ti.finishTime * 1000000L)))
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shufW += m.shuffleWriteMetrics.bytesWritten
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      handled {
        val b = e.blockUpdatedInfo
        if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
          cacheBlocks += 1
          cacheBytes += b.memSize + b.diskSize
        }
      }
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt),
      new StageRec(id, stageJob.getOrElse(id, -1)))

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      handled {
        batches += 1
        inputRows += e.progress.numInputRows
        val d = e.progress.durationMs
        Seq("triggerExecution", "queryPlanning", "walCommit").foreach { k =>
          if (d.containsKey(k)) durs(k) += d.get(k).longValue()
        }
      }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Detach the listeners once the bus has been quiet for a moment, so
    * the last job's and the last micro-batch's events are counted. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent < 500000000L &&
           System.nanoTime() < deadline) Thread.sleep(50)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  private def record(id: Long, parent: Long, trace: Long, name: String,
                     start: Long, label: String = ""): Unit = {
    val end = now
    this.synchronized(spans += Span(id, parent, trace, name, start, end, label))
  }

  private def reserve(): Long = this.synchronized { nextId += 1; nextId - 1 }

  /** A root span around one op; `f` gets phases that open child spans
    * and tag the jobs they submit with the phase's span id. */
  def op[T](name: String)(f: Phases => T): T = {
    val t0 = System.nanoTime()
    val rootId = reserve()
    val trace = rootId
    val start = now
    this.synchronized(handlerNs += System.nanoTime() - t0)
    val phases = new Phases {
      def apply[U](phase: String)(g: => U): U = {
        val id = reserve()
        val prev = sc.getLocalProperty(SpanKey)
        sc.setLocalProperty(SpanKey, id.toString)
        val s = now
        try g
        finally {
          record(id, rootId, trace, phase, s)
          sc.setLocalProperty(SpanKey, prev)
        }
      }
      def plan(p: SparkPlan): Unit = {
        // before execution an adaptive plan's current plan is its
        // initial physical plan, exchanges included
        val root = p match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        planNodes += root.collect { case n => n }.size
        planExchanges += root.collect { case x: Exchange => x }.size
      }
    }
    try f(phases)
    finally record(rootId, 0L, trace, "op", start, name)
  }

  def meanMs(name: String): Double = this.synchronized {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e6 / ss.size
  }

  /** A root span around work outside any op (the codec timings). */
  def span[T](name: String)(f: => T): T = {
    val id = reserve()
    val s = now
    try f finally record(id, 0L, 0L, name, s)
  }

  /** Jobs and stages as spans nested under the phase that submitted
    * them. A job without a tag (submitted from a thread that never saw
    * one) nests under the op span whose interval holds its start. */
  private def allSpans(): Seq[Span] = this.synchronized {
    val base = spans.toVector
    val ops = base.filter(_.name == "op").sortBy(_.start)
    def enclosingOp(t: Long): Long =
      ops.find(o => o.start <= t && t < o.end).map(_.id).getOrElse(0L)
    val byId = base.map(s => s.id -> s).toMap
    var id = nextId + 1000000L
    val jobSpans = jobs.values.filter(_.end >= 0).map { j =>
      val parent = if (byId.contains(j.parent)) j.parent else enclosingOp(j.start)
      id += 1
      j.id -> Span(id, parent, byId.get(parent).map(_.trace).getOrElse(0L),
        "spark.job", j.start, j.end)
    }.toMap
    val stageSpans = stages.values.filter(s => s.start >= 0 && s.end >= 0)
      .flatMap { s =>
        jobSpans.get(s.job).map { j =>
          id += 1
          Span(id, j.id, j.trace, "spark.stage", s.start, s.end)
        }
      }
    base ++ jobSpans.values ++ stageSpans
  }

  /** Duration minus the part of it covered by the span's children. */
  private def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - union(iv, s.start, s.end))
    }.toMap
  }

  /** Length of the union of intervals, clipped to [lo, hi). */
  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    covered + curE - curS
  }

  /** Per-layer metrics over the traced window, plus the span dump and
    * the self-time table for the report. */
  def report(nOps: Int, windowNs: Long, cores: Int)
      : (Seq[Metric], Seq[String], Seq[(String, Long, Double)]) = this.synchronized {
    val all = allSpans()
    val self = selfTimes(all)
    val ops = math.max(nOps, 1).toDouble
    def phaseMs(n: String) =
      all.filter(_.name == n).map(_.dur).sum / 1e6 / ops
    val windowJobs = jobs.values.filter(j => j.end >= 0 && j.parent != 0L).toSeq
    val jobIds = windowJobs.map(_.id).toSet
    val st = stages.values.filter(s => jobIds(s.job)).toSeq
    val waitNs = windowJobs.map(j => (j.end - j.start) -
      union(j.tasks.toSeq, j.start, j.end)).sum
    val runMs = st.map(_.runMs).sum
    val mb = 1024.0 * 1024.0
    val metrics = Seq(
      Metric("call_ms", phaseMs("op.call"), "ms"),
      Metric("plan_ms", phaseMs("op.plan"), "ms"),
      Metric("action_ms", phaseMs("op.action"), "ms"),
      Metric("plan_nodes", mean(planNodes.map(_.toDouble).toSeq), "count"),
      Metric("plan_exchanges", mean(planExchanges.map(_.toDouble).toSeq), "count"),
      Metric("jobs_per_op", windowJobs.size / ops, "count"),
      Metric("stages_per_op", st.size / ops, "count"),
      Metric("tasks_per_op", st.map(_.tasks).sum / ops, "count"),
      Metric("sched_wait_ms", waitNs / 1e6 / ops, "ms"),
      Metric("task_run_s", runMs / 1e3 / ops, "s"),
      Metric("task_cpu_s", st.map(_.cpuNs).sum / 1e9 / ops, "s"),
      Metric("gc_s", st.map(_.gcMs).sum / 1e3 / ops, "s"),
      Metric("core_busy_frac", runMs * 1e6 / (windowNs.toDouble * cores), "ratio"),
      Metric("shuffle_write_mb", st.map(_.shufW).sum / mb / ops, "MiB"),
      Metric("shuffle_read_mb", st.map(_.shufR).sum / mb / ops, "MiB"),
      Metric("spill_mb", st.map(_.spill).sum / mb / ops, "MiB"),
      Metric("input_mb", st.map(_.input).sum / mb / ops, "MiB"),
      Metric("tasks_failed", st.map(_.failed).sum.toDouble, "count"),
      Metric("cache_blocks", cacheBlocks / ops, "count"),
      Metric("cache_mb", cacheBytes / mb / ops, "MiB"),
      Metric("stream.batches", batches / ops, "count"),
      Metric("stream.input_rows", inputRows / ops, "count"),
      Metric("stream.trigger_ms", durs("triggerExecution") / ops, "ms"),
      Metric("stream.planning_ms", durs("queryPlanning") / ops, "ms"),
      Metric("stream.wal_ms", durs("walCommit") / ops, "ms"),
      Metric("trace.handler_ms", handlerNs / 1e6 / ops, "ms"),
      Metric("trace.spans", all.size.toDouble, "count"))
    val dump = all.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}","op":"${s.label}","start_ms":${s.start / 1e6}%.3f,"dur_ms":${s.dur / 1e6}%.3f,"self_ms":${self(s.id) / 1e6}%.3f}"""
    }
    val table = all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size.toLong, ss.map(s => self(s.id)).sum / 1e6)
    }.sortBy(-_._3)
    (metrics, dump, table)
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
