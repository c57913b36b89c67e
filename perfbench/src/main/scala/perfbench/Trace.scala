package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task and stage counters charged to one Spark job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWriteB, shuffleReadB, inputB, outputB, spillB = 0L
  /** Wall-clock (ms) intervals during which one of the group's stages ran. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    inputB += o.inputB; outputB += o.outputB; spillB += o.spillB
    stageIntervals ++= o.stageIntervals
  }
}

/** One micro-batch as reported by StreamingQueryProgress. */
final case class BatchProgress(runId: String, batchId: Long, rows: Long, durations: Map[String, Long])

/** Charges Spark task metrics and stage intervals to the job group that
  * submitted them. The tracer gives every span its own job group, and a
  * streaming query runs under a group named after its run id, so the
  * counters can be resolved to spans once the bus has drained. */
final class EngineListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val c = counters(g)
      c.stages += 1
      for (s <- info.submissionTime; f <- info.completionTime) c.stageIntervals += ((s, f))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.inputB += m.inputMetrics.bytesRead
      c.outputB += m.outputMetrics.bytesWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Counters] = synchronized(byGroup.toMap)
}

final class ProgressListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[BatchProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0)
      batches += BatchProgress(p.runId.toString, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def snapshot: Seq[BatchProgress] = synchronized(batches.toList)
}

/** A traced call into one layer: name, wall interval, parent and the id of
  * the workload iteration (trace) it belongs to. */
final class Span(val id: Int, val name: String, val parent: Int, val trace: Int, val startNs: Long) {
  var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-side tracer. Disabled, it only runs the body (plus the planted
  * delay of the self-test), so untraced runs pay nothing. Enabled, every
  * span sets a Spark job group of its own, and the listeners attached by
  * [[attach]] charge task metrics to it. Spans stay in memory until the
  * report is written. Spans are opened and closed on the driver's main
  * thread only. */
final class Tracer(spark: SparkSession, plant: Option[(String, Long)]) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceSeq = 0
  private var currentTrace = 0
  /** Streaming run id -> the span that started the query. */
  private val streamRuns = mutable.HashMap.empty[String, Int]
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis()

  val engine = new EngineListener
  val progress = new ProgressListener
  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(engine)
    spark.streams.addListener(progress)
    attached = true
  }

  /** Stops tracing after delivering every event posted so far. */
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(engine)
    spark.streams.removeListener(progress)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.BusBridge.drain(sc)

  /** Starts a new trace id: one per workload iteration. */
  def newTrace(): Int = { traceSeq += 1; currentTrace = traceSeq; currentTrace }

  def open(name: String): Option[Span] = {
    val s = if (attached) {
      val sp = new Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0),
        currentTrace, System.nanoTime())
      spans += sp
      stack = sp :: stack
      sc.setJobGroup(s"pb-${sp.id}", name, interruptOnCancel = false)
      Some(sp)
    } else None
    plant.foreach { case (target, ms) => if (target == name) Thread.sleep(ms) }
    s
  }

  def close(s: Option[Span]): Unit = s.foreach { sp =>
    sp.endNs = System.nanoTime()
    require(stack.headOption.contains(sp), s"span ${sp.name} closed out of order")
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** Charges the jobs of a streaming query (which Spark runs under a job
    * group named after its run id) to the innermost open span. */
  def adoptStream(runId: java.util.UUID): Unit =
    stack.headOption.foreach(sp => streamRuns(runId.toString) = sp.id)

  def wallMs(ns: Long): Double = milli0 + (ns - nano0) / 1e6

  def allSpans: Seq[Span] = spans.toList

  /** Counters charged directly to each span (self), after a bus drain. */
  def selfCounters(): Map[Int, Counters] = {
    drain()
    val out = mutable.HashMap.empty[Int, Counters]
    engine.snapshot.foreach { case (g, c) =>
      val id =
        if (g.startsWith("pb-")) g.stripPrefix("pb-").toIntOption
        else streamRuns.get(g)
      id.foreach(i => out.getOrElseUpdate(i, new Counters).add(c))
    }
    out.toMap
  }

  def streamSpan(runId: String): Option[Int] = streamRuns.get(runId)
}

/** Derived per-span figures: self time, inclusive counters and the time in
  * which no stage of the span (or its children) was running. */
final class SpanView(tracer: Tracer) {
  val spans: Seq[Span] = tracer.allSpans.filter(_.endNs >= 0)
  private val self = tracer.selfCounters()
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  private val byId = spans.map(s => s.id -> s).toMap

  def selfCounters(s: Span): Counters = self.getOrElse(s.id, new Counters)

  /** Ids of the span's parent, grandparent, ... up to its root. */
  def ancestors(s: Span): Seq[Int] =
    Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(0)).takeWhile(_ != 0).toSeq

  def selfS(s: Span): Double = s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum

  def inclusive(s: Span): Counters = {
    val c = new Counters
    c.add(selfCounters(s))
    children.getOrElse(s.id, Nil).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Span wall minus the union of its stages' active intervals. */
  def driverOnlyS(s: Span): Double = {
    val lo = tracer.wallMs(s.startNs)
    val hi = tracer.wallMs(s.endNs)
    val iv = inclusive(s).stageIntervals
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { busy += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) busy += curB - curA
    math.max(0.0, (hi - lo - busy) / 1e3)
  }
}
