package perfbench

import org.json4s._

/** One benchmark workload: a repeatable setup, a measured phase, the
  * per-layer figures it owns and its correctness checks. */
abstract class Workload(val ctx: Ctx, name: String) {
  val result = new Result(name)

  /** Generates the inputs the program reads (not timed). */
  def prepare(): Unit = ()
  /** Builds this workload's state from scratch; `rep` counts the repeats. */
  def setup(rep: Int): Unit
  /** Untimed work between the setups and the measured phase. */
  def warmUp(): Unit = ()
  def measure(): Unit
  /** Per-layer figures beyond the engine, JVM and memo ones. */
  def layers(): Unit = ()
  def verify(): Unit

  /** Root spans of the measured iterations. */
  protected def measuredRoots(v: SpanView): Seq[Span] =
    v.spans.filter(s => s.parent == 0 && s.trace >= result.firstMeasuredTrace)

  def opRoots(v: SpanView): Seq[Span] = measuredRoots(v)

  /** The run's op latency and the number of ops it is taken from: by
    * default the median of the untraced ops (of the traced ones in a run
    * that has none). */
  def opEstimate: (Double, Int) = {
    val ops = if (result.untracedOps.nonEmpty) result.untracedOps else result.tracedOps
    (Stats.median(ops.toSeq), ops.size)
  }

  /** Attaches or detaches the tracer for iteration `i` and opens its trace. */
  protected def beginIteration(i: Int): Boolean = {
    val traced = ctx.traced && i % 2 == 0
    if (traced) ctx.tracer.attach() else ctx.tracer.detach()
    val t = ctx.tracer.newTrace()
    if (result.firstMeasuredTrace == Int.MaxValue) result.firstMeasuredTrace = t
    traced
  }

  protected def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  /** Setup runs this many times per run; setup_s is their median. */
  val SetupReps = 3
}

/** Engine, JVM and memo figures shared by every workload. Engine figures
  * are per measured, traced operation. */
object Layers {
  def engineAndJvm(ctx: Ctx, wl: Workload, jvm: (Double, Double, Double)): Unit = {
    val r = wl.result
    val v = new SpanView(ctx.tracer)
    val roots = wl.opRoots(v)
    val n = math.max(1, roots.size).toDouble
    val c = new Counters
    roots.foreach(s => c.add(v.inclusive(s)))
    val wall = roots.map(_.wallS).sum
    val driverOnly = roots.map(v.driverOnlyS).sum
    r.layer("spark.jobs", c.jobs / n, "count")
    r.layer("spark.stages", c.stages / n, "count")
    r.layer("spark.tasks", c.tasks / n, "count")
    r.layer("spark.executor_run_s", c.runMs / 1e3 / n, "s")
    r.layer("spark.executor_cpu_s", c.cpuNs / 1e9 / n, "s")
    r.layer("spark.gc_s", c.gcMs / 1e3 / n, "s")
    r.layer("spark.shuffle_fetch_wait_s", c.fetchWaitMs / 1e3 / n, "s")
    r.layer("spark.shuffle_write_mb", c.shuffleWriteB / 1048576.0 / n, "MB")
    r.layer("spark.shuffle_read_mb", c.shuffleReadB / 1048576.0 / n, "MB")
    r.layer("spark.input_mb", c.inputB / 1048576.0 / n, "MB")
    r.layer("spark.spill_mb", c.spillB / 1048576.0 / n, "MB")
    r.layer("spark.driver_only_s", driverOnly / n, "s")
    r.layer("spark.busy_frac", if (wall > 0) 1.0 - driverOnly / wall else 0.0, "ratio")
    r.layer("jvm.heap_peak_mb", jvm._1, "MB")
    r.layer("jvm.code_cache_mb", jvm._2, "MB")
    r.layer("jvm.gc_s", jvm._3, "s")
    val traced = r.tracedOps.toSeq
    val untraced = r.untracedOps.toSeq
    r.layer("trace.e2e_s", Stats.mean(traced), "s")
    r.layer("trace.untraced_e2e_s", Stats.mean(untraced), "s")
    r.layer("trace.overhead_frac",
      if (traced.nonEmpty && untraced.nonEmpty) Stats.median(traced) / Stats.median(untraced) - 1.0
      else 0.0, "ratio")
  }

  /** FrameMemo traffic during the measured phase only. */
  def frameMemo(r: Result, before: Seq[(String, Long, Long, Double)],
      after: Seq[(String, Long, Long, Double)]): Unit = {
    val b = before.map(m => m._1 -> m).toMap
    var hits, recomputes = 0L
    var buildS = 0.0
    after.foreach { case (name, h, rc, s) =>
      val (h0, rc0, s0) = b.get(name).map(m => (m._2, m._3, m._4)).getOrElse((0L, 0L, 0.0))
      hits += h - h0
      recomputes += rc - rc0
      buildS += s - s0
    }
    r.layer("core.frame_memo.hits", hits.toDouble, "count")
    r.layer("core.frame_memo.recomputes", recomputes.toDouble, "count")
    r.layer("core.frame_memo.build_s", buildS, "s")
  }

  /** Every span with its self time and the counters charged to it. */
  def spanJson(ctx: Ctx): Seq[JValue] = {
    val v = new SpanView(ctx.tracer)
    v.spans.map { s =>
      val c = v.selfCounters(s)
      JObject(
        "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
        "trace" -> JInt(s.trace),
        "start_ms" -> JDouble(ctx.tracer.wallMs(s.startNs)),
        "end_ms" -> JDouble(ctx.tracer.wallMs(s.endNs)),
        "wall_s" -> JDouble(s.wallS), "self_s" -> JDouble(v.selfS(s)),
        "driver_only_s" -> JDouble(v.driverOnlyS(s)),
        "jobs" -> JInt(c.jobs), "stages" -> JInt(c.stages), "tasks" -> JInt(c.tasks),
        "executor_run_s" -> JDouble(c.runMs / 1e3), "executor_cpu_s" -> JDouble(c.cpuNs / 1e9),
        "gc_s" -> JDouble(c.gcMs / 1e3), "shuffle_fetch_wait_s" -> JDouble(c.fetchWaitMs / 1e3),
        "shuffle_write_mb" -> JDouble(c.shuffleWriteB / 1048576.0),
        "shuffle_read_mb" -> JDouble(c.shuffleReadB / 1048576.0),
        "input_mb" -> JDouble(c.inputB / 1048576.0), "output_mb" -> JDouble(c.outputB / 1048576.0),
        "spill_mb" -> JDouble(c.spillB / 1048576.0))
    }
  }
}
