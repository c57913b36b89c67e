package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Everything a workload needs: the session, the tracer, its seed-derived
  * inputs, a private work directory inside the checkout and the committed
  * result digests it must reproduce. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val dataDir: String,
    val workDir: String,
    val expected: Map[String, Map[String, String]]) {
  /** A seed for input stream `k`, derived from the workload seed. */
  def seedFor(k: Int): Long = seed * 1000003L + k
  def dir(name: String): String = {
    val f = new File(workDir, name)
    Fs.rm(f)
    f.mkdirs()
    f.getPath
  }
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum else f.length()
}

object Stats {
  /** Linear-interpolated quantile of the samples, q in [0, 1]. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What one run measured. Op samples are split by whether the tracer was
  * attached, so a traced run can report its own tracing overhead. */
final class Result(val workload: String) {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val untracedOps = mutable.ArrayBuffer.empty[Double]
  val tracedOps = mutable.ArrayBuffer.empty[Double]
  /** Workload-specific timing samples by their own name (query latencies, ...). */
  val named = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Workload-specific scalars by name, with their unit. */
  val scalars = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Result digests by name, compared across runs with the same seed. */
  val digests = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  /** The run's op latency (Workload.opEstimate) and its number of ops. */
  var opS = Double.NaN
  var opN = 0
  /** Throughput over the measured window: (work done, unit of work per second). */
  var throughput: (Double, String) = (0.0, "1/s")
  var spans: Seq[JValue] = Nil
  /** The trace id of the first measured iteration (setup traces come before). */
  var firstMeasuredTrace = Int.MaxValue

  def op(seconds: Double, traced: Boolean): Unit =
    (if (traced) tracedOps else untracedOps) += seconds
  def sample(name: String, v: Double): Unit =
    named.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) failed += 1
  }
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val dataDir = arg(args, "--data").getOrElse(sys.error("--data required"))
    val workDir = arg(args, "--work").getOrElse(sys.error("--work required"))
    val out = arg(args, "--out").getOrElse(sys.error("--out required"))
    val expected = arg(args, "--expected").map { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try {
        implicit val formats: Formats = DefaultFormats
        org.json4s.jackson.JsonMethods.parse(src.mkString).extract[Map[String, Map[String, String]]]
      } finally src.close()
    }.getOrElse(Map.empty)
    val plant = arg(args, "--plant").map { p =>
      val i = p.lastIndexOf(':')
      (p.substring(0, i), p.substring(i + 1).toLong)
    }

    val spark = graft.core.SparkSessionFactory.local("perfbench", defaultCpus = 4)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def since() = (System.currentTimeMillis() - jvmStart) / 1e3
    System.err.println(f"perfbench: session ready ${since()}%.1fs after JVM start")
    val tracer = new Tracer(spark, plant)
    val ctx = new Ctx(spark, tracer, seed, seconds, traced, dataDir, workDir, expected)
    val wl: Workload = workload match {
      case "em_nightly" => new EmNightly(ctx)
      case "dashboard_reads" => new DashboardReads(ctx)
      case "alert_stream" => new AlertStream(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val res = try {
      val r = wl.result
      wl.prepare()
      for (rep <- 0 until Workload.SetupReps) {
        val t0 = System.nanoTime()
        tracer.newTrace()
        if (traced) tracer.attach()
        tracer.span(s"setup.$workload")(wl.setup(rep))
        r.setupS += (System.nanoTime() - t0) / 1e9
      }
      wl.warmUp()
      System.err.println(f"perfbench: set up by ${since()}%.1fs")
      val jvm = JvmWindow.start()
      val memo0 = graft.core.FrameMemo.allStatsWithBuild
      wl.measure()
      if (traced) tracer.detach()
      val (opS, opN) = wl.opEstimate
      r.opS = opS
      r.opN = opN
      val memo1 = graft.core.FrameMemo.allStatsWithBuild
      if (traced) {
        Layers.engineAndJvm(ctx, wl, jvm.stop())
        Layers.frameMemo(r, memo0, memo1)
        wl.layers()
        r.spans = Layers.spanJson(ctx)
      }
      System.err.println(f"perfbench: measured by ${since()}%.1fs")
      wl.verify()
      System.err.println(f"perfbench: verified by ${since()}%.1fs")
      r
    } finally spark.stop()
    System.err.println(f"perfbench: stopped by ${since()}%.1fs")
    val json = Report.toJson(res, seed, seconds, traced, plant)
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(compact(render(json))) finally w.close()
  }
}

/** JVM heap, code cache and GC time over the measured window. */
final class JvmWindow(gc0: Long) {
  def stop(): (Double, Double, Double) = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
    val code = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    (heap / 1048576.0, code / 1048576.0, (JvmWindow.gcMs() - gc0) / 1e3)
  }
}

object JvmWindow {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def start(): JvmWindow = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    new JvmWindow(gcMs())
  }
}

object Report {
  private def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  def toJson(r: Result, seed: Long, seconds: Double, traced: Boolean,
      plant: Option[(String, Long)]): JValue = JObject(
    "workload" -> JString(r.workload),
    "seed" -> JInt(seed),
    "seconds" -> num(seconds),
    "trace" -> JBool(traced),
    "plant" -> plant.map { case (n, ms) => JString(s"$n:$ms") }.getOrElse(JNull),
    "setup_s" -> JArray(r.setupS.map(num).toList),
    "untraced_ops_s" -> JArray(r.untracedOps.map(num).toList),
    "traced_ops_s" -> JArray(r.tracedOps.map(num).toList),
    "op_s" -> num(r.opS),
    "op_n" -> JInt(r.opN),
    "throughput" -> JObject("value" -> num(r.throughput._1), "unit" -> JString(r.throughput._2)),
    "named" -> JObject(r.named.toList.map { case (k, v) => k -> JArray(v.map(num).toList) }),
    "scalars" -> JObject(r.scalars.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> num(v), "unit" -> JString(u)) }),
    "per_layer" -> JObject(r.perLayer.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> num(v), "unit" -> JString(u)) }),
    "checks" -> JArray(r.checks.toList.map { case (n, ok, d) =>
      JObject("name" -> JString(n), "ok" -> JBool(ok), "detail" -> JString(d)) }),
    "digests" -> JObject(r.digests.toList.map { case (k, v) => k -> JString(v) }),
    "attempted" -> JInt(r.attempted),
    "failed" -> JInt(r.failed),
    "first_measured_trace" -> JInt(r.firstMeasuredTrace),
    "spans" -> JArray(r.spans.toList)
  )
}
