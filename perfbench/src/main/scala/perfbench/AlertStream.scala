package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.em.Fixtures
import graft.operators.Upsert
import graft.streaming.StreamingJobs

/** Open-loop ingest of NOAA alert files into a bronze table. One
  * generator thread lands one parquet file every `Period` seconds (written
  * elsewhere during setup, then renamed into the landing directory); the
  * main thread runs back-to-back `StreamingJobs.passThroughToBronze`
  * drains that share one checkpoint and upsert each new file into bronze.
  * Alert ids overlap across files, so most rows are updates, and the
  * bronze table grows for the whole run. An op is one landed file; its
  * latency is the ingest lag from the file's due time to the commit of the
  * drain that upserted it. */
final class AlertStream(ctx: Ctx) extends Workload(ctx, "alert_stream") {
  import AlertStream._
  private val spark = ctx.spark
  private var root = ""
  private var staging = ""
  private def landing = s"$root/landing"
  private def bronze = s"$root/bronze"
  private def checkpoint = s"$root/checkpoint"
  private var files = 0
  private val fileBytes = mutable.HashMap.empty[Int, Long]
  /** Which drain (and whether it was traced) committed each file, and when. */
  private val committed = mutable.HashMap.empty[Int, (Int, Boolean, Double)]
  private val drainSpans = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Long)]
  private var genLate = Seq.empty[Double]
  private var landedFiles = Seq.empty[Int]
  private var measuredFiles = Seq.empty[Int]

  private def fileName(i: Int) = f"alerts-$i%05d.parquet"
  /** Seconds during which measured files land: the run's seconds, at
    * least `MinWindowS`. They land after `WarmUpS` seconds of files that
    * are drained the same way but not measured. */
  private val window = math.max(ctx.seconds, MinWindowS)

  override def prepare(): Unit = {
    staging = ctx.dir("stream/staging")
    files = 1 + math.ceil((WarmUpS + window) / Period).toInt
    generate()
  }

  /** A fresh landing directory holding file 0, drained into a new bronze
    * table with a new checkpoint. */
  def setup(rep: Int): Unit = {
    root = ctx.dir(s"stream/r$rep")
    NioFiles.createDirectories(new File(landing).toPath)
    NioFiles.copy(new File(staging, fileName(0)).toPath, new File(landing, fileName(0)).toPath)
    committed.clear()
    drainSpans.clear()
    drain(-1, traced = ctx.traced)
  }

  /** Writes every file of the run to the staging directory: file 0 holds
    * `Initial` alerts, file i > 0 holds `PerFile` alerts of which
    * `UpdateShare` re-send an alert an earlier file carried. Each file
    * stamps its creation time on the run's clock into `processed_at`. */
  private def generate(): Unit = {
    val rng = new scala.util.Random(ctx.seedFor(20))
    var next = Initial
    val plan = mutable.ArrayBuffer.empty[(Int, Int)]
    (0 until Initial).foreach(a => plan += ((0, a)))
    (1 until files).foreach { f =>
      val ids = mutable.LinkedHashSet.empty[Int]
      val updates = (PerFile * UpdateShare).toInt
      while (ids.size < updates) ids += rng.nextInt(next)
      (0 until PerFile - updates).foreach { _ => ids += next; next += 1 }
      ids.foreach(a => plan += ((f, a)))
    }
    val pool = Fixtures.noaa(spark, next, ctx.seedFor(21))
      .withColumn("__a", regexp_extract(col("alert_id"), "([0-9]+)$", 1).cast("int"))
    import spark.implicits._
    val rows = plan.toSeq.toDF("__f", "__a")
      .join(pool, Seq("__a"))
      .withColumn("processed_at",
        (lit(Epoch.getTime / 1000.0) + col("__f") * lit(Period)).cast("timestamp"))
      .drop("__a")
    rows.repartition(col("__f")).write.partitionBy("__f").parquet(s"$staging/parts")
    (0 until files).foreach { f =>
      val part = new File(s"$staging/parts/__f=$f").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"file $f: ${part.length} parts")
      NioFiles.move(part.head.toPath, new File(staging, fileName(f)).toPath)
      fileBytes(f) = new File(staging, fileName(f)).length()
    }
    Fs.rm(new File(s"$staging/parts"))
  }

  private def land(i: Int): Unit =
    NioFiles.move(new File(staging, fileName(i)).toPath, new File(landing, fileName(i)).toPath,
      StandardCopyOption.ATOMIC_MOVE)

  /** One drain; returns the files it committed. */
  private def drain(id: Int, traced: Boolean): Seq[Int] = {
    val before = processed()
    val t0 = System.nanoTime()
    ctx.tracer.span("streaming.drain") {
      val q = StreamingJobs.passThroughToBronze(spark, landing, bronze, checkpoint,
        Seq("alert_id"), "processed_at", "headline")
      ctx.tracer.adoptStream(q.runId)
      q.awaitTermination()
    }
    val commitS = lastCommitS()
    val fresh = (processed() -- before).toSeq.sorted
    fresh.foreach(f => committed(f) = (id, traced, commitS))
    drainSpans += ((id, traced, (System.nanoTime() - t0) / 1e9, fresh.map(fileBytes).sum))
    fresh
  }

  /** Files the checkpoint's source log lists as read. */
  private def processed(): Set[Int] = {
    val dir = new File(s"$checkpoint/sources/0")
    val logs = Option(dir.listFiles()).getOrElse(Array.empty).filter(f => !f.getName.startsWith("."))
    logs.iterator.flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toList
    }.flatMap(l => "alerts-(\\d+)\\.parquet".r.findFirstMatchIn(l).map(_.group(1).toInt)).toSet
  }

  /** Wall time (epoch seconds) of the newest commit log entry. */
  private def lastCommitS(): Double = {
    val dir = new File(s"$checkpoint/commits")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith(".")).map(_.lastModified()).maxOption
      .getOrElse(System.currentTimeMillis()) / 1e3
  }

  /** Lands the files on schedule while draining back to back. Drains that
    * start before the measured window (the first `WarmUpS` seconds) warm
    * the drain path up and are neither traced nor recorded; files due in
    * the window are the measured ops. */
  def measure(): Unit = {
    val startMs = System.currentTimeMillis() + 200L
    val windowMs = startMs + (WarmUpS * 1000).toLong
    def dueS(i: Int): Double = startMs / 1e3 + (i - 1) * Period
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var landed = 0
    val gen = new Thread(() => {
      (1 until files).takeWhile(i => (i - 1) * Period < WarmUpS + window).foreach { i =>
        val wait = (dueS(i) * 1e3).toLong - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(i)
        late.add(System.currentTimeMillis() / 1e3 - dueS(i))
        landed = i
      }
    }, "perfbench-alert-generator")
    gen.setDaemon(true)
    gen.start()
    var d = 0
    var done = 0
    def pending = landed > done
    while (gen.isAlive || pending) {
      if (pending) {
        val fresh =
          if (System.currentTimeMillis() < windowMs) { ctx.tracer.detach(); drain(-2, traced = false) }
          else { val traced = beginIteration(d); d += 1; drain(d - 1, traced) }
        if (fresh.nonEmpty) done = math.max(done, fresh.max)
      } else Thread.sleep(2)
    }
    gen.join()
    genLate = late.toArray.toSeq.map(_.asInstanceOf[Double])
    landedFiles = (1 to landed)
    measuredFiles = landedFiles.filter(f => dueS(f) * 1e3 >= windowMs)
    drainSpans.filter(_._1 >= 0).foreach(d => result.sample("drain_s", d._3))
    System.err.println("perfbench: drains took " +
      drainSpans.filter(_._1 >= 0).map(d => f"${d._3}%.2f").mkString(" ") + " s")
    val t1 = System.currentTimeMillis() / 1e3
    measuredFiles.foreach { f =>
      val (_, traced, commitS) = committed(f)
      result.op(commitS - dueS(f), traced)
      result.sample("ingest_lag_s", commitS - dueS(f))
      result.attempted += 1
    }
    val rows = measuredFiles.size * PerFile
    val drainS = drainSpans.filter(_._1 >= 0).map(_._3).sum
    result.throughput = (rows / math.max(1e-9, drainS), "rows/s")
    result.scalars("drains") = (drainSpans.count(_._1 >= 0).toDouble, "count")
    result.scalars("window_s") = (t1 - windowMs / 1e3, "s")
  }

  override def opRoots(v: SpanView): Seq[Span] =
    measuredRoots(v).filter(_.name == "streaming.drain")

  override def layers(): Unit = {
    val v = new SpanView(ctx.tracer)
    val roots = opRoots(v)
    val ids = roots.map(_.id).toSet
    val batches = ctx.tracer.progress.snapshot.filter(b => ctx.tracer.streamSpan(b.runId).exists(ids.contains))
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L) / 1e3)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    result.layer("streaming.drains", roots.size.toDouble, "count")
    result.layer("streaming.batches", batches.size.toDouble, "count")
    result.layer("streaming.rows_per_batch_p50", p50(batches.map(_.rows.toDouble)), "count")
    val triggerByRun = batches.groupBy(_.runId).map { case (k, bs) =>
      k -> bs.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3).sum }
    val startCost = roots.map { s =>
      val runs = batches.filter(b => ctx.tracer.streamSpan(b.runId).contains(s.id)).map(_.runId).distinct
      s.wallS - runs.map(triggerByRun.getOrElse(_, 0.0)).sum
    }
    result.layer("streaming.drain_start_s_p50", p50(startCost), "s")
    result.layer("streaming.trigger_s_p50", p50(dur("triggerExecution")), "s")
    result.layer("streaming.trigger_s_p90",
      if (batches.isEmpty) 0.0 else Stats.q(dur("triggerExecution"), 0.9), "s")
    result.layer("streaming.add_batch_s_p50", p50(dur("addBatch")), "s")
    result.layer("streaming.query_planning_s_p50", p50(dur("queryPlanning")), "s")
    result.layer("streaming.wal_commit_s_p50", p50(dur("walCommit")), "s")
    result.layer("streaming.commit_offsets_s_p50", p50(dur("commitOffsets")), "s")
    result.layer("streaming.latest_offset_s_p50", p50(dur("latestOffset")), "s")
    result.layer("streaming.gen_late_p90_s", if (genLate.isEmpty) 0.0 else Stats.q(genLate, 0.9), "s")
    val c = new Counters
    roots.foreach(s => c.add(v.inclusive(s)))
    val landedB = drainSpans.filter(d => d._1 >= 0 && d._2).map(_._4).sum
    result.layer("operators.upsert.write_amp", c.outputB / math.max(1L, landedB).toDouble, "ratio")
    result.layer("operators.upsert.bronze_mb", Fs.size(new File(bronze)) / 1048576.0, "MB")
  }

  /** The bronze table must equal keep-latest-per-alert over every landed
    * file: no drain lost or duplicated an update. */
  def verify(): Unit = {
    val got = spark.read.parquet(bronze)
    val cols = got.columns.toSeq
    val want = Upsert.latestByKey(spark.read.parquet(landing), Seq("alert_id"), "processed_at", "headline")
      .select(cols.map(col): _*)
    val (a, b) = (Hash.forceDigest(got), Hash.forceDigest(want))
    val allCommitted = landedFiles.forall(committed.contains)
    result.check("alert_stream.bronze", a == b && allCommitted,
      s"seed=${ctx.seed} files=${landedFiles.size + 1} bronze=$a expected=$b")
    result.digests("bronze") = a.toString
  }
}

/** The traffic. Bronze starts at the NOAA feed's size at the EM board's
  * x100 scale (400 x 100 alerts). The reference triggers its pass-through
  * every 60 s; a run of a few seconds cannot wait for one trigger, so the
  * generator is a deliberate saturation rate instead: a file lands every
  * 0.1 s, ten times faster than one drain (about 1 s on 4 cores), so
  * every drain starts as soon as the previous one commits and picks up the
  * ten or so files that landed meanwhile. The ingest lag is then the queueing
  * behind a drain plus the drain itself, and both grow with whatever a
  * drain costs per batch, the full bronze rewrite included. A file holds
  * 500 alerts, small against bronze, three quarters of them updates, so
  * bronze grows slowly and a drain's cost is mostly that rewrite. */
object AlertStream {
  /** Seconds between two landed files. */
  val Period = 0.1
  /** Warm-up before the measured window: the first drains of a run are
    * slower (about 1.6, 1.3, 1.2 s, then about 1.0 s on 4 cores) while
    * the JIT catches up. */
  val WarmUpS = 4.0
  /** The shortest measured window: about six warm drains. */
  val MinWindowS = 6.0
  val Initial = 40000
  val PerFile = 500
  val UpdateShare = 0.75
  val Epoch = Timestamp.valueOf("2024-07-01 00:00:00")
}
