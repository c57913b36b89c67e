package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Graph}

/** A single dashboard client in a closed loop over read-only board
  * entries of `graft.SparkEntry.queries`, in seeded shuffled rounds (every
  * entry once per round: one dashboard load). Nothing is written.
  *
  * Setup copies the tables to a fresh directory and opens each one. After
  * the setups an untimed reference pass runs every entry once, which also
  * builds the board's own shared frames (its FrameMemos), so the loop
  * measures the per-query planning and scheduling floor plus memo hits.
  * Then, untimed, the cold dedup chain `Dedup.pairShingleStats` ->
  * `jaccardFromStats` -> `Graph.connectedComponents` ->
  * `Graph.keepersByWeight` runs at the board's parameters as plain operator
  * calls, with no memo, for its layer figures and the keeper check. */
final class DashboardReads(ctx: Ctx) extends Workload(ctx, "dashboard_reads") {
  import DashboardReads._
  private val spark = ctx.spark
  private var dir = ""
  private val warm = mutable.LinkedHashMap.empty[String, Digest]
  private val rng = new scala.util.Random(ctx.seedFor(10))
  private val mismatches = mutable.ArrayBuffer.empty[String]
  /** Per measured untraced load: each entry's latency. */
  private val loads = mutable.ArrayBuffer.empty[Map[String, Double]]

  private var stats: DataFrame = _
  private var chainKeepers: Digest = _

  private def entry(n: String): DataFrame = graft.SparkEntry.queries(n)(spark, dir)

  def setup(rep: Int): Unit = {
    // each repeat reads a fresh copy of the tables, so nothing cached for
    // an earlier directory is reused, and the board's memos (keyed by
    // session and directory) start cold in the reference pass
    dir = ctx.dir(s"dash/tables$rep")
    Tables.foreach { t =>
      NioFiles.copy(new File(ctx.dataDir, s"$t.parquet").toPath, new File(dir, s"$t.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val tables = graft.core.Tables(spark, dir)
    Seq(tables.events, tables.orders, tables.customer, tables.lineitem, tables.documents)
      .foreach(_.count())
  }

  /** The reference pass, then the cold dedup chain (traced in a traced
    * run). A traced run then makes one load it does not record, so that
    * the traced and untraced loads it compares are equally warm; an
    * untraced run needs none, as its op latency takes each entry's best
    * time over its loads. */
  override def warmUp(): Unit = {
    ctx.tracer.detach()
    Entries.foreach(n => warm(n) = Hash.forceDigest(entry(n)))
    ctx.tracer.newTrace()
    if (ctx.traced) ctx.tracer.attach()
    val t0 = System.nanoTime()
    chainKeepers = ctx.tracer.span("dedup_chain")(coldChain())
    result.sample("dedup_chain_s", (System.nanoTime() - t0) / 1e9)
    ctx.tracer.detach()
    if (ctx.traced) {
      ctx.tracer.newTrace()
      load(record = false)
    }
  }

  /** One op is one dashboard load: every entry once, in a seeded shuffled
    * order; its latency is the sum of the entries' latencies. Whole loads
    * until the run's seconds are used, at least two (in a traced run one
    * traced and one untraced). */
  def measure(): Unit = {
    val t0 = System.nanoTime()
    var round = 0
    var queryS = 0.0
    while (round < MinLoads || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = beginIteration(round)
      val times = ctx.tracer.span("dashboard_reads.load")(load(record = true))
      val t = times.values.sum
      result.op(t, traced)
      if (!traced) loads += times
      queryS += t
      round += 1
    }
    result.throughput = (round * Entries.size / queryS, "1/s")
  }

  /** A load's latency with each entry at its best: the sum over the
    * entries of each entry's least latency over the run's untraced loads.
    * A stall that hits one query of one load does not count. */
  override def opEstimate: (Double, Int) =
    (Entries.map(n => loads.map(_(n)).min).sum, loads.size)

  /** One dashboard load; returns each query's latency. Every result is
    * checked against its reference-pass digest. */
  private def load(record: Boolean): Map[String, Double] = rng.shuffle(Entries).map { n =>
    var d: Digest = null
    val t = timed { d = ctx.tracer.span(s"queries.$n")(Hash.forceDigest(entry(n))) }
    if (record) {
      result.sample("query_s", t)
      result.sample(s"queries.${n}_s", t)
    }
    result.attempted += 1
    if (d != warm(n)) mismatches += s"$n: warm=${warm(n)} now=$d"
    n -> t
  }.toMap

  override def opRoots(v: SpanView): Seq[Span] =
    measuredRoots(v).filter(_.name == "dashboard_reads.load")

  override def layers(): Unit = {
    val v = new SpanView(ctx.tracer)
    val loads = opRoots(v).map(_.id).toSet
    val queries = v.spans.filter(s => loads.contains(s.parent))
    Entries.foreach { n =>
      val xs = queries.filter(_.name == s"queries.$n").map(_.wallS)
      result.layer(s"queries.${n}_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
    }
    val n = math.max(1, queries.size).toDouble
    val c = new Counters
    queries.foreach(s => c.add(v.inclusive(s)))
    result.layer("queries.jobs_per_query", c.jobs / n, "count")
    result.layer("queries.stages_per_query", c.stages / n, "count")
    // the cold dedup chain
    val chains = v.spans.filter(_.name == "dedup_chain")
    val ids = chains.map(_.id).toSet
    val m = math.max(1, chains.size).toDouble
    def part(name: String) = v.spans.filter(s => s.name == name && v.ancestors(s).exists(ids.contains))
    def self(name: String) = part(name).map(v.selfS).sum / m
    result.layer("operators.dedup.pair_stats_s", self("operators.dedup.pair_stats"), "s")
    result.layer("operators.graph.components_s", self("operators.graph.components"), "s")
    result.layer("operators.graph.keepers_s", self("operators.graph.keepers"), "s")
    result.layer("operators.graph.cc_jobs",
      part("operators.graph.components").map(s => v.selfCounters(s).jobs).sum / m, "count")
    val cand = stats.count()
    val matched = Dedup.jaccardFromStats(stats, Threshold).count()
    result.layer("operators.dedup.candidate_pairs", cand.toDouble, "count")
    result.layer("operators.dedup.match_ratio", if (cand > 0) matched.toDouble / cand else 0.0, "ratio")
  }

  def verify(): Unit = {
    result.failed += math.max(0, mismatches.size - 1)
    result.check("dashboard_reads.hashes", mismatches.isEmpty,
      s"seed=${ctx.seed} " + (if (mismatches.nonEmpty) mismatches.mkString("; ")
      else warm.map { case (k, d) => s"$k=$d" }.mkString(" ")))
    // the cold chain's keepers against the board entry over the same
    // directory, which reads the board's own memoized clusters
    val board = warm("d6_dedup_keepers")
    result.check("dashboard_reads.dedup_keepers", chainKeepers == board && board.rows > 0,
      s"seed=${ctx.seed} board=$board chain=$chainKeepers")
    warm.foreach { case (k, d) => result.digests(k) = d.toString }
  }

  /** The cold dedup chain; returns the keepers' digest. */
  private def coldChain(): Digest = {
    val docs = graft.core.Tables(spark, dir).documents
    stats = ctx.tracer.span("operators.dedup.pair_stats") {
      Dedup.pairShingleStats(docs, "doc_id", "text", "source", n = 3, maxDf = Some(100))
        .localCheckpoint(true)
    }
    val cc = ctx.tracer.span("operators.graph.components") {
      Graph.connectedComponents(docs.select("doc_id"), Dedup.jaccardFromStats(stats, Threshold),
        "doc_id", "id_a", "id_b")
    }
    ctx.tracer.span("operators.graph.keepers") {
      Hash.forceDigest(Graph.keepersByWeight(cc, docs, "doc_id", "n_chars"))
    }
  }
}

object DashboardReads {
  val Entries = Seq("a2_daily_rollup", "a3_privacy_rollup", "a10_freshness",
    "a22_latency_quantiles", "j3_interval_join", "w3_range_frame_30d",
    "d5_neardup_clusters", "d6_dedup_keepers")
  val Threshold = 0.5
  val MinLoads = 2
  val Tables = Seq("events", "orders", "customer", "lineitem", "documents")
}
