package perfbench

import java.io.File
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Dag
import graft.em.{Fixtures, Marts, PublicLayer, Staging}
import graft.operators.Scd2

/** One refresh of the EM nightly DAG per iteration: the 16 nodes of
  * `graft.em.EmPipelineJob` (four staging views, eight marts/public/quality
  * tables and four SCD2 snapshot merges) run through `Dag.run` with the
  * partitioned parquet sink, over seeded fixture feeds written during
  * setup. Every iteration writes to a fresh output directory, so nothing
  * is reused between refreshes.
  *
  * The seed picks one of `FixtureSets` fixture sets; the gold-table
  * digests of each set are committed in `em_nightly_digests.json`, and
  * the last refresh of every run must reproduce them. */
final class EmNightly(ctx: Ctx) extends Workload(ctx, "em_nightly") {
  import EmNightly._
  private val spark = ctx.spark
  private var feeds = ""
  private var feedBytes = 0L
  private var gold = Map.empty[String, Digest]
  private var iteration = 0
  private val fixtureSet = java.lang.Math.floorMod(ctx.seed, FixtureSets.toLong)
  private def fixtureSeed(k: Int): Long = fixtureSet * 1000003L + k

  def setup(rep: Int): Unit = {
    feeds = ctx.dir(s"em/feeds$rep")
    def write(name: String, df: => DataFrame): Unit =
      ctx.tracer.span(s"em.fixtures.$name")(df.write.parquet(s"$feeds/$name.parquet"))
    write("fema", Fixtures.fema(spark, 400 * Multiplier, fixtureSeed(1)))
    write("noaa", Fixtures.noaa(spark, 400 * Multiplier, fixtureSeed(2)))
    write("coagmet", Fixtures.coagmet(spark, 12 * Multiplier, 120, AsOfDay, fixtureSeed(3)))
    write("usda", Fixtures.usda(spark, 6000 * Multiplier, fixtureSeed(4)))
    feedBytes = Fs.size(new File(feeds))
  }

  /** The EmPipelineJob DAG over the fixture feeds in `feeds`. */
  private def nodes: Seq[Dag.Node] = {
    def raw(name: String) = spark.read.parquet(s"$feeds/$name.parquet")
    def node(name: String, deps: Seq[String])(build: Map[String, DataFrame] => DataFrame) =
      Dag.Node(name, deps, d => { openNode(name); build(d) })
    val t2 = Timestamp.valueOf("2024-08-01 12:00:00")
    Seq(
      Dag.Node("stg_fema", Nil, _ => Staging.femaDisasters(raw("fema"), RunTs), materialize = false),
      Dag.Node("stg_noaa", Nil, _ => Staging.noaaWeather(raw("noaa"), RunTs), materialize = false),
      Dag.Node("stg_coagmet", Nil, _ => Staging.coagmetData(raw("coagmet"), RunTs), materialize = false),
      Dag.Node("stg_usda", Nil, _ => Staging.usdaData(raw("usda"), RunTs), materialize = false),
      node("emergency_events", Seq("stg_fema", "stg_noaa"))(
        d => Marts.emergencyEvents(spark, d("stg_fema"), d("stg_noaa"), RunTs)),
      node("weather_impacts", Seq("stg_coagmet", "stg_noaa"))(
        d => Marts.weatherImpacts(d("stg_coagmet"), d("stg_noaa"), AsOf, RunTs)),
      node("disaster_analytics", Seq("emergency_events", "stg_usda"))(
        d => Marts.disasterAnalytics(d("emergency_events"), d("stg_usda"), AsOf, RunTs)),
      node("public_disasters", Seq("emergency_events"))(
        d => PublicLayer.publicDisasters(d("emergency_events"), AsOf, RunTs)),
      node("public_weather_alerts", Seq("stg_noaa"))(
        d => PublicLayer.publicWeatherAlerts(d("stg_noaa"), AsOf, RunTs)),
      node("public_agricultural_data", Seq("stg_usda"))(
        d => PublicLayer.publicAgriculturalData(d("stg_usda"), AsOf)),
      node("public_agricultural_summary", Seq("public_agricultural_data"))(
        d => PublicLayer.publicAgriculturalSummary(d("public_agricultural_data"))),
      node("data_quality_metrics", Seq("stg_fema", "stg_noaa", "stg_coagmet", "stg_usda"))(
        d => PublicLayer.dataQualityMetrics(Seq(
          ("fema", d("stg_fema"), "disaster_number", "processed_at"),
          ("noaa", d("stg_noaa"), "alert_id", "processed_at"),
          ("coagmet", d("stg_coagmet"), "station_id", "processed_at"),
          ("usda", d("stg_usda"), "commodity_name", "processed_at")), RunTs)),
      node("disaster_declarations_snapshot", Seq("stg_fema")) { d =>
        val base = Scd2.init(d("stg_fema").filter(col("disaster_number").cast("int") % 2 === 0),
          "processed_at")
        Scd2.merge(base, Staging.femaDisasters(raw("fema"), t2), Seq("disaster_number"), "processed_at")
      },
      node("weather_alerts_snapshot", Seq("stg_noaa")) { d =>
        val k = regexp_extract(col("alert_id"), "([0-9]+)$", 1).cast("int")
        val base = Scd2.init(d("stg_noaa").filter(k % 2 === 0), "processed_at")
        Scd2.merge(base, Staging.noaaWeather(raw("noaa"), t2), Seq("alert_id"), "processed_at",
          invalidateHardDeletes = true, deleteTs = Some(t2))
      },
      node("agricultural_risk_snapshot", Seq("stg_usda")) { d =>
        val keys = Seq("program_year", "state_code", "county_code", "commodity_name")
        def collapse(src: DataFrame) = src
          .groupBy(keys.map(col): _*)
          .agg(max("loss_category").as("loss_category"),
            max("premium_amount_usd").as("premium_amount_usd"),
            max("indemnity_amount_usd").as("indemnity_amount_usd"),
            first("processed_at").as("processed_at"))
        val base = Scd2.init(collapse(d("stg_usda")), "processed_at")
        Scd2.merge(base, collapse(Staging.usdaData(raw("usda"), t2)), keys, "processed_at",
          invalidateHardDeletes = true, deleteTs = Some(t2))
      },
      node("emergency_events_summary_snapshot", Seq("emergency_events")) { d =>
        val ev = d("emergency_events")
        val base = Scd2.init(
          ev.filter(regexp_extract(col("event_id"), "([0-9]+)$", 1).cast("int") % 2 === 0),
          "last_updated")
        Scd2.merge(base, ev.withColumn("last_updated", lit(t2)), Seq("event_id"), "last_updated")
      }
    )
  }

  private var openSpan: Option[Span] = None
  private def openNode(name: String): Unit = openSpan = ctx.tracer.open(s"core.dag.$name")

  /** The EmPipelineJob sink: overwrite, partition the two date-keyed marts,
    * re-read so downstream nodes consume the written table. The node span
    * opened by the build closure ends when its table is written. */
  private def sink(out: String)(name: String, df: DataFrame): DataFrame =
    try {
      val w = df.write.mode("overwrite")
      PartitionKey.get(name).fold(w)(w.partitionBy(_)).parquet(s"$out/$name")
      spark.read.parquet(s"$out/$name")
    } finally { ctx.tracer.close(openSpan); openSpan = None }

  /** A traced run first makes one untraced refresh it does not record, so
    * that the traced and untraced refreshes it compares are equally warm. */
  override def warmUp(): Unit = if (ctx.traced) {
    ctx.tracer.detach()
    ctx.tracer.newTrace()
    Fs.rm(new File(refresh()._2))
  }

  /** Refreshes until the run's seconds are used up, at least twice. In an
    * untraced run the first refresh is cold (class loading, JIT, code
    * generation) and the second warm: the JIT work shifts between the two
    * from run to run, their sum much less. A traced run alternates traced
    * and untraced refreshes, so it measures its own tracing overhead. */
  def measure(): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var last = ""
    while (i < MinRefreshes || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = beginIteration(i)
      if (last.nonEmpty) Fs.rm(new File(last))
      val (t, out) = refresh()
      System.err.println(f"perfbench: refresh $i took $t%.1fs")
      result.op(t, traced)
      last = out
      i += 1
    }
    // the last refresh's gold tables are read back and hashed, untimed
    result.attempted += Gold.size
    gold = Hash.tableDigests(spark, Gold.map(g => g -> s"$last/$g"))
    Fs.rm(new File(last))
    result.throughput = (i / (result.untracedOps.sum + result.tracedOps.sum), "1/s")
  }

  /** One refresh into a fresh directory, so nothing is reused; returns its
    * wall time and the directory. */
  private def refresh(): (Double, String) = {
    val out = ctx.dir(s"em/out$iteration")
    iteration += 1
    (timed(ctx.tracer.span("core.dag.run")(Dag.run(nodes, sink(out)))), out)
  }

  override def layers(): Unit = {
    val v = new SpanView(ctx.tracer)
    val runs = opRoots(v)
    val n = math.max(1, runs.size).toDouble
    val runIds = runs.map(_.id).toSet
    val nodeSpans = v.spans.filter(s => runIds.contains(s.parent))
    Gold.foreach { g =>
      result.layer(s"core.dag.${g}_s",
        nodeSpans.filter(_.name == s"core.dag.$g").map(_.wallS).sum / n, "s")
    }
    val e2e = runs.map(_.wallS).sum / n
    result.layer("core.dag.overhead_s", e2e - nodeSpans.map(_.wallS).sum / n, "s")
    val c = new Counters
    runs.foreach(s => c.add(v.inclusive(s)))
    result.layer("em.read_amp", c.inputB / n / math.max(1L, feedBytes).toDouble, "ratio")
    result.layer("sources.output_mb", c.outputB / 1048576.0 / n, "MB")
  }

  /** The last refresh must give each gold table the digest committed for
    * this fixture set; each gold table is one attempted output. */
  def verify(): Unit = {
    val want = ctx.expected.getOrElse(fixtureSet.toString, Map.empty[String, String])
    Gold.foreach { g =>
      val expected = want.getOrElse(g, "none")
      val seen = gold.get(g).map(_.toString).getOrElse("none")
      result.check(s"em_nightly.$g", seen == expected,
        s"seed=${ctx.seed} fixture_set=$fixtureSet digest=$seen expected=$expected")
      result.digests(g) = seen
    }
  }

  override def opRoots(v: SpanView): Seq[Span] = measuredRoots(v).filter(_.name == "core.dag.run")
}

object EmNightly {
  /** Fixture size multiplier over the EM board's x1 floor (400 FEMA and
    * NOAA rows, 12 CoAgMet stations x 120 days x 4, 6,000 USDA rows). One
    * cold refresh on 4 cores takes about 27 s at x1, 47 s at x10 and 65 s
    * at x100: per-job and per-partition-file costs dominate at every size,
    * and x1 is what fits the run budget. */
  val Multiplier = 1
  val MinRefreshes = 2
  val FixtureSets = 10
  val AsOfDay = 19905L
  val AsOf = new Date(AsOfDay * 86400000L)
  val RunTs = Timestamp.valueOf("2024-07-01 12:00:00")
  val PartitionKey = Map("emergency_events" -> "event_date", "weather_impacts" -> "impact_date")
  /** The twelve materialized nodes, in the order EmPipelineJob lists them. */
  val Gold = Seq("emergency_events", "weather_impacts", "disaster_analytics", "public_disasters",
    "public_weather_alerts", "public_agricultural_data", "public_agricultural_summary",
    "data_quality_metrics", "disaster_declarations_snapshot", "weather_alerts_snapshot",
    "agricultural_risk_snapshot", "emergency_events_summary_snapshot")
}
