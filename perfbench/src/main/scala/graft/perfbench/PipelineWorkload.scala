package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.pipeline.CovidPipeline
import graft.sources.CovidSources

/** The paper's application, once per cycle: the ETL pipeline, then the
  * dashboard it feeds.
  *
  * The pipeline reads the OWID CSV and the cycle's disease.sh snapshot
  * (snapshots alternate, so every cycle is a refresh), cleans both (each
  * lazily checkpointed, as `integrateCleaned` documents), integrates, and
  * collects the integrated table, the integration summary and the match
  * report. The dashboard then persists the integrated frame with
  * `CovidPipeline.cachedDashboard` and serves seeded interactions over it
  * (see [[Dashboard]]); one interaction is one read. The refresh is timed
  * from the persist to the end of the first interaction, which fills the
  * cache and is not counted as a read. The first cycle runs in a fresh
  * JVM and is the cold one. A cycle's time leaves out answer checking
  * and, in a traced run, the separate run of the traced steps. */
final class PipelineWorkload(countries: Int, days: Int, parts: Int,
    snapshots: Int, interactions: Int) extends Workload {
  import PipelineWorkload._
  import Dashboard._

  private val cfg = CovidPipeline.Config()

  private def frames(ctx: Ctx, in: Gen.Inputs, snapshot: Int): Frames = {
    val spark = ctx.spark
    val owid = CovidSources.readOwidCsv(spark, in.owidDir)
    val api = CovidSources.flattenDiseaseSh(
      CovidSources.readDiseaseShJson(spark, in.apiPaths(snapshot)))
    val co = CovidPipeline.cleanOwid(owid).localCheckpoint(eager = false)
    val ca = CovidPipeline.cleanApi(api).localCheckpoint(eager = false)
    Frames(owid, api, co, ca, CovidPipeline.integrateCleaned(co, ca, cfg))
  }

  /** Checks one run's results against the generator's truth and returns
    * a hash of the integrated table. */
  private def check(ctx: Ctx, merged: Array[Row], summary: Row, report: Row,
      truth: Gen.Truth): Option[Int] = {
    def bad(what: String): Option[Int] = { ctx.fail(s"pipeline: $what"); None }
    val byCountry = merged.map(r =>
      r.getAs[String]("country_standardized") -> r).toMap
    val wrongTotals = truth.latestTotalCases.count { case (c, v) =>
      !byCountry.get(c).exists(_.getAs[Double]("owid_total_cases") == v)
    }
    val wrongApi = truth.apiCases.count { case (c, v) =>
      !byCountry.get(c).exists(_.getAs[Long]("api_current_cases") == v)
    }
    if (merged.length != truth.matched)
      bad(s"${merged.length} integrated rows, want ${truth.matched}")
    else if (wrongTotals + wrongApi > 0)
      bad(s"$wrongTotals latest totals and $wrongApi API counts differ")
    else if (summary.getAs[Long]("total_countries") != truth.matched)
      bad("summary total_countries")
    else if (report.getAs[Long]("matched_countries") != truth.matched ||
        report.getAs[Long]("candidate_countries") != truth.candidates ||
        report.getAs[Long]("owid_countries") != truth.owidCountries ||
        report.getAs[Long]("api_countries") != truth.apiCountries)
      bad(s"match report $report")
    else Some(MurmurHash3.seqHash(merged.map(_.toString).sorted.toSeq))
  }

  /** Hash exchanges Catalyst plans for the one-plan form of the
    * pipeline, before adaptive execution rewrites the plan. */
  private def hashExchanges(ctx: Ctx, in: Gen.Inputs): Int = {
    val spark = ctx.spark
    val conf = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try {
      val plan = CovidPipeline.integrate(
        CovidSources.readOwidCsv(spark, in.owidDir),
        CovidSources.flattenDiseaseSh(
          CovidSources.readDiseaseShJson(spark, in.apiPaths.head)), cfg)
        .queryExecution.executedPlan
      plan.collect {
        case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
      }.size
    } finally spark.conf.set(conf, prev)
  }

  /** The steps of one run, forced one by one in a separate, traced ETL
    * run on fresh frames. The cleaning steps force fresh plans; the later
    * steps read the checkpointed cleaned frames, which must be filled
    * first, and the summary and the match report read `merged`, a local
    * checkpoint of the integrated frame that the integrate step fills.
    * `merged` is made inside the integrate step's span, since making it
    * already runs the plan's shuffle stages under adaptive execution. */
  private def steps(f: Frames): Seq[Step] = {
    lazy val merged = f.merged.localCheckpoint(eager = false)
    Seq(
      Step("sources.owid_scan", () => f.owid, Nil),
      Step("sources.api_scan", () => f.api, Nil),
      Step("pipeline.clean_owid", () => CovidPipeline.cleanOwid(f.owid),
        Seq("sources.owid_scan")),
      Step("pipeline.clean_api", () => CovidPipeline.cleanApi(f.api),
        Seq("sources.api_scan")),
      Step("pipeline.align_owid", () => CovidPipeline.alignOwid(f.cleanedOwid), Nil),
      Step("pipeline.trend", () => CovidPipeline.trendMetrics(f.cleanedOwid, cfg), Nil),
      Step("pipeline.integrate", () => merged,
        Seq("pipeline.align_owid", "pipeline.trend")),
      Step("pipeline.summary", () => CovidPipeline.integrationSummary(merged), Nil),
      Step("pipeline.match_report",
        () => CovidPipeline.matchReport(f.cleanedOwid, f.cleanedApi, merged), Nil))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.trace
    val in = Gen.write(new File(ctx.work, "pipeline-input"), ctx.seed,
      countries, days, parts, snapshots)
    val rng = new java.util.SplittableRandom(ctx.seed)
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val hashes = mutable.Map[Int, Int]()
    val expected = mutable.Map[Int, Expected]()
    val cycles = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[(String, Double)]()
    val readMs = mutable.ArrayBuffer[Double]()
    val refreshes = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Seq[Step.Forced]]()
    var cachedMb = 0.0
    var attempted = 0
    // time inside a cycle spent on checking answers and on the traced
    // steps, which the cycle's time leaves out
    var untimedNs = 0L
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e6)
    }

    /** One ETL run, checked; returns its frames and the collected
      * integrated rows. */
    def etl(snapshot: Int): (Frames, Array[Row]) = {
      val f = frames(ctx, in, snapshot)
      val merged = ctx.collect(f.merged).dropRight(if (ctx.corrupt) 1 else 0)
      val summary = ctx.collect(CovidPipeline.integrationSummary(f.merged))(0)
      val report = ctx.collect(CovidPipeline.matchReport(
        f.cleanedOwid, f.cleanedApi, f.merged))(0)
      check(ctx, merged, summary, report, in.truths(snapshot)).foreach { h =>
        if (hashes.getOrElseUpdate(snapshot, h) != h)
          ctx.fail(s"pipeline: integrated hash of snapshot $snapshot moved")
      }
      (f, merged)
    }

    /** The pipeline's steps forced one by one, each under its own span, on
      * a separate run whose jobs the engine counters leave out. */
    def traceSteps(snapshot: Int): Seq[Step.Forced] = t.phase("trace") {
      val f = frames(ctx, in, snapshot)
      t.span("pipeline.checkpoint") { Eval(f.cleanedOwid); Eval(f.cleanedApi) }
      Step.force(ctx, steps(f))
    }

    /** One interaction, checked; returns its latency and each tab's, in
      * ms. */
    def interact(cache: DataFrame, i: Interaction, want: Expected,
        phase: String): (Double, Seq[(String, Double)]) = {
      attempted += 1
      val t0 = System.nanoTime()
      val got = try Some(t.span("dash.interaction") {
        tabs(filtered(cache, i.threshold), i).map { case (tab, df) =>
          val (rows, tabMs) = timed(
            t.span(s"dash.$tab")(t.phase(phase)(ctx.collect(df))).toSeq)
          (tab, rows, tabMs)
        }
      }) catch {
        case scala.util.control.NonFatal(e) =>
          ctx.fail(s"dashboard: $i $e")
          None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      got.foreach { g =>
        untimed {
          val answers = g.map { case (tab, rows, _) => tab -> rows } ++
            (if (ctx.corrupt) Seq("corrupt" -> Nil) else Nil)
          if (answers != want(i)) ctx.fail(s"dashboard: $i")
        }
      }
      (ms, got.toSeq.flatten.map { case (tab, _, tabMs) => tab -> tabMs })
    }

    val timedStart = ctx.startTimed()
    while (cycles.size < 4 ||
        (System.nanoTime() - timedStart) / 1e9 < ctx.seconds) {
      val warm = cycles.nonEmpty
      val snapshot = cycles.size % snapshots
      val c0 = System.nanoTime()
      untimedNs = 0L
      attempted += 1
      try {
        val ((f, merged), runMs) = timed(
          t.span("pipeline.run")(t.phase("timed:op")(etl(snapshot))))
        if (warm) ops += "run" -> runMs
        val want = untimed(expected.getOrElseUpdate(snapshot, {
          val local = spark.createDataFrame(
            java.util.Arrays.asList(merged: _*), f.merged.schema)
          new Expected(merged.toSeq, th =>
            CovidPipeline.integrationSummary(filtered(local, th)).collect()(0))
        }))
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val r0 = System.nanoTime()
        val u0 = untimedNs
        val cache = CovidPipeline.cachedDashboard(f.merged)
        interact(cache, next(rng, want), want, "timed:refresh")
        refreshes += (System.nanoTime() - r0 - (untimedNs - u0)) / 1e9
        if (!warm) cachedMb = ctx.cachedMb(id => !before.contains(id))
        (1 until interactions).foreach { _ =>
          val (ms, tabMs) = interact(cache, next(rng, want), want, "timed:read")
          readMs += ms
          if (warm) ops ++= tabMs.map { case (tab, ms) => s"tab.$tab" -> ms }
        }
        cache.unpersist(blocking = true)
        if (t.enabled) untimed(traced += traceSteps(snapshot))
      } catch {
        case scala.util.control.NonFatal(e) => ctx.fail(s"pipeline: $e")
      }
      cycles += (System.nanoTime() - c0 - untimedNs) / 1e9
      ctx.dropCachedExcept(keep)
    }
    val layers = Seq(
      "sources.input_mb" -> in.bytes / 1e6,
      "sources.input_rows" -> (in.owidRows + in.apiRows).toDouble,
      "pipeline.run_s" -> Stats.median(ops.collect { case ("run", ms) => ms / 1e3 }.toSeq),
      "dash.cached_mb" -> cachedMb,
      "dash.refresh_s" -> Stats.median(refreshes.toSeq),
      "dash.read_p50_ms" -> Stats.median(readMs.toSeq),
      "dash.read_p99_ms" -> Stats.quantile(readMs.toSeq, 0.99)) ++
      (if (!t.enabled) Nil
      else
        // medians over the warm cycles; the first one is cold
        Step.layers(if (traced.size > 1) traced.tail.toSeq else traced.toSeq) ++
        Seq("pipeline.hash_exchanges" -> hashExchanges(ctx, in).toDouble,
          "dash.stages_per_read" ->
            t.counts("timed:read").stages.toDouble / math.max(readMs.size, 1)))
    Outcome(timedStart, cycles.toSeq, ops.toSeq, attempted, ctx.failures.size,
      layers,
      Seq("countries" -> countries, "days" -> days, "parts" -> parts,
        "snapshots" -> snapshots, "interactions_per_cycle" -> interactions,
        "owid_rows" -> in.owidRows, "api_rows" -> in.apiRows,
        "matched" -> in.truths.head.matched,
        "candidates" -> in.truths.head.candidates,
        "refresh_s" -> Stats.median(refreshes.toSeq),
        "read_p50_ms" -> Stats.median(readMs.toSeq)))
  }
}

object PipelineWorkload {
  final case class Frames(owid: DataFrame, api: DataFrame,
      cleanedOwid: DataFrame, cleanedApi: DataFrame, merged: DataFrame)
}

/** One traced step: a public call whose lazy result is forced with the
  * full-column probe. Its self time is its span minus the spans of the
  * `inputs` it recomputes; checkpointed inputs are read, not recomputed,
  * and are not listed. */
final case class Step(name: String, df: () => DataFrame, inputs: Seq[String])

object Step {
  final case class Forced(name: String, selfS: Double, rows: Long)

  def force(ctx: Ctx, steps: Seq[Step]): Seq[Forced] = {
    val spans = scala.collection.mutable.Map[String, Double]()
    steps.map { s =>
      val t0 = System.nanoTime()
      val r = ctx.trace.span(s.name)(Eval(s.df()))
      spans(s.name) = (System.nanoTime() - t0) / 1e9
      Forced(s.name, spans(s.name) - s.inputs.map(spans).sum, r.rows)
    }
  }

  /** Median self time of each step over `runs`, and its rows out. */
  def layers(runs: Seq[Seq[Forced]]): Seq[(String, Double)] =
    if (runs.isEmpty) Nil
    else runs.head.indices.flatMap { i =>
      val f = runs.head(i)
      val secs = Stats.median(runs.map(_(i).selfS))
      if (f.name.startsWith("sources.")) Seq(s"${f.name}_s" -> secs)
      else Seq(s"${f.name}_s" -> secs, s"${f.name}_rows" -> f.rows.toDouble)
    }
}
