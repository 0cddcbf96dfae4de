package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.TrainingQueries

/** A fixed slice of `SparkEntry.queries`, read-only, in a seeded order
  * per pass. Each query is built (its registry lambda, including any
  * eager work inside it), then forced with the full-column probe of
  * `graft.Bench.evalAll`, then its transient cached blocks are dropped,
  * as `graft.Bench` does after every query. Setup forces each shared
  * artifact the slice uses; the first pass is the cold one (the
  * warm-up), and the later passes, at least two, are warm.
  *
  * Answers are checked against `expected`, recorded from this program
  * with `run.py --record-board`: rows and probe hash, or rows only for
  * the queries whose hash is not stable from run to run. */
final class BoardWorkload(expected: Option[File], record: Option[File])
    extends Workload {
  import BoardWorkload._

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.trace
    val dir = ctx.dataDir.getPath
    val want: Map[String, (Long, String)] = expected.fold(Map.empty[String, (Long, String)]) {
      f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(n, rows, hash) = l.split('\t')
          n -> (rows.toLong, hash)
        }.toMap
    }
    val rng = new SplittableRandom(ctx.seed)
    def order(): Seq[String] = {
      val a = Slice.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1)
        val tmp = a(i); a(i) = a(j); a(j) = tmp
      }
      a.toSeq
    }
    val seen = mutable.Map[String, mutable.ArrayBuffer[(Long, String)]]()

    val builds = t.phase("setup") {
      Artifacts.map { case (n, force) =>
        val t0 = System.nanoTime()
        t.span(s"artifacts.$n")(force(spark, dir))
        s"artifacts.${n}_build_s" -> (System.nanoTime() - t0) / 1e9
      }
    }
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val artifactsMb = ctx.cachedMb(keep)
    val build = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[(String, Double)]()
    val cycles = mutable.ArrayBuffer[Double]()
    var attempted = 0
    val timedStart = ctx.startTimed()
    while (cycles.size < 3 ||
        (System.nanoTime() - timedStart) / 1e9 < ctx.seconds) {
      val c0 = System.nanoTime()
      order().foreach { n =>
        attempted += 1
        val t0 = System.nanoTime()
        try t.span(n) {
          val df = t.span("queries.build") {
            t.phase("timed:build")(SparkEntry.queries(n)(spark, dir))
          }
          val t1 = System.nanoTime()
          val r0 = t.span("engine.eval")(t.phase("timed:eval")(ctx.eval(df)))
          val r = if (ctx.corrupt) r0.copy(rows = r0.rows + 1) else r0
          if (cycles.nonEmpty) build += (t1 - t0) / 1e6
          seen.getOrElseUpdate(n, mutable.ArrayBuffer()) += r.rows -> r.hash
          want.get(n) match {
            case Some((rows, hash)) if rows == r.rows && (hash == "*" || hash == r.hash) => ()
            case Some(w) => ctx.fail(s"board: $n gave (${r.rows}, ${r.hash}), want $w")
            case None if record.isEmpty => ctx.fail(s"board: no expected result for $n")
            case None => ()
          }
        } catch {
          case scala.util.control.NonFatal(e) => ctx.fail(s"board: $n $e")
        }
        if (cycles.nonEmpty) ops += n -> (System.nanoTime() - t0) / 1e6
        ctx.dropCachedExcept(keep)
      }
      cycles += (System.nanoTime() - c0) / 1e9
    }
    record.foreach { f =>
      val lines = Slice.sorted.map { n =>
        val s = seen(n)
        s"$n\t${s.map(_._1).distinct.mkString(",")}\t${s.map(_._2).distinct.mkString(",")}"
      }
      Files.write(f.toPath, lines.asJava, StandardCharsets.UTF_8)
    }
    val passes = (cycles.size - 1).toDouble
    val layers = builds ++ Seq(
      "artifacts.cached_mb" -> artifactsMb,
      "queries.build_ms" -> build.sum / passes) ++
      (if (!t.enabled) Nil
      else Seq("queries.build_jobs" -> t.counts("timed:build").jobs.toDouble / cycles.size))
    Outcome(timedStart, cycles.toSeq, ops.toSeq, attempted, ctx.failures.size,
      layers,
      Seq("queries" -> Slice.size, "passes" -> cycles.size) ++ builds ++
        Slice.map(n => s"median_ms.$n" -> Stats.median(ops.filter(_._1 == n).map(_._2).toSeq)))
  }
}

object BoardWorkload {

  /** Every query the ROADMAP's layer probe names but t39_dataset_card,
    * then one cheap query of each other family. t39 is left out: its
    * export-tier artifact alone adds ~5 s to every run's setup, and the
    * ROADMAP records its own time moving 2.4–3.2 s between runs. */
  val Slice: Seq[String] = Seq(
    "g2_weighted_pagerank", "g4_personalized_pagerank", "g7_label_propagation",
    "g8_hits", "e13_sparse_cosine", "t29_dsir_select", "t30_ccnet_buckets",
    "s12_bucketed_join", "s15_compaction",
    "d14_containment", "d22_incremental_curation",
    "q1_pricing_summary", "w1_ffill", "j3_left_join", "s7_scan_pruned",
    "o3_distinct_sort", "m1_payload_stats", "v1_tumbling_window",
    "x8_data_age", "f_isin_exclude", "p_rename_prefix_literal",
    "e1_cosine_topk", "d1_dedup_exact")

  /** The shared artifacts the slice reads, forced the way `graft.Bench`
    * forces them. */
  val Artifacts: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "trading_pairs" -> ((s: SparkSession, d: String) => TrainingQueries.TradingPairs(s, d).count()),
    "trading_rank_5it" -> ((s, d) =>
      TrainingQueries.TradingRank(s, d).ranks(iterations = 5).count()))
}
