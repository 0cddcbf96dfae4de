package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One workload in one JVM. Prints human-readable lines and, last, one
  * JSON line with the end-to-end metrics, the per-layer metrics and the
  * diagnostics. `perfbench/run.py` builds the program and runs this.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <perfbench dir>
  */
object Main {

  def session(cores: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()

  /** `graft.Bench`'s fixed 20M-row host-speed canary, one run. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L)
      .select(pmod(xxhash64(col("id")), lit(9973)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("s"))
      .agg(sum(col("c")), sum(col("s"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def workload(name: String, benchDir: File, record: Option[File])
      : Workload = name match {
    case "pipeline" => new PipelineWorkload(countries = 300, days = 400,
      parts = 4, snapshots = 2, interactions = 4)
    case "board" => new BoardWorkload(
      Some(new File(benchDir, "expected/board.tsv")).filter(_ => record.isEmpty),
      record)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, benchS) = args
    val benchDir = new File(benchS)
    val record = sys.props.get("perfbench.record").map(new File(_))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(workS)
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = workload(name, benchDir, record)
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    Trace.attachLogCounter()
    val trace = new Trace(spark, traceS == "1")
    val ctx = new Ctx(spark, trace, seedS.toLong, secondsS.toDouble, work,
      new File(benchDir, "data"),
      corrupt = sys.props.get("perfbench.corrupt").contains("true"))
    val out = wl.run(ctx)
    val rss = Trace.peakRssMb()
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val liveHeapMb = mem.getHeapMemoryUsage.getUsed / 1e6
    // after the timed part, warm, as graft.Bench times it before its
    // timed pass; a diagnostic of host speed, not a metric
    val canaryS = canary(spark)
    trace.close()
    if (trace.enabled) trace.writeSpans(new File(work, "spans.jsonl"), out.timedStartNs)

    // setup: JVM start to the end of the first, cold cycle
    val timedStartMs = System.currentTimeMillis() -
      (System.nanoTime() - out.timedStartNs) / 1000000L
    val setupS = (timedStartMs - jvmStartMs) / 1e3 + out.cycles.head
    val kinds = out.ops.groupBy(_._1).values.map(v => Stats.median(v.map(_._2)))
    val e2e = Seq(
      "setup_s" -> setupS,
      "cycle_s" -> Stats.median(out.cycles.drop(1)),
      "op_geomean_ms" -> Stats.geomean(kinds.toSeq),
      "peak_rss_mb" -> rss)
    val layers = out.layers ++ (if (!trace.enabled) Nil else {
      val timed = trace.counts("timed")
      val wallMs = out.cycles.sum * 1e3
      val nOps = math.max(out.attempted, 1).toDouble
      val durs = timed.taskDurations.map(_.toDouble).toSeq
      Seq(
        "engine.plan_ms" -> ctx.planNs / 1e6 / nOps,
        "engine.exec_ms" -> ctx.execNs / 1e6 / nOps,
        "engine.jobs" -> timed.jobs / nOps,
        "engine.stages" -> timed.stages / nOps,
        "engine.tasks_per_stage" -> timed.tasks.toDouble / math.max(timed.stages, 1),
        "engine.task_ms" -> timed.taskMs / nOps,
        "engine.core_util" -> timed.taskMs / (wallMs * cores),
        "engine.shuffle_read_mb" -> timed.shuffleRead / 1e6 / nOps,
        "engine.shuffle_write_mb" -> timed.shuffleWrite / 1e6 / nOps,
        "engine.spill_mb" -> timed.spill / 1e6 / nOps,
        "engine.max_task_ms" -> (if (durs.isEmpty) 0.0 else durs.max),
        "engine.median_task_ms" -> (if (durs.isEmpty) 0.0 else Stats.median(durs)),
        "engine.failed_tasks" -> timed.failedTasks.toDouble,
        "engine.retried_stages" -> timed.retriedStages.toDouble)
    })
    val all = layers ++ Seq(
      "cold_cycle_s" -> out.cycles.head,
      "jvm.live_heap_mb" -> liveHeapMb,
      "engine.lost_accumulator_errors" ->
        Trace.lostAccumulatorErrors.get().toDouble,
      "failed_ops_ratio" -> out.failed.toDouble / math.max(out.attempted, 1))
    (e2e ++ all).foreach { case (k, v) => println(f"[perfbench] $name%-9s $k%-34s $v%.4f") }
    println(Json.obj(Seq(
      "workload" -> name,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "end_to_end" -> e2e,
      "per_layer" -> all,
      "diagnostics" -> (Seq("canary_s" -> canaryS, "cores" -> cores,
        "cycles" -> out.cycles.size, "ops" -> out.ops.size) ++ out.notes))))
    spark.stop()
  }
}
