package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What a workload hands back to [[Main]]. Every workload repeats one
  * cycle: an ETL run and the dashboard interactions it serves, or one
  * pass over the query slice. `ops` holds the latencies, in ms, of the
  * operations of the warm cycles by kind: the ETL run, each dashboard
  * tab, each registry query. */
final case class Outcome(
    timedStartNs: Long,
    cycles: Seq[Double],
    ops: Seq[(String, Double)],
    attempted: Int,
    failed: Int,
    layers: Seq[(String, Double)],
    notes: Seq[(String, Any)])

/** What a workload runs with. `corrupt` makes each workload spoil one
  * answer per operation before checking it, so a run can show that a
  * wrong answer counts as a failed operation. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val seconds: Double, val work: File, val dataDir: File,
    val corrupt: Boolean) {

  /** Planning and execution time of the actions run through [[collect]]
    * and [[eval]] since [[startTimed]]. */
  var planNs = 0L
  var execNs = 0L

  /** Marks the start of the timed operations and returns its time. */
  def startTimed(): Long = {
    planNs = 0L
    execNs = 0L
    System.nanoTime()
  }

  /** `df.collect()`, with planning and execution timed apart. */
  def collect(df: DataFrame): Array[Row] = {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    planNs += t1 - t0
    execNs += System.nanoTime() - t1
    rows
  }

  /** [[Eval]], with its planning and execution time counted. */
  def eval(df: DataFrame): Eval.Result = {
    val r = Eval(df)
    planNs += r.planNs
    execNs += r.execNs
    r
  }

  /** Failures with their reason, for the log; each one counts once. */
  val failures = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = {
    if (failures.size < 20) System.err.println(s"[perfbench] FAILED $what")
    failures += what
  }

  /** Unpersists every cached RDD that is not in `keep`. */
  def dropCachedExcept(keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }

  /** Block-manager bytes (memory and disk) of the cached RDDs `which`
    * selects, in MB. */
  def cachedMb(which: Int => Boolean): Double =
    spark.sparkContext.getRDDStorageInfo
      .filter(i => which(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6
}

trait Workload {
  def run(ctx: Ctx): Outcome
}
