package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** `graft.Bench.evalAll`'s full-column probe, returning the probe hash
  * as well as the row count, with planning and execution timed apart. */
object Eval {

  final case class Result(rows: Long, hash: String, planNs: Long,
      execNs: Long)

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  def apply(df: DataFrame): Result = {
    val probes = df.schema.fields.map { f =>
      if (hasMap(f.dataType)) xxhash64(to_json(col(f.name)))
      else xxhash64(col(f.name))
    }
    val agg = df.agg(
      sum(probes.reduce(_.bitwiseXOR(_)).cast("decimal(38,0)")),
      count(lit(1)))
    val t0 = System.nanoTime()
    agg.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val r = agg.collect()(0)
    val t2 = System.nanoTime()
    Result(r.getLong(1), String.valueOf(r.get(0)), t1 - t0, t2 - t1)
  }
}
