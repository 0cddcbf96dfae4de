package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.RowOps
import graft.pipeline.CovidPipeline

/** One interaction with the reference's Streamlit dashboard, as SURVEY.md
  * §3.2 describes it: the sidebar's case threshold (F6) is applied once
  * to the cached integrated frame, and the rerun re-queries the filtered
  * frame for every tab: top-10 by gap (W5), the comparison of the
  * selected countries (F7), the map data, the quality summary (W10) and
  * the raw explorer's search (F8, first 20 rows). Each tab is one short
  * job over the `cachedDashboard` frame. */
object Dashboard {

  /** The widget state of one interaction. */
  final case class Interaction(threshold: Long, selected: Seq[String],
      search: String)

  private val GapCol = "cases_data_gap_percent"
  private val CasesCol = "api_current_cases"
  private val Key = "country_standardized"
  private val TopCols = Seq(Key, GapCol, CasesCol, "owid_total_cases")
  private val MapCols = Seq(Key, "owid_iso_code", GapCol)
  private val ExplorerRows = 20

  /** The seeded widget state: a threshold among the expected answers'
    * thresholds, three selected countries and a two-letter search term
    * cut from a country name. */
  def next(rng: SplittableRandom, want: Expected): Interaction = {
    val cs = want.countries
    val name = cs(rng.nextInt(cs.size)).toLowerCase
    val at = rng.nextInt(math.max(name.length - 1, 1))
    Interaction(want.thresholds(rng.nextInt(want.thresholds.size)),
      Seq.fill(3)(cs(rng.nextInt(cs.size))).distinct.sorted,
      name.slice(at, at + 2))
  }

  /** The sidebar filter. */
  def filtered(df: DataFrame, threshold: Long): DataFrame =
    df.filter(col(CasesCol) >= threshold)

  /** The tab queries over the filtered frame, in tab order. */
  def tabs(f: DataFrame, i: Interaction): Seq[(String, DataFrame)] = Seq(
    "top10" -> f.orderBy(col(GapCol).desc_nulls_last, col(Key))
      .select(TopCols.map(col): _*).limit(10),
    "compare" -> f.filter(col(Key).isin(i.selected: _*))
      .select(TopCols.map(col): _*).orderBy(col(Key)),
    "map" -> f.select(MapCols.map(col): _*).orderBy(col(Key)),
    "quality" -> CovidPipeline.integrationSummary(f),
    "explorer" -> f.filter(RowOps.searchContains(col(Key), i.search))
      .orderBy(col(Key)).limit(ExplorerRows))

  /** The answers with the cache off. The row-level tabs are written
    * directly over the rows the uncached pipeline run collected; the
    * quality tab is `integrationSummary` over an uncached frame of those
    * rows, computed once per threshold by `quality`. */
  final class Expected(rows: Seq[Row], quality: Long => Row) {
    private def key(r: Row): String = r.getAs[String](Key)
    private def gap(r: Row): Option[Double] = Option(r.getAs[Any](GapCol))
      .map(_.asInstanceOf[Double])
    private def cases(r: Row): Option[Long] = Option(r.getAs[Any](CasesCol))
      .map(_.asInstanceOf[Long])
    private def project(r: Row, cols: Seq[String]): Row =
      Row.fromSeq(cols.map(c => r.get(r.fieldIndex(c))))
    // Spark's descending order on doubles: NaN first, nulls last,
    // -0.0 equal to 0.0
    private val byGapDesc: Ordering[Row] = Ordering.by[Row, (Int, Double, String)] { r =>
      gap(r) match {
        case None => (2, 0.0, key(r))
        case Some(d) if d.isNaN => (0, 0.0, key(r))
        case Some(d) => (1, -d + 0.0, key(r))
      }
    }
    private val qualityAt = scala.collection.mutable.Map[Long, Row]()

    val countries: IndexedSeq[String] = rows.map(key).toIndexedSeq.sorted

    /** No filter, and the API case counts' quartiles. */
    val thresholds: IndexedSeq[Long] = {
      val cs = rows.flatMap(cases).sorted.toIndexedSeq
      (0L +: Seq(0.25, 0.5, 0.75).map(q => cs((q * (cs.size - 1)).toInt)))
        .distinct.toIndexedSeq
    }

    def apply(i: Interaction): Seq[(String, Seq[Row])] = {
      val f = rows.filter(r => cases(r).exists(_ >= i.threshold))
      val term = i.search.toLowerCase
      Seq(
        "top10" -> f.sorted(byGapDesc).take(10).map(project(_, TopCols)),
        "compare" -> f.filter(r => i.selected.contains(key(r)))
          .sortBy(key).map(project(_, TopCols)),
        "map" -> f.sortBy(key).map(project(_, MapCols)),
        "quality" -> Seq(qualityAt.getOrElseUpdate(i.threshold, quality(i.threshold))),
        "explorer" -> f.filter(r => key(r).toLowerCase.contains(term))
          .sortBy(key).take(ExplorerRows))
    }
  }
}
