package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curation funnel audit: how many rows survive each stage of a
  * filter pipeline, per group — the report every corpus pass ships
  * with ("started with 4.1B pages, 3.2B after language ID, …").
  *
  * The naive form runs the pipeline N times (once per prefix) or
  * materializes every intermediate — at 100 TB, N full scans for a
  * COUNT. This one is a single scan: stage predicates are folded
  * into their cumulative conjunction and counted with conditional
  * aggregation (`sum(case when p1 and … pk then 1)`), one hash
  * aggregate with map-side partials, no intermediate datasets.
  *
  * Stages are ordered and CUMULATIVE: a row counts for stage k only
  * if it passes stages 1..k — the funnel can only narrow, so
  * `n_raw ≥ n_s1 ≥ n_s2 ≥ …` holds by construction (a property the
  * per-stage-rerun form loses the moment someone reorders a filter).
  * A predicate evaluating to NULL (null text, say) fails its stage,
  * same as a WHERE would drop it.
  */
object Funnel {

  /** The conditional-aggregation columns for a stage list. */
  private def stageAggs(stages: Seq[(String, Column)]): Seq[Column] = {
    require(stages.nonEmpty, "at least one stage")
    require(stages.map(_._1).distinct.size == stages.size, "stage names must be unique")
    require(!stages.exists(_._1 == "raw"),
      "stage name 'raw' collides with the built-in n_raw column")
    val cumulative = stages
      .scanLeft(lit(true)) { case (acc, (_, p)) => acc && coalesce(p, lit(false)) }
      .tail // drop the seed
    count(lit(1)).as("n_raw") +:
      cumulative.zip(stages).map { case (cum, (name, _)) =>
        sum(when(cum, 1L).otherwise(0L)).as(s"n_$name")
      }
  }

  /** One row per group: `n_raw` plus `n_<stage>` survivor counts for
    * the cumulative prefix of each stage. */
  def counts(df: DataFrame, stages: Seq[(String, Column)],
             groupCols: Seq[String] = Nil): DataFrame = {
    val aggs = stageAggs(stages)
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
