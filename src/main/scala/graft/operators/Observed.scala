package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Materialization with metrics from the same job. */
private[graft] object Observed {

  /** `df` cut by `localCheckpoint()`, with aggregates over its rows
    * (`count(lit(1))`, say) observed by that same job, so a count of a
    * materialized stage costs no second job. Returns the cut frame and
    * one value per metric, in order. */
  def checkpoint(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val names = (0 to more.size).map(i => s"m$i")
    val named = (metric +: more).zip(names).map { case (m, n) => m.as(n) }
    val cut = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
    val values = obs.get
    (cut, Row.fromSeq(names.map(values)))
  }
}
