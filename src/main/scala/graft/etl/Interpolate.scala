package graft.etl

import org.apache.spark.sql.DataFrame

/** F3 — positional linear interpolation of nulls ("fill_na",
  * reference stockdata/indicators.py:151-163).
  *
  * pandas `interpolate(limit_direction="both")` semantics: nulls between
  * two observed values get linear interpolation by ROW POSITION; leading
  * nulls clamp to the first observed value, trailing nulls to the last
  * (np.interp edge behavior). Only null is missing; a NaN cell is a
  * value. `fillCols` are DOUBLE.
  *
  * Runs as the fill stage of one [[SeriesScan]]: one pass per (keys)
  * group in ts order that holds the group's rows once, so the cost is
  * linear in the group's length. Column order is unchanged.
  */
object Interpolate {

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      fillCols: Seq[String]): DataFrame =
    SeriesScan(df, keyCols, tsCol, None, None, fillCols)

  /** DuckDB CTE chain mirroring [[apply]]; exposes `ip_final`. */
  def sqlStages(
      from: String,
      keyCols: Seq[String],
      tsCol: String,
      fillCols: Seq[String]): String = {
    val part = keyCols.mkString(", ")
    val over = s"PARTITION BY $part ORDER BY $tsCol"
    val back = s"OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val fwd = s"OVER ($over ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    val aux = fillCols.map { c =>
      s"""last_value($c IGNORE NULLS) $back AS _pv_$c,
         |    last_value(CASE WHEN $c IS NOT NULL THEN _idx END IGNORE NULLS) $back AS _pi_$c,
         |    first_value($c IGNORE NULLS) $fwd AS _nv_$c,
         |    first_value(CASE WHEN $c IS NOT NULL THEN _idx END IGNORE NULLS) $fwd AS _ni_$c""".stripMargin
    }.mkString(",\n    ")
    val fills = fillCols.map { c =>
      s"""coalesce($c, _pv_$c + (_nv_$c - _pv_$c)
         |      * (CAST(_idx - _pi_$c AS DOUBLE) / CAST(_ni_$c - _pi_$c AS DOUBLE)),
         |      _pv_$c, _nv_$c) AS $c""".stripMargin
    }.mkString(",\n    ")
    val keep = (Seq("_idx") ++ fillCols.flatMap(c =>
      Seq(s"_pv_$c", s"_pi_$c", s"_nv_$c", s"_ni_$c")) ++ fillCols)
      .mkString(", ")
    s"""ip_s1 AS (
       |  SELECT *, row_number() OVER ($over) AS _idx FROM $from),
       |ip_s2 AS (
       |  SELECT *,
       |    $aux
       |  FROM ip_s1),
       |ip_final AS (
       |  SELECT * EXCLUDE ($keep),
       |    $fills
       |  FROM ip_s2)""".stripMargin
  }
}
