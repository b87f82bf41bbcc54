package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** F2 — time-grid densification ("add_missing_timestamps",
  * reference stockdata/indicators.py:196-211, helper :69-94).
  *
  * Per (ticker, island), emits every grid timestamp between the
  * island's min and max at a fixed step; generated rows carry null
  * non-key columns (interpolated by F3). Because F1 guarantees internal
  * gaps ∈ {1,2,3} steps, each gap inserts at most 2 rows. A gap that is
  * not a multiple of the step gets the grid rows `prev + step, …` up to
  * `ts - step`.
  *
  * Runs as the grid stage of one [[SeriesScan]]: each row brings the
  * grid rows of the gap before it, in the same pass that reads it, so
  * the plan is one (keys, ts) sort with no join and no Generate.
  * Output: `keyCols`, `tsCol`, then the other columns in input order.
  */
object Densify {

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      stepUnits: Long): DataFrame = {
    val dataCols = df.columns.filterNot(c => keyCols.contains(c) || c == tsCol)
    SeriesScan(df, keyCols, tsCol, None, Some(stepUnits), Nil)
      .select((keyCols ++ (tsCol +: dataCols)).map(col): _*)
  }

  /** DuckDB CTE chain mirroring [[apply]]; exposes `dz_final`. */
  def sqlStages(
      from: String,
      keyCols: Seq[String],
      tsCol: String,
      stepUnits: Long): String = {
    val keys = keyCols.mkString(", ")
    s"""dz_bounds AS (
       |  SELECT $keys, min($tsCol) AS _mn, max($tsCol) AS _mx
       |  FROM $from GROUP BY $keys),
       |dz_grid AS (
       |  SELECT $keys, unnest(generate_series(_mn, _mx, $stepUnits)) AS $tsCol
       |  FROM dz_bounds),
       |dz_final AS (
       |  SELECT g.*, ${"f.* EXCLUDE (" + keys + ", " + tsCol + ")"}
       |  FROM dz_grid g LEFT JOIN $from f USING ($keys, $tsCol))""".stripMargin
  }
}
