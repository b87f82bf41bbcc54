package graft.etl

import org.apache.spark.sql.DataFrame

/** F1 — gaps-and-islands sessionization ("break_dataframe",
  * reference stockdata/indicators.py:178-194 + helper :41-66).
  *
  * Splits each ticker's time series wherever the consecutive-timestamp
  * gap is not in the allowed set (reference: {60,120,180} seconds,
  * indicators.py:184); drops islands with < 2 rows (indicators.py:58,63);
  * renumbers only the surviving islands consecutively from 0 (the
  * reference's `enumerate` over emitted islands, indicators.py:188) and
  * names them `"{ticker}-{island}"` (indicators.py:190).
  *
  * Runs as the split stage of one [[SeriesScan]]: one hash exchange on
  * the series keys and one (series, ts) sort, then a single pass that
  * holds one island at a time. At 100 TB, partition keys are
  * (ticker[, trading day]) so no single series is unbounded.
  */
object Sessionize {

  /** @param tsCol    epoch time column (any fixed unit, e.g. ns or us)
    * @param allowedGaps gaps (same unit as tsCol) that do NOT split
    */
  def apply(
      df: DataFrame,
      tickerCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): DataFrame =
    apply(df, Seq(tickerCol), tickerCol, tsCol, allowedGaps)

  /** Composite-key variant: series identity = `partCols` (e.g.
    * (ticker, ds) for multi-day runs); `nameCol`, one of them, feeds the
    * sub-ticker label exactly like the per-day reference runs do. */
  def apply(
      df: DataFrame,
      partCols: Seq[String],
      nameCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): DataFrame =
    SeriesScan(df, partCols, tsCol, Some((allowedGaps, nameCol)), None, Nil)

  /** DuckDB CTE chain mirroring [[apply]]; exposes `sz_final` =
    * input columns + island + sub_ticker. */
  def sqlStages(
      from: String,
      tickerCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): String =
    sqlStages(from, Seq(tickerCol), tickerCol, tsCol, allowedGaps)

  /** Composite-key mirror of the multi-day [[apply]] overload:
    * series identity = `partCols`, sub-ticker label from `nameCol`. */
  def sqlStages(
      from: String,
      partCols: Seq[String],
      nameCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): String = {
    val gaps = allowedGaps.mkString(", ")
    val pk = partCols.mkString(", ")
    s"""sz_s1 AS (
       |  SELECT *, $tsCol - lag($tsCol, 1) OVER (PARTITION BY $pk ORDER BY $tsCol) AS _gap
       |  FROM $from),
       |sz_s2 AS (
       |  SELECT *, CASE WHEN _gap IS NULL THEN 0
       |    WHEN _gap IN ($gaps) THEN 0 ELSE 1 END AS _brk
       |  FROM sz_s1),
       |sz_s3 AS (
       |  SELECT *, sum(_brk) OVER (PARTITION BY $pk ORDER BY $tsCol
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _isl_raw
       |  FROM sz_s2),
       |sz_s4 AS (
       |  SELECT *, count(*) OVER (PARTITION BY $pk, _isl_raw) AS _isl_n
       |  FROM sz_s3),
       |sz_final AS (
       |  SELECT * EXCLUDE (_gap, _brk, _isl_raw, _isl_n),
       |    dense_rank() OVER (PARTITION BY $pk ORDER BY _isl_raw) - 1 AS island,
       |    $nameCol || '-' || CAST(dense_rank() OVER (PARTITION BY $pk ORDER BY _isl_raw) - 1 AS VARCHAR) AS sub_ticker
       |  FROM sz_s4 WHERE _isl_n >= 2)""".stripMargin
  }
}
