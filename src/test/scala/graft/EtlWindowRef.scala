package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** F1–F3 as built-in Spark window expressions: the bodies
  * [[graft.etl.Sessionize]], [[graft.etl.Densify]] and
  * [[graft.etl.Interpolate]] had before [[graft.etl.SeriesScan]], kept
  * unchanged as the reference the operator must match bit for bit
  * (SeriesScanSpec). The plan they make is 7 Window nodes, 3 sorts and
  * a Generate, and Interpolate's look-ahead frame costs O(n²) per group.
  */
object EtlWindowRef {

  def sessionize(
      df: DataFrame,
      partCols: Seq[String],
      nameCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): DataFrame = {
    val parts = partCols.map(col)
    val w = Window.partitionBy(parts: _*).orderBy(tsCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val staged = df
      .withColumn("_gap", col(tsCol) - lag(col(tsCol), 1).over(w))
      .withColumn("_brk",
        when(col("_gap").isNull, lit(0L))
          .when(col("_gap").isin(allowedGaps: _*), lit(0L))
          .otherwise(lit(1L)))
      .withColumn("_isl_raw", sum("_brk").over(cum))
      .withColumn("_isl_n",
        count(lit(1)).over(Window.partitionBy(parts :+ col("_isl_raw"): _*)))
      .filter(col("_isl_n") >= 2)
      .withColumn("island",
        (dense_rank().over(Window.partitionBy(parts: _*).orderBy("_isl_raw")) - 1)
          .cast("long"))
      .withColumn("sub_ticker", concat(col(nameCol), lit("-"), col("island")))
    staged.drop("_gap", "_brk", "_isl_raw", "_isl_n")
  }

  def densify(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      stepUnits: Long): DataFrame = {
    // Single-pass formulation: each row carries the filler timestamps of
    // the gap PRECEDING it (lag window), packed as structs next to the
    // row itself and exploded once. Equivalent to the min→max grid LEFT
    // JOIN (both island endpoints are observed rows), but the plan is
    // one Window + one Generate over ONE upstream subtree — the join
    // form materializes the entire upstream twice (grid side + fact
    // side), which at 100 TB doubles the most expensive stages.
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(tsCol)
    val dataCols = df.columns.filterNot(c => keyCols.contains(c) || c == tsCol)
    val selfStruct = struct(
      col(tsCol).as("_ts") +: dataCols.map(c => col(c).as(c)): _*)
    val prev = lag(col(tsCol), 1).over(w)
    val fillTs = when(prev.isNotNull && (col(tsCol) - prev) > stepUnits,
      sequence(prev + stepUnits, col(tsCol) - stepUnits, lit(stepUnits)))
      .otherwise(array().cast(s"array<${df.schema(tsCol).dataType.sql}>"))
    val fillStructs = transform(fillTs, t => struct(
      t.as("_ts") +: dataCols.map(c =>
        lit(null).cast(df.schema(c).dataType).as(c)): _*))
    df.withColumn("_all", concat(fillStructs, array(selfStruct)))
      .select(keyCols.map(col) :+ explode(col("_all")).as("_r"): _*)
      .select(keyCols.map(col) ++
        (col("_r._ts").as(tsCol) +: dataCols.map(c => col(s"_r.$c"))): _*)
  }

  def interpolate(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      fillCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(tsCol)
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, Window.unboundedFollowing)
    // All auxiliary window columns in ONE select so CollapseWindow merges
    // them into exactly two Window nodes (one per frame direction) over
    // one sort — a per-column withColumn fold interleaves Projects and
    // yields 4×|fillCols| window passes instead.
    val withIdx = df.withColumn("_idx", row_number().over(w))
    val aux = fillCols.flatMap { c =>
      Seq(
        last(col(c), ignoreNulls = true).over(back).as(s"_pv_$c"),
        last(when(col(c).isNotNull, col("_idx")), ignoreNulls = true)
          .over(back).as(s"_pi_$c"),
        first(col(c), ignoreNulls = true).over(fwd).as(s"_nv_$c"),
        first(when(col(c).isNotNull, col("_idx")), ignoreNulls = true)
          .over(fwd).as(s"_ni_$c"))
    }
    val staged = withIdx.select(col("*") +: aux: _*)
    val out = df.columns.map {
      case c if fillCols.contains(c) =>
        coalesce(
          col(c),
          col(s"_pv_$c") + (col(s"_nv_$c") - col(s"_pv_$c"))
            * ((col("_idx") - col(s"_pi_$c")).cast("double")
              / (col(s"_ni_$c") - col(s"_pi_$c")).cast("double")),
          col(s"_pv_$c"), col(s"_nv_$c")).as(c)
      case c => col(c)
    }
    staged.select(out.toIndexedSeq: _*)
  }
}
