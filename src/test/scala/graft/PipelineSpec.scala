package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.etl.{MarketCalendar, Validate}
import graft.ind.IndicatorPipeline
import graft.io.BarsIO
import graft.model.{IndicatorConfig, Schemas}

/** E2-faithful pipeline over raw ns-domain bars (SURVEY.md §5.4):
  * market-hours boundaries, island trim, warm-up dropna, output schema;
  * plus partitioned sink roundtrip and P10 validations.
  */
class PipelineSpec extends SparkSpec {

  private val date = LocalDate.of(2024, 3, 5) // EST (pre-DST): open = 14:30 UTC
  private val (openNs, closeNs) = MarketCalendar.marketOpenCloseNanos(date)
  private val minNs = 60L * 1000000000L
  private val sf = "/root/testdata/sf0.001"

  /** 40 consecutive market minutes + pre/at-close/post rows + a 2-row
    * tail island after a 5-minute break. */
  private def rawRows(): Seq[Row] = {
    val inMarket = (0 until 40).map(i => bar("AAPL", openNs + i * minNs, 100.0 + i))
    val tail = Seq(bar("AAPL", openNs + 46 * minNs, 90.0),
      bar("AAPL", openNs + 47 * minNs, 91.0))
    val excluded = Seq(
      bar("AAPL", openNs - 5 * minNs, 1.0),   // pre-market
      bar("AAPL", closeNs, 2.0),              // at close bound (exclusive)
      bar("AAPL", closeNs + minNs, 3.0),      // post-market
      bar(null, openNs + minNs, 4.0))         // null ticker (P5)
    inMarket ++ tail ++ excluded
  }

  private def rawDay() = spark.createDataFrame(
    java.util.Arrays.asList(rawRows(): _*), Schemas.rawBars)

  private def bar(t: String, ws: Long, px: Double): Row =
    Row(t, 1000.0, px, px, px + 0.5, px - 0.5, px, ws)

  test("market-hours filter: [09:30, 16:30) ET, close bound exclusive") {
    val out = IndicatorPipeline.run(rawDay(), date)
    val ws = out.collect().map(_.getLong(0))
    assert(ws.forall(w => w >= openNs && w < closeNs))
  }

  test("full run: 18-col schema, warm-up trimmed, sub-ticker naming") {
    val out = IndicatorPipeline.run(rawDay(), date)
    assert(out.columns.toSeq == Schemas.indicatorColumns)
    val rows = out.collect()
    // island 0 = 40 rows; macd_hist (longest lookback 33) leaves 40-33 = 7.
    // tail island (2 rows) is all-warm-up → fully dropped by P4.
    assert(rows.length == 7)
    assert(rows.forall(_.getString(18) == "AAPL-0"))
    val first = rows.map(_.getLong(0)).min
    assert(first == openNs + 33 * minNs)
    // monotone close ⇒ rsi pinned at 1.0 (scaled)
    assert(rows.forall(_.getDouble(7) == 1.0))
  }

  test("renamed source columns via IndicatorConfig produce identical output") {
    // Regression: FrameIndicators hardcoded close/high/low/volume, so a
    // config with renamed columns was silently ignored.
    val renamed = rawDay()
      .withColumnRenamed("volume", "vol_x")
      .withColumnRenamed("close", "px_close")
      .withColumnRenamed("high", "px_high")
      .withColumnRenamed("low", "px_low")
      .withColumnRenamed("adj_close", "px_adj")
    val cfg = graft.model.IndicatorConfig(
      closeColumn = "px_adj", closeUnadjColumn = "px_close",
      highColumn = "px_high", lowColumn = "px_low", volumeColumn = "vol_x")
    val got = IndicatorPipeline.run(renamed, date, cfg)
      .collect().map(_.toString).sorted
    val want = IndicatorPipeline.run(rawDay(), date)
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("skipNa=false keeps warm-up rows and the short island") {
    val out = IndicatorPipeline.run(rawDay(), date,
      graft.model.IndicatorConfig(skipNa = false))
    // 40 + 2 observed (no grid gaps inside islands)
    assert(out.count() == 42)
    assert(out.filter(out("ticker") === "AAPL-1").count() == 2)
  }

  test("partitioned sink roundtrip prunes to one day partition") {
    val dir = java.nio.file.Files.createTempDirectory("barsio").toString
    BarsIO.writePartitioned(rawDay(), dir, "1m", "2024-03-05")
    BarsIO.writePartitioned(rawDay().withColumn("volume",
      org.apache.spark.sql.functions.lit(9.0)), dir, "1m", "2024-03-06")
    val back = BarsIO.readDay(spark, dir, "1m", "2024-03-05")
    assert(back.columns.sorted.toSeq == Schemas.rawBars.fieldNames.sorted.toSeq)
    assert(back.count() == rawDay().count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "day filter must prune partitions")
  }

  /** One day's bars for `t`: 40 on-grid minutes from exactly the open,
    * a 2-row island ending at close − 1 ns, and a row at exactly close
    * one minute after a lone bar (a 2-row island only if close leaked). */
  private def boundaryDay(t: String, d: LocalDate): Seq[Row] = {
    val (o, c) = MarketCalendar.marketOpenCloseNanos(d)
    (0 until 40).map(i => bar(t, o + i * minNs, 60.0 + i % 7 + i * 0.1)) ++
      Seq(bar(t, c - minNs - 1, 70.0), bar(t, c - 1, 71.0),
        bar(t + "_EDGE", c - minNs, 72.0), bar(t + "_EDGE", c, 73.0))
  }

  test("runRange over N days == union of per-day runs") {
    val day2 = date.plusDays(1)
    val open2 = MarketCalendar.marketOpenCloseNanos(day2)._1
    val d2Rows = (0 until 38).map(i => bar("MSFT", open2 + i * minNs, 50.0 + i * 0.5))
    // Friday EST → Monday EDT across the 2024-03-10 switch; the Sunday
    // rows sit on a day runRange is not asked for and must drop.
    val fri = LocalDate.of(2024, 3, 8)
    val sun = LocalDate.of(2024, 3, 10)
    val mon = LocalDate.of(2024, 3, 11)
    val dst = boundaryDay("IBM", fri) ++ boundaryDay("IBM", mon) ++
      boundaryDay("IBM", sun)
    val inputs = Seq(Seq(date, day2) -> (rawRows() ++ d2Rows), Seq(fri, mon) -> dst)
    for ((dates, rows) <- inputs;
         cfg <- Seq(IndicatorConfig(), IndicatorConfig(skipNa = false))) {
      val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.rawBars)
      val ranged = IndicatorPipeline.runRange(raw, dates, cfg).collect()
      assert(ranged.map(_.getString(19)).toSet == dates.map(_.toString).toSet)
      val got = ranged.map(r => Row(r.toSeq.init: _*).toString).sorted
      val perDay = dates.flatMap(d => IndicatorPipeline.run(raw, d, cfg).collect())
        .map(_.toString).sorted
      assert(got.toSeq == perDay, s"$dates skipNa=${cfg.skipNa}")
    }
    val dstRaw = spark.createDataFrame(java.util.Arrays.asList(dst: _*), Schemas.rawBars)
    val ws = IndicatorPipeline.runRange(dstRaw, Seq(fri, mon), IndicatorConfig(skipNa = false))
      .collect().map(_.getLong(0)).toSet
    Seq(fri, mon).foreach { d =>
      val (o, c) = MarketCalendar.marketOpenCloseNanos(d)
      assert(ws(o) && ws(c - 1) && !ws(c), d)
    }
  }

  test("split RSI/CMO periods are rejected when the plan is built") {
    intercept[IllegalArgumentException] {
      IndicatorPipeline.run(rawDay(), date, IndicatorConfig(rsiPeriod = 14, cmoPeriod = 9))
    }
  }

  test("allowed gaps off the grid step are rejected when the plan is built") {
    // on a 60 s grid a 90 s gap cannot be filled, and a 150 s one would
    // leave a 90 s step after its one grid row
    Seq(Seq(60L, 90L), Seq(60L, 150L)).foreach { gaps =>
      intercept[IllegalArgumentException] {
        IndicatorPipeline.run(rawDay(), date, IndicatorConfig(allowedGapsSec = gaps))
      }
    }
    assert(IndicatorPipeline.run(rawDay(), date,
      IndicatorConfig(allowedGapsSec = Seq(60L, 120L, 240L))).count() > 0)
  }

  /** Runs `graft_ind_w(close, high, low, close[, p, q])` over
    * `(series, i, close, high, low)` rows, one running window per
    * series, and checks every output of every row against
    * [[graft.ind.RecursiveIndicators.scan]] on the same series. */
  private def assertKernelMatchesScan(
      rows: Seq[(String, Long, Double, Double, Double)],
      cfg: IndicatorConfig): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    graft.functions.GraftFunctions.register(spark)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)): _*),
      StructType(Seq(StructField("s", StringType), StructField("i", LongType),
        StructField("c", DoubleType), StructField("h", DoubleType),
        StructField("l", DoubleType))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s").orderBy("i")
    val got = df
      .withColumn("_x", expr(s"graft_ind_w(c, h, l, c, ${cfg.rsiPeriod}, " +
        s"${cfg.adxPeriod})").over(w))
      .select(col("s") +: col("i") +: graft.ind.RecursiveIndicators.outputColumns
        .map(c => col(s"_x.$c")): _*)
      .collect().groupBy(_.getString(0))
    assert(got.keySet == rows.map(_._1).toSet)
    rows.groupBy(_._1).foreach { case (series, rs) =>
      val sorted = rs.sortBy(_._2)
      val close = sorted.map(_._3).toArray
      val want = graft.ind.RecursiveIndicators.scan(
        close, sorted.map(_._4).toArray, sorted.map(_._5).toArray, close, cfg)
      val act = got(series).sortBy(_.getLong(1))
      assert(act.length == sorted.length, series)
      act.zipWithIndex.foreach { case (r, i) =>
        (0 until 5).foreach { j =>
          val exp = want(i)(j)
          val v = if (r.isNullAt(j + 2)) null else r.getDouble(j + 2)
          // macd_hist (col 2) carries the kernel's documented deliberate
          // arithmetic difference — the fast EMA seed is (Σ₂₆ − Σ₁₄)/12,
          // not a re-sum of rows 15..26 — so it matches to ~1e-12, far
          // below the 1e-6 rounding both engines apply; the four
          // period-threaded outputs are bit-identical.
          val tol = if (j == 2) 1e-9 else 0.0
          assert((exp == null && v == null) ||
            (exp != null && v != null &&
              math.abs(exp.asInstanceOf[Double] - v.asInstanceOf[Double]) <= tol),
            s"$series row $i col $j: scan=$exp window=$v")
        }
      }
    }
  }

  test("fused window kernel ≡ scan at non-default periods (wilder=7, adx=10)") {
    // The graft_ind_w kernel threads BOTH its periods; this pins the
    // non-default config path runRange used to hard-reject: every one
    // of the five outputs must match the reference-faithful scan
    // bit-for-bit at (rsiPeriod=cmoPeriod=7, adxPeriod=10).
    val synthetic = (0 until 80).map { i =>
      val c = 100.0 + math.sin(i * 0.7) * 3 + (i % 5)
      ("sin", i.toLong, c, c + 1.5, c - 1.2)
    }
    assertKernelMatchesScan(synthetic,
      IndicatorConfig(rsiPeriod = 7, cmoPeriod = 7, adxPeriod = 10))

    // Default periods over the registry's event bars, one series per
    // ticker in (t, event_id) order — the ind_recursive input.
    val bars = graft.queries.EventBars.bars(spark, sf)
      .select("ticker", "t", "event_id", "close", "high", "low")
      .collect().groupBy(_.getString(0)).toSeq.flatMap { case (tk, rs) =>
        rs.sortBy(r => (r.getLong(1), r.getLong(2))).zipWithIndex.map {
          case (r, i) => (tk, i.toLong, r.getDouble(3), r.getDouble(4), r.getDouble(5))
        }
      }
    assert(bars.map(_._1).distinct.length > 1 && bars.length > 100)
    assertKernelMatchesScan(bars, IndicatorConfig())

    // A flat start (no gains, losses, ranges or moves: RSI/CMO's and
    // ±DI's zero denominators), then a constant range with no
    // directional move (DX's zero denominator), then a ramp.
    val flat = (0 until 120).map { i =>
      val c = if (i < 80) 100.0 else 100.0 + (i - 79) * 0.5
      val r = if (i < 40) 0.0 else 1.0
      ("flat", i.toLong, c, c + r, c - r)
    }
    assertKernelMatchesScan(flat, IndicatorConfig())
  }

  /** FrameIndicators.addAll (the graft_frame_w kernel) against the
    * window-expression reference [[FrameIndicatorsWindowRef.addAll]]:
    * every output column of every row, doubles by raw bits, nulls equal. */
  private def assertFrameKernelMatchesWindows(df: DataFrame, part: Seq[String],
      order: Seq[String], price: String, cfg: IndicatorConfig): Unit = {
    import org.apache.spark.sql.functions.col
    val outs = graft.functions.FrameIndicatorWindow.fieldNames(cfg.numPrevRocp)
    val keys = part ++ order
    def rows(d: DataFrame): Map[Seq[Any], Row] =
      d.select((keys ++ outs).map(col): _*).collect()
        .map(r => r.toSeq.take(keys.length) -> r).toMap
    val got = rows(graft.ind.FrameIndicators.addAll(df, part, order, price, cfg))
    val want = rows(FrameIndicatorsWindowRef.addAll(df, part, order, price, cfg))
    assert(got.size == df.count() && got.keySet == want.keySet)
    want.foreach { case (k, w) =>
      val g = got(k)
      outs.indices.map(_ + keys.length).foreach { j =>
        val same =
          if (w.isNullAt(j) || g.isNullAt(j)) w.isNullAt(j) && g.isNullAt(j)
          else if (outs(j - keys.length) == "rn") w.getInt(j) == g.getInt(j)
          else java.lang.Double.doubleToRawLongBits(w.getDouble(j)) ==
            java.lang.Double.doubleToRawLongBits(g.getDouble(j))
        assert(same, s"$k ${outs(j - keys.length)}: windows=${w.get(j)} kernel=${g.get(j)}")
      }
    }
  }

  test("graft_frame_w ≡ the window-expression formulation, bit for bit") {
    val odd = IndicatorConfig(mfiPeriod = 5, ultoscPeriod1 = 3, ultoscPeriod2 = 5,
      ultoscPeriod3 = 9, aroonoscPeriod = 7, stochFastK = 4, stochFastD = 2,
      ppoFast = 5, ppoSlow = 9, numPrevRocp = 3)

    // The registry's event bars, one series per ticker in (t, event_id) order.
    val bars = graft.queries.EventBars.bars(spark, sf)
    assert(bars.count() > 100)
    Seq(IndicatorConfig(), odd).foreach(cfg =>
      assertFrameKernelMatchesWindows(bars, Seq("ticker"), Seq("t", "event_id"),
        "close", cfg))

    // Rows (series, i, adj, close, high, low, volume); null is a null cell.
    // A flat stretch: no move, no range, no money flow (the zero
    // denominators of MFI, ULTOSC and STOCHF), then ±0.0 adjusted
    // prices (PPO's zero SMA), then a ramp.
    val flat = (0 until 100).map { i =>
      val adj = if (i < 40) 100.0 else if (i < 80) (if (i % 2 == 0) 0.0 else -0.0)
        else i - 79.0
      val c = if (i < 80) 100.0 else 100.0 + (i - 79) * 0.5
      Row("flat", i, adj, c, c, c, 1000.0)
    }
    // ±0.0 and equal highs/lows inside the AROONOSC and STOCHF frames.
    val ties = (0 until 90).map { i =>
      val z = if (i % 3 == 0) -0.0 else 0.0
      val (h, l, c) =
        if (i < 30) (z, -z, z)
        else if (i < 60) (1.0, z, -z)
        else (100.0 + (i % 4) * 0.5, 99.0 - (i % 3) * 0.5, 99.5 + (i % 2) * 0.5)
      Row("ties", i, c, c, h, l, 10.0 + i % 5)
    }
    // A walk with null adj, close, high, low and volume cells, and NaNs.
    val holes = (0 until 150).map { i =>
      val c = 50.0 + 4.0 * math.sin(i * 0.37) + (i % 7) * 0.25
      def cell(x: Double, every: Int, at: Int): Any = if (i % every == at) null else x
      Row("holes", i, cell(c * 1.01, 19, 8), cell(c, 17, 6),
        if (i == 60) Double.NaN else cell(c + 1.0, 7, 3),
        if (i == 95) Double.NaN else cell(c - 1.0, 11, 5), cell(1000.0 + i, 13, 4))
    }
    val schema = StructType(Seq(StructField("s", StringType), StructField("i", IntegerType)) ++
      Seq("adj", "close", "high", "low", "volume").map(StructField(_, DoubleType)))
    val synth = spark.createDataFrame(
      java.util.Arrays.asList(flat ++ ties ++ holes: _*), schema)
    Seq(IndicatorConfig(), odd).foreach(cfg =>
      assertFrameKernelMatchesWindows(synth, Seq("s"), Seq("i"), "adj", cfg))
  }

  test("bucketed tables join without any exchange") {
    import org.apache.spark.sql.functions.lit
    val a = rawDay().filter(org.apache.spark.sql.functions.col("ticker").isNotNull)
    val b = a.withColumn("volume", lit(7.0))
    BarsIO.writeBucketed(a, "bars_a", "ticker", 8)
    BarsIO.writeBucketed(b, "bars_b", "ticker", 8)
    val ta = spark.table("bars_a").select("ticker", "window_start", "close")
    val tb = spark.table("bars_b").select("ticker", "volume").distinct()
    val joined = ta.hint("merge").join(tb, Seq("ticker"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(joined.count() > 0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(2000)}")
  }

  test("P10 validations: 19-digit check real, 60s increments post-densify") {
    val bad = Validate.badTimestampDigits(
      rawDay().withColumn("window_start",
        org.apache.spark.sql.functions.lit(123L)), "window_start")
    assert(bad.count() == rawDay().count())
    assert(Validate.report(rawDay(), "window_start") == 0)
    val out = IndicatorPipeline.run(rawDay(), date,
      graft.model.IndicatorConfig(skipNa = false))
    // per sub-ticker the grid must be exactly 60s-stepped
    val incr = Validate.badIncrements(out, Seq("ticker"), "window_start",
      60L * 1000000000L)
    assert(incr.count() == 0)
  }
}
