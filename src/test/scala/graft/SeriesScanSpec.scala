package graft

import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.etl.{Densify, Interpolate, MarketCalendar, SeriesScan, Sessionize}

/** [[SeriesScan]] and the stage objects built on it against the window
  * formulation they replaced ([[EtlWindowRef]]): every column of every
  * row, doubles by raw bits, nulls equal, and the same schema (names,
  * types, nullability). */
class SeriesScanSpec extends SparkSpec {

  private val Min = 60L * 1000000000L
  private val Gaps = Seq(Min, 2 * Min, 3 * Min)
  private val Fill = Seq("open", "high", "low", "close", "volume")
  private val Days = Seq(LocalDate.of(2024, 3, 8), LocalDate.of(2024, 3, 11)) // EST, EDT

  private val schema = StructType(Seq(
    StructField("ticker", StringType), StructField("ds", StringType),
    StructField("ws", LongType)) ++ Fill.map(StructField(_, DoubleType)))

  /** One ticker-day of FIXTURES.md bars from the open: 1- and 2-minute
    * holes, 4–30-minute splits, single-row islands at the start, inside
    * and at the end, leading and trailing null cells in an island, an
    * island whose volume is null throughout, NaN cells and 5 % random
    * null cells. */
  private def day(rnd: Random, t: String, d: LocalDate): Seq[Row] = {
    val n = 90
    var ws = MarketCalendar.marketOpenCloseNanos(d)._1
    (0 until n).map { i =>
      val steps =
        if (i == 0) 0
        else if (i == 1 || i == 30 || i == 31 || i == 46 || i == n - 1) 4 + rnd.nextInt(27)
        else if (i > 31 && i < 46) 1 + rnd.nextInt(2)
        else rnd.nextInt(20) match {
          case 0 => 2
          case 1 => 3
          case 2 => 4 + rnd.nextInt(27)
          case _ => 1
        }
      ws += steps * Min
      // prices near zero: an interpolated cell keeps the low bits that an
      // ulp of the slope arithmetic changes
      val px = rnd.nextGaussian() * 4.0
      def cell(x: Double): Any = if (rnd.nextInt(20) == 0) null else x
      val open = if (i == 1 || i == 2 || i == 28 || i == 29) null else cell(px - 0.1)
      val high = if (i == 5 || i == 50) Double.NaN else cell(px + 0.5)
      val low = if (i == 51) Double.NaN else cell(px - 0.5)
      val vol = if (i > 30 && i < 46) null else cell(rnd.nextInt(500).toDouble)
      Row(t, d.toString, ws, open, high, low, cell(px), vol)
    }
  }

  private lazy val bars: DataFrame = {
    val rnd = new Random(7)
    val rows = for (t <- Seq("AA", "BB", "CC", "DD", "EE"); d <- Days) yield day(rnd, t, d)
    spark.createDataFrame(java.util.Arrays.asList(rows.flatten: _*), schema)
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    assert(g.schema == want.schema, s"$what schema")
    def cells(d: DataFrame): Seq[String] = d.collect().map(_.toSeq.map {
      case null => "null"
      case x: Double => s"d${java.lang.Double.doubleToRawLongBits(x)}"
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    val (a, b) = (cells(g), cells(want))
    assert(a.size == b.size, s"$what: ${a.size} rows vs ${b.size}")
    assert(a == b, s"$what: first difference ${a.zip(b).find(p => p._1 != p._2)}")
  }

  test("each stage ≡ its window formulation, bit for bit") {
    assert(bars.count() == 900)
    Seq(Seq("ticker", "ds") -> bars,
      Seq("ticker") -> bars.filter(col("ds") === Days.head.toString).drop("ds")
    ).foreach { case (keys, df) =>
      val sz = EtlWindowRef.sessionize(df, keys, "ticker", "ws", Gaps)
      assertSame(Sessionize(df, keys, "ticker", "ws", Gaps), sz, s"sessionize $keys")
      val dk = keys ++ Seq("island", "sub_ticker")
      val dz = EtlWindowRef.densify(sz, dk, "ws", Min)
      assertSame(Densify(sz, dk, "ws", Min), dz, s"densify $keys")
      assertSame(Interpolate(dz, keys :+ "island", "ws", Fill),
        EtlWindowRef.interpolate(dz, keys :+ "island", "ws", Fill), s"interpolate $keys")
    }
  }

  test("the fused scan ≡ the chained window formulation, bit for bit") {
    def chain(df: DataFrame, keys: Seq[String], step: Long, gaps: Seq[Long]) =
      EtlWindowRef.interpolate(
        EtlWindowRef.densify(EtlWindowRef.sessionize(df, keys, "ticker", "ws", gaps),
          keys ++ Seq("island", "sub_ticker"), "ws", step),
        keys :+ "island", "ws", Fill)
    assertSame(SeriesScan(bars, Seq("ticker", "ds"), "ws", Some((Gaps, "ticker")),
      Some(Min), Fill), chain(bars, Seq("ticker", "ds"), Min, Gaps), "ns bars")
    // the registry's µs-ws minute bars
    val mb = graft.queries.EventBars.minuteBars(spark, "/root/testdata/sf0.001")
      .drop("event_id")
    val us = graft.queries.EventBars.StepMicros
    val usGaps = Seq(us, 2 * us, 3 * us)
    assertSame(SeriesScan(mb, Seq("ticker"), "ws", Some((usGaps, "ticker")), Some(us), Fill),
      chain(mb, Seq("ticker"), us, usGaps), "minute bars")
  }
}
