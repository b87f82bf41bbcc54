package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.etl.MarketCalendar
import graft.ind.IndicatorPipeline
import graft.io.{BarsIO, Downloader}

/** E1 downloader assembly (data_download_yahoo.py main):
  * S1 ticker list → G4 chunking → emulated wide fetch → G5 flatten →
  * P1 projection → S4 sink, then the DAG handoff t1 >> t2
  * (airflow_dag.py:29-44) into the indicators task.
  */
class DownloaderSpec extends SparkSpec {

  private val date = LocalDate.of(2024, 3, 5)
  private val openNs = MarketCalendar.marketOpenCloseNanos(date)._1
  private val minNs = 60L * 1000000000L
  private val fields = Seq("Volume", "Open", "Close", "High", "Low", "Adj Close")

  test("break_chunks: full chunks then remainder (utils.py:89-107)") {
    assert(Downloader.breakChunks((1 to 25).toSeq, 10) ==
      Seq((1 to 10).toSeq, (11 to 20).toSeq, (21 to 25).toSeq))
    assert(Downloader.breakChunks((1 to 20).toSeq, 10) ==
      Seq((1 to 10).toSeq, (11 to 20).toSeq))
    assert(Downloader.breakChunks(Seq.empty[Int], 10) == Seq.empty)
    assert(Downloader.breakChunks(Seq(1, 2), 10) == Seq(Seq(1, 2)))
  }

  /** yf.download-shaped wide frame: window_start + {ticker}:{Field}
    * columns, 40 market minutes, per-ticker price offsets. */
  private def wideFixture(tickers: Seq[String]): DataFrame = {
    val schema = StructType(
      StructField("window_start", LongType) +:
        tickers.flatMap(t => fields.map(f =>
          StructField(s"$t:$f", DoubleType))))
    val rows = (0 until 40).map { i =>
      val px = 100.0 + i
      Row.fromSeq(
        (openNs + i * minNs) +:
          tickers.flatMap(t => {
            val o = t.length.toDouble // deterministic per-ticker offset
            Seq(1000.0, px + o, px + o, px + o + 0.5, px + o - 0.5, px + o)
          }))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def tickerCsv(syms: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile("spy", ".csv")
    java.nio.file.Files.write(f,
      ("Symbol\n" + syms.mkString("\n") + "\n").getBytes)
    f.toString
  }

  test("E1 end-to-end: chunked fetch -> flatten -> sink; then t1 >> t2") {
    // 23 CSV symbols + SPY/VOO appended by S1 = 25 tickers → chunks 10/10/5
    val syms = (1 to 23).map(i => f"TK$i%02d")
    val csv = tickerCsv(syms)
    val base = java.nio.file.Files.createTempDirectory("dl").toString
    val fetched = scala.collection.mutable.ArrayBuffer[Seq[String]]()

    val n = Downloader.run(spark, csv, date.toString, "1m", base) { tc =>
      fetched += tc
      Some(wideFixture(tc))
    }
    // chunking followed the reference rule
    assert(fetched.map(_.length).toSeq == Seq(10, 10, 5))
    assert(fetched.flatten.toSet == (syms ++ Seq("SPY", "VOO")).toSet)
    // 25 tickers × 40 bars
    assert(n == 1000L)

    // t2: indicators on the written day (DAG handoff via parquet at rest)
    val day = BarsIO.readDay(spark, base, "1m", date.toString)
      .select(graft.model.Schemas.rawBars.fieldNames
        .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val features = IndicatorPipeline.run(day, date)
    // 40 bars − 33 warm-up = 7 rows per ticker
    assert(features.count() == 25L * 7)
    assert(features.select("ticker").distinct().count() == 25)
  }

  test("flattenWide: incomplete tickers dropped; all-incomplete is empty") {
    val wide = wideFixture(Seq("AAA", "BBB"))
      .drop("BBB:Adj Close") // BBB now missing a required field
    val out = Downloader.flattenWide(wide, Seq("AAA", "BBB"))
    assert(out.columns.toSeq == graft.model.Schemas.rawBars.fieldNames.toSeq)
    assert(out.select("ticker").distinct().collect().map(_.getString(0))
      .toSeq == Seq("AAA"))

    // no ticker complete → empty frame with the rawBars schema, no throw
    val none = Downloader.flattenWide(wide.drop("AAA:Volume"), Seq("AAA", "BBB"))
    assert(none.schema == graft.model.Schemas.rawBars)
    assert(none.count() == 0L)
  }

  test("flattenWide: a NaN cell is written as null and interpolated, not dropped") {
    import org.apache.spark.sql.functions.{col, isnan, lit, when}
    // pandas → pyarrow stores a NaN cell as a parquet null; a NaN that
    // reached the raw day would poison BBB's recursive indicators from
    // bar 10 on, and P4's dropna would then drop all of BBB's rows.
    val csv = tickerCsv(Seq("AAA", "BBB"))
    val base = java.nio.file.Files.createTempDirectory("dlnan").toString
    val nanAt = openNs + 10 * minNs
    Downloader.run(spark, csv, date.toString, "1m", base) { tc =>
      Some(Seq("Close", "Adj Close").foldLeft(wideFixture(tc)) { (w, f) =>
        w.withColumn(s"BBB:$f", when(col("window_start") === nanAt,
          lit(Double.NaN)).otherwise(col(s"`BBB:$f`")))
      })
    }
    val day = BarsIO.readDay(spark, base, "1m", date.toString)
      .select(graft.model.Schemas.rawBars.fieldNames.map(col).toIndexedSeq: _*)
    val cell = day.filter(col("ticker") === "BBB" && col("window_start") === nanAt)
      .select("close", "adj_close").collect()
    assert(cell.length == 1 && cell(0).isNullAt(0) && cell(0).isNullAt(1))
    assert(day.filter(isnan(col("close")) || isnan(col("adj_close"))).isEmpty)

    // BBB keeps its 7 post-warm-up rows, all after the filled bar
    val bbb = IndicatorPipeline.run(day, date)
      .filter(col("ticker").startsWith("BBB")).collect()
    assert(bbb.length == 7)
    assert(bbb.forall(_.getLong(0) > nanAt))
  }

  test("empty fetches mean nothing is written (reference early return)") {
    val csv = tickerCsv(Seq("AAA", "BBB"))
    val base = java.nio.file.Files.createTempDirectory("dl0").toString
    val n = Downloader.run(spark, csv, date.toString, "1m", base)(_ => None)
    assert(n == 0L)
    assert(!new java.io.File(base).toPath.resolve("interval=1m").toFile.exists)
  }

  test("zero-row fetched frames: nothing written, 0 rows counted") {
    val csv = tickerCsv(Seq("AAA", "BBB"))
    val base = java.nio.file.Files.createTempDirectory("dlz").toString
    val n = Downloader.run(spark, csv, date.toString, "1m", base) { tc =>
      Some(wideFixture(tc).limit(0))
    }
    assert(n == 0L)
    assert(!new java.io.File(base).toPath.resolve("interval=1m").toFile.exists)
  }

  test("one empty chunk among full ones: the count is the rows written") {
    // 23 CSV symbols + SPY/VOO = chunks of 10/10/5; the second is empty
    val csv = tickerCsv((1 to 23).map(i => f"TK$i%02d"))
    val base = java.nio.file.Files.createTempDirectory("dl1").toString
    var chunk = 0
    val n = Downloader.run(spark, csv, date.toString, "1m", base) { tc =>
      chunk += 1
      Some(if (chunk == 2) wideFixture(tc).limit(0) else wideFixture(tc))
    }
    assert(n == 15L * 40)
    assert(n == BarsIO.readDay(spark, base, "1m", date.toString).count())
  }
}
