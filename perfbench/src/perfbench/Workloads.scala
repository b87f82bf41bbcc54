package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Densify, Interpolate, MarketCalendar, Sessionize}
import graft.io.{BarsIO, Downloader}
import graft.ind.{FrameIndicators, IndicatorPipeline}
import graft.model.{IndicatorConfig, Schemas}

/** One operation's outcome: its input rows and the bytes it wrote. */
final case class OpOut(rows: Long, bytes: Long)

/** Order-independent digest of a frame: row count, xor and low-32-bit sum of
  * a per-row hash, and the number of rows holding a null or NaN. */
final case class Digest(n: Long, x: Long, s: Long, bad: Long)

object Digest {
  def cols(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val bad = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType => c.isNull || isnan(c)
        case _ => c.isNull
      }
    }.reduce(_ || _)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("s"),
      sum(when(bad, 1L).otherwise(0L)).as("bad"))
  }

  def of(df: DataFrame): Digest = {
    val c = cols(df)
    val r = df.agg(c.head, c.tail: _*).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3))
  }
}

/** A workload: operations for the timed loop, a per-layer breakdown for
  * traced runs, and the output checks. */
trait Workload {
  /** Prepares closed-loop step `k`, untimed, and names its operations (a
    * curation step is the whole query list, a daily_dag step one day). */
  def startStep(k: Int): Seq[String]
  def op(s: SparkSession, name: String, k: Int, tr: Tracer): OpOut
  /** Untimed, after every operation of step `k` succeeded. */
  def endStep(s: SparkSession, k: Int): Unit
  def breakdown(s: SparkSession, tr: Tracer.On): Unit
  /** Failure messages; empty when every output check holds. */
  def check(s: SparkSession, done: Seq[(String, Int)]): Seq[String]
}

object Workload {
  val Interval = "1m"

  def fileBytes(root: File): (Long, Long) =
    if (!root.exists) (0L, 0L)
    else if (root.isFile) {
      val n = root.getName
      if (n.startsWith(".") || n.startsWith("_")) (0L, 0L) else (root.length, 1L)
    } else root.listFiles().map(fileBytes).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

import Workload._

/** The reference DAG, `download >> indicators`, once per trading day.
  * Operation 0 primes the JVM at full size; it and operation 1 both process
  * the first day, so the check can compare two repetitions. */
final class DailyDag(m: Manifest) extends Workload {
  private val days = m.list("days")
  private def day(k: Int) = days(math.max(0, k - 1) % days.size)
  private def base(k: Int) = s"${m.work}/ops/dag-$k"
  private val digests = scala.collection.mutable.Map.empty[Int, Digest]
  private val errs = Seq.newBuilder[String]

  def startStep(k: Int): Seq[String] = Seq("day")

  private def dag(s: SparkSession, csv: String, chunks: String, ds: String,
      base: String, tr: Tracer): OpOut = {
    val raw = s"$base/raw"
    val feat = s"$base/feat"
    val n = tr.span("io.ingest_s") {
      Downloader.run(s, csv, ds, Interval, raw, 10)(tc =>
        Some(s.read.parquet(s"$chunks/$ds/chunk-${tc.head}.parquet")))
    }
    val bars = BarsIO.readDay(s, raw, Interval, ds)
    BarsIO.writePartitioned(IndicatorPipeline.run(bars, LocalDate.parse(ds)),
      feat, Interval, ds)
    val back = BarsIO.readDay(s, feat, Interval, ds).count()
    if (back <= 0) throw new IllegalStateException(s"no indicator rows for $ds")
    val (rb, rf) = fileBytes(new File(raw))
    val (fb, ff) = fileBytes(new File(feat))
    tr.count("io.bytes_written", (rb + fb).toDouble)
    tr.count("io.files_written", (rf + ff).toDouble)
    OpOut(n, rb + fb)
  }

  def op(s: SparkSession, name: String, k: Int, tr: Tracer): OpOut =
    dag(s, m("tickers_csv"), m("chunks"), day(k), base(k), tr)

  /** On the raw bars operation 1 wrote: io times, then self times of the
    * pipeline's stages as differences of successive prefix cuts, composed
    * from the same public stage functions `IndicatorPipeline.run` chains
    * (each cut the median of three noop materialisations), and row counts at
    * the cuts. */
  def breakdown(s: SparkSession, tr: Tracer.On): Unit = {
    val ds = day(1)
    val date = LocalDate.parse(ds)
    val b = base(1)
    def med3(body: => Unit): Double = Stats.median((1 to 3).map(_ => time(body)))
    tr.count("io.read_s", med3(noop(BarsIO.readDay(s, s"$b/raw", Interval, ds))))
    val raw = BarsIO.readDay(s, s"$b/raw", Interval, ds).localCheckpoint()

    val cfg = IndicatorConfig()
    val ts = cfg.timeColumn
    val (mst, met) = MarketCalendar.marketOpenCloseNanos(date)
    val filtered = raw
      .filter(col(ts).isNotNull)
      .filter(col("ticker").isNotNull)
      .filter(col(ts) >= lit(mst) && col(ts) < lit(met))
      .withColumn(cfg.volumeColumn, col(cfg.volumeColumn).cast("double"))
    val sessioned = Sessionize(filtered, "ticker", ts, cfg.allowedGapsSec.map(_ * 1000000000L))
    val densified = Densify(sessioned, Seq("ticker", "island", "sub_ticker"), ts,
      cfg.gridStepSec * 1000000000L)
    val filled = Interpolate(densified, Seq("ticker", "island"), ts,
      Seq(cfg.volumeColumn, "open", cfg.closeUnadjColumn, cfg.highColumn,
        cfg.lowColumn, cfg.closeColumn))
    val framed = FrameIndicators.addAll(filled, Seq("ticker", "island"), Seq(ts),
      price = cfg.closeColumn, cfg = cfg)
    val full = IndicatorPipeline.run(raw, date)
    val t = Seq(filtered, sessioned, densified, filled, framed, full).map(df => med3(noop(df)))
    Seq("etl.sessionize_s", "etl.densify_s", "etl.interpolate_s", "ind.frame_s",
      "ind.recursive_s").zipWithIndex.foreach { case (n, i) => tr.count(n, t(i + 1) - t(i)) }

    val rowsIn = raw.count()
    val nBefore = IndicatorPipeline.run(raw, date, cfg.copy(skipNa = false)).count()
    val nOut = full.count()
    tr.count("etl.rows_in", rowsIn.toDouble)
    tr.count("etl.rows_filtered", (rowsIn - filtered.count()).toDouble)
    tr.count("etl.islands", sessioned.select("ticker", "island").distinct().count().toDouble)
    tr.count("etl.grid_rows_added", (densified.count() - sessioned.count()).toDouble)
    tr.count("ind.rows_out", nOut.toDouble)
    tr.count("ind.warmup_drop_ratio",
      if (nBefore == 0) 0.0 else (nBefore - nOut).toDouble / nBefore)

    val feat = full.localCheckpoint()
    tr.count("io.features_write_s", Stats.median((1 to 3).map(i =>
      time(BarsIO.writePartitioned(feat, s"${m.work}/breakdown/feat-$i", Interval, ds)))))
    // the same days as one multi-day job: per-day cost without the per-job
    // overhead, for comparison with op_s_p50
    val ks = (1 to 5).filter(k => new File(s"${base(k)}/raw").exists)
    val range = ks.map(k => BarsIO.readDay(s, s"${base(k)}/raw", Interval, day(k)))
      .reduce(_.unionByName(_)).localCheckpoint()
    val dates = ks.map(k => LocalDate.parse(day(k))).distinct
    tr.count("ind.range_day_s",
      time(noop(IndicatorPipeline.runRange(range, dates))) / dates.size)
  }

  /** Checks the indicator table step `k` wrote and keeps its digest, then
    * removes the step's files that nothing reads later: the features of
    * steps from 2 on, the raw bars of steps from 6 on (the traced breakdown
    * reads those of steps 1-5). Removed this soon, they are mostly still
    * unwritten pages, which cost no disk writes and no slow deletes. */
  def endStep(s: SparkSession, k: Int): Unit = {
    val t = BarsIO.readDay(s, s"${base(k)}/feat", Interval, day(k))
    if (t.columns.toSeq != Schemas.indicatorColumns)
      errs += s"day ${day(k)}: columns ${t.columns.mkString(",")}"
    val d = Digest.of(t)
    if (d.n == 0 || d.bad != 0) errs += s"day ${day(k)}: $d (empty or null/NaN rows)"
    digests(k) = d
    if (k >= 2) FileUtils.deleteDirectory(new File(s"${base(k)}/feat"))
    if (k >= 6) FileUtils.deleteDirectory(new File(base(k)))
  }

  def check(s: SparkSession, done: Seq[(String, Int)]): Seq[String] = {
    done.foreach { case (_, k) =>
      if (!digests.contains(k)) errs += s"day ${day(k)}: written table not checked" }
    val ds = day(1)
    if (digests.get(0) != digests.get(1))
      errs += s"day $ds: repetitions differ: ${digests.get(0)} vs ${digests.get(1)}"
    // the day's raw bars plus generated null-ticker rows, which both
    // pipelines must skip: the per-day and the one-day range pipeline give
    // the rows the per-day job wrote
    val date = LocalDate.parse(ds)
    val raw = BarsIO.readDay(s, s"${base(1)}/raw", Interval, ds)
      .unionByName(BarsIO.readBars(s, m("null_tickers")))
    val a = Digest.of(IndicatorPipeline.run(raw, date))
    val r = Digest.of(IndicatorPipeline.runRange(raw, Seq(date)).drop("ds"))
    digests.get(1).foreach { w =>
      if (a != w) errs += s"day $ds: run $a vs written $w"
      if (r != w) errs += s"day $ds: runRange $r vs written $w"
    }
    Console.err.println(s"[perfbench] daily_dag $ds digest $r")
    errs.result()
  }
}

/** A fixed list of registry queries over the generated test tables; each
  * step reads its tables from a fresh directory, so no process cache keyed
  * on the directory answers a repeat. */
final class Curation(m: Manifest) extends Workload {
  private val queries = PerLayer.queries
  private val tables = Seq("documents", "embeddings", "events")
  /** The tables each query reads: those its oracle SQL names. */
  private val reads: Map[String, Seq[String]] = queries.map { q =>
    q -> tables.filter(t => s"(?s).*\\b$t\\b.*".r.matches(SparkEntry.oracleSql(q)))
  }.toMap
  private val inputRows = reads.map { case (q, ts) => q -> ts.map(t => m(s"rows.$t").toLong).sum }

  // the oracle SQL of each query, for the DuckDB comparison after the run
  locally {
    val w = new java.io.PrintWriter(new File(s"${m.work}/oracle_sql.json"), "UTF-8")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    try w.print(om.writeValueAsString(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava))
    finally w.close()
  }

  def startStep(k: Int): Seq[String] = {
    linkTables(m("tables"), dir(k))
    queries
  }

  /** The tables under a new path: hard links, so nothing is written. */
  private def linkTables(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    tables.foreach(t => Files.createLink(Paths.get(s"$to/$t.parquet"),
      Paths.get(s"$from/$t.parquet")))
  }

  private def dir(k: Int) = s"${m.work}/cur/in-$k"
  private def outDir(k: Int) = s"${m.work}/cur/out-$k"

  private def run(s: SparkSession, q: String, in: String, out: String,
      tr: Tracer): Long = {
    tr.span(s"q.${q}_s") {
      SparkEntry.queries(q)(s, in).write.mode("overwrite").parquet(s"$out/$q")
    }
    fileBytes(new File(s"$out/$q"))._1
  }

  def op(s: SparkSession, q: String, k: Int, tr: Tracer): OpOut =
    OpOut(inputRows(q), run(s, q, dir(k), outDir(k), tr))

  def endStep(s: SparkSession, k: Int): Unit = ()

  def breakdown(s: SparkSession, tr: Tracer.On): Unit = ()

  /** Outputs are compared with the DuckDB oracle and across repetitions by
    * run.py, which reads `out-<k>`; here only presence. */
  def check(s: SparkSession, done: Seq[(String, Int)]): Seq[String] =
    done.collect { case (q, k) if !new File(s"${outDir(k)}/$q/_SUCCESS").exists =>
      s"$q rep $k: no output" }
}
