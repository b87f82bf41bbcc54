package graft.io

import java.io.InputStreamReader
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Sources and sinks (SURVEY.md §2 S1-S5).
  *
  * The reference hand-builds `{base}/{interval}/{yyyy}/{mm}/{date}
  * .parquet.gzip` paths (utils.py:61-73) and probes them with
  * os.path.isfile; here the same layout is a Hive-partitioned dataset
  * `interval=/yr=/mo=/ds=` so Catalyst prunes partitions from literal
  * filters instead of the driver juggling file names — at 100 TB this is
  * what makes per-day/per-interval reads O(1 partition), not O(listing).
  */
object BarsIO {

  /** S1: the S&P member-list CSV's `Symbol` column plus the two appended
    * ETF literals (get_spy_tickers, data_download_yahoo.py:20-24).
    *
    * The list is ~500 names that the downloader needs on the driver, so
    * it is parsed there, with the parser and the defaults of Spark's CSV
    * source (separator `,`, quote `"`, escape `\`, a header row, an empty
    * cell read as null): no Spark job, and no CSV source to start. */
  def tickerList(spark: SparkSession, csvPath: String): Seq[String] = {
    val path = new Path(csvPath)
    val settings = new CsvParserSettings()
    settings.getFormat.setDelimiter(',')
    settings.getFormat.setQuote('"')
    settings.getFormat.setQuoteEscape('\\')
    settings.setCommentProcessingEnabled(false)
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    settings.setMaxCharsPerColumn(-1)
    settings.setUnescapedQuoteHandling(UnescapedQuoteHandling.STOP_AT_DELIMITER)
    val in = new InputStreamReader(
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path),
      StandardCharsets.UTF_8)
    val rows = try new CsvParser(settings).parseAll(in).asScala.toSeq finally in.close()
    require(rows.nonEmpty, s"$csvPath: no header row")
    val sym = rows.head.indexWhere(h => h != null && h.equalsIgnoreCase("Symbol"))
    require(sym >= 0, s"$csvPath: no Symbol column in ${rows.head.mkString(",")}")
    rows.tail.map(r => r.lift(sym).filter(v => v != null && v.nonEmpty).orNull) ++
      Seq("SPY", "VOO")
  }

  /** S3: read raw bars with the fixed 8-column schema enforced by
    * projection (data_download_yahoo.py:42-51). */
  def readBars(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(
      Schemas.rawBars.fieldNames.map(col).toIndexedSeq: _*)

  /** S4: partitioned gzip parquet sink. `ds` is the %Y-%m-%d date string
    * the reference embeds in the file name (utils.py:61-73); yr/mo are
    * derived exactly like its path builder (utils.py:67). */
  def writePartitioned(df: DataFrame, base: String, interval: String,
      ds: String): Unit = {
    val parts = ds.split("-")
    df.withColumn("interval", lit(interval))
      .withColumn("yr", lit(parts(0)))
      .withColumn("mo", lit(parts(1)))
      .withColumn("ds", lit(ds))
      .write.mode(SaveMode.Overwrite)
      // replace only the partitions being written — without this,
      // Overwrite+partitionBy truncates every previously written day
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "gzip")
      .partitionBy("interval", "yr", "mo", "ds")
      .parquet(base)
  }

  /** Read back one day partition; literal equality filters prune to a
    * single Hive partition (replaces os.path.isfile probing, S5). */
  def readDay(spark: SparkSession, base: String, interval: String,
      ds: String): DataFrame =
    spark.read.parquet(base)
      .filter(col("interval") === interval && col("ds") === ds)
      .drop("interval", "yr", "mo", "ds")

  /** Small-files compaction for one day partition. The reference
    * writes ONE file per day (utils.py:76-86); an incremental or
    * streaming writer leaves many small ones, and at 100 TB the
    * listing + per-file open cost dominates the re-read. Rewrites the
    * partition into ceil(partitionBytes / targetFileBytes) files with
    * a SINGLE round-robin exchange (pinned in SinkCompactSpec). Rows
    * materialize via localCheckpoint first so the overwrite never
    * scans the very files it replaces. Returns the target file count
    * (0 = partition absent, nothing rewritten).
    */
  def compactDay(spark: SparkSession, base: String, interval: String,
      ds: String, targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val parts = ds.split("-")
    val dir = new org.apache.hadoop.fs.Path(
      s"$base/interval=$interval/yr=${parts(0)}/mo=${parts(1)}/ds=$ds")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val bytes = fs.getContentSummary(dir).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .toInt
    val day = readDay(spark, base, interval, ds).localCheckpoint()
    writePartitioned(day.repartition(n), base, interval, ds)
    n
  }

  /** Range-clustered write — the third leg of the layout story next
    * to [[writeBucketed]] (join locality) and [[compactDay]] (file
    * sizing): range-repartition + in-partition sort on `cols` so each
    * output file owns a DISJOINT key range. Parquet footer/row-group
    * min-max stats then prune range scans to the few overlapping
    * files — at 100 TB the difference between reading a time slice
    * and reading the table. One exchange; SinkCompactSpec pins the
    * disjointness invariant.
    */
  def writeClustered(df: DataFrame, path: String, n: Int,
      cols: String*): Unit =
    df.repartitionByRange(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed catalog table: pre-hash the rows into `n` buckets on
    * `bucketCol` at write time so later equi-joins/aggregations on that
    * key are exchange-free (bucket-aware scan supplies the required
    * distribution). At 100 TB this converts every recurring
    * ticker-keyed join from a full shuffle into a local merge.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      n: Int): Unit = {
    // drop first: Overwrite alone can't reclaim a managed location left
    // by a previous session (the in-memory catalog forgot the table but
    // its warehouse directory persists)
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      df.sparkSession.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), table)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(n, bucketCol).sortBy(bucketCol)
      .saveAsTable(table) // managed table under spark.sql.warehouse.dir
  }
}
