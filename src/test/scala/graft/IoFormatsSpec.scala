package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.model.Schemas

/** Source/sink format coverage beyond parquet: CSV (the reference's S1
  * member-list format), JSON, and ORC roundtrips of the raw-bars schema
  * with schema enforcement on read. */
class IoFormatsSpec extends SparkSpec {

  private def sample() = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("AAPL", 10.0, 1.0, 2.0, 3.0, 0.5, 2.0, 1704067200000000000L),
      Row("MSFT", 20.0, 4.0, 5.0, 6.0, 3.5, 5.0, 1704067260000000000L)),
    Schemas.rawBars)

  private def roundtrip(fmt: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"fmt_$fmt").toString
    sample().write.mode("overwrite").format(fmt)
      .option("header", "true").save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true")
      .schema(Schemas.rawBars) // enforce types (CSV/JSON would infer)
      .load(dir)
      .select(Schemas.rawBars.fieldNames.map(col).toIndexedSeq: _*)
    val a = sample().collect().map(_.toString).sorted.toSeq
    val b = back.collect().map(_.toString).sorted.toSeq
    assert(a == b, s"$fmt roundtrip mismatch")
  }

  test("csv roundtrip preserves the raw-bars schema")(roundtrip("csv"))
  test("json roundtrip preserves the raw-bars schema")(roundtrip("json"))
  test("orc roundtrip preserves the raw-bars schema")(roundtrip("orc"))

  test("binaryFile media ingestion: per-file rows, glob pushdown, decode-ready") {
    val dir = java.nio.file.Files.createTempDirectory("media").toString
    val payloads = Map(7L -> "abc def", 42L -> "xy", 123L -> "p q r")
    payloads.foreach { case (id, s) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"img$id.bin"), s.getBytes("UTF-8"))
    }
    // a non-matching file the glob must keep unopened
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "notes.txt"), "skip".getBytes("UTF-8"))
    // a digit-less name must land a (deterministic) name-hash id, not
    // a null that NPEs the decode stubs
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cover.bin"), "zz".getBytes("UTF-8"))
    val media = graft.ext.Multimodal.readMediaDir(spark, dir, "*.bin")
    val rows = media.collect()
    assert(rows.length == 4)
    assert(rows.forall(r => !r.isNullAt(0)))
    val byId = rows.map(r => r.getLong(0) ->
      new String(r.getAs[Array[Byte]](2), "UTF-8")).toMap
    assert(payloads.forall { case (k, v) => byId.get(k).contains(v) })
    val coverId = (byId.keySet -- payloads.keySet).head
    assert(byId(coverId) == "zz")
    assert(rows.forall(_.getString(1) == "bin"))
    // the binaryFile table feeds the decode stage unchanged
    val feats = graft.ext.Multimodal.decodeFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats == byId.map { case (k, v) => k -> v.length.toLong })
  }

  test("jsonl corpus roundtrip: gzip'd, source-partitioned, schema-enforced") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    graft.io.DocsIO.writeJsonl(src, dir)
    // partitioned layout: one directory per source, gzip json inside
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("source=")).map(_.getName).sorted
    assert(parts.nonEmpty)
    assert(new java.io.File(dir, parts.head).listFiles()
      .exists(_.getName.endsWith(".json.gz")))
    val back = graft.io.DocsIO.readJsonl(spark, dir)
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.schema == src.select(src.columns.map(col).toIndexedSeq: _*).schema)
    val a = src.collect().map(_.toString).sorted.toSeq
    val b = back.collect().map(_.toString).sorted.toSeq
    assert(a == b, "jsonl corpus roundtrip mismatch")
  }

  test("jsonl FAILFAST surfaces malformed lines instead of nulling them") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_bad").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard.json"),
      "{\"doc_id\": 1, \"text\": \"ok\", \"lang\": \"en\", \"source\": \"a\", \"n_chars\": 2}\nnot-json\n"
        .getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      graft.io.DocsIO.readJsonl(spark, dir).collect()
    }
    // permissive mode reads the good line and nulls the bad one
    assert(graft.io.DocsIO.readJsonl(spark, dir, failFast = false)
      .count() == 2L)
  }

  test("persisted band index: probe join re-shuffles only the ingest") {
    // The daily-ingest posture at rest: the corpus LSH band index is
    // written ONCE as a parquet table bucketed on bk; every later
    // probe (dedup_incremental's daily shard, the streaming probe's
    // static side) reads it back already partitioned, so the join
    // exchanges ONLY the ingest side into the bucket layout — the
    // corpus never reshuffles, at any corpus size.
    import org.apache.spark.sql.functions.{col, explode, expr}
    import spark.implicits._
    val corpus = (0 until 40).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")
    val (banded, _) = graft.streaming.StreamingLshDedup.buildIndex(corpus)
    graft.io.BarsIO.writeBucketed(banded, "lsh_band_idx", "bk", 8)
    val idx = spark.table("lsh_band_idx")
    val probe = graft.queries.ExtCommon.lshDocSigs(
        Seq((100L, "alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3 theta3"))
          .toDF("doc_id", "text"))
      .select(col("doc_id"), explode(col("bks")).as("bk"))
    val joined = probe.hint("merge").join(idx, Seq("bk"))
      .filter(col("doc_id") =!= col("corpus_id"))
    assert(joined.count() > 0)
    val plan = joined.queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 1, s"expected 1 exchange (probe side only):\n${plan.take(2000)}")
    assert(plan.contains("Bucketed: true"),
      s"index scan must be bucket-aware:\n${plan.take(2000)}")
  }

  test("persisted IVF index: cell probe re-shuffles only the query side") {
    // The vector twin of the band-index posture: the trained,
    // cell-assigned corpus is written ONCE bucketed on cell; a later
    // query batch (already quantized — StreamingAnnProbe's fold or a
    // batch assignCells pass) joins it with ONE exchange on the query
    // side and a bucket-aware index scan — the corpus vectors never
    // reshuffle, at any corpus size.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def vec(g: Int, tilt: Double): Seq[Double] = {
      val v = Array.fill(4)(0.0); v(g) = 1.0; v((g + 1) % 4) += tilt; v.toSeq
    }
    val corpus = (0 until 40).map(i => (i.toLong, vec(i % 4, 0.02 * i)))
      .toDF("vec_id", "v")
    val (cents, cells) = graft.streaming.StreamingAnnProbe.buildIndex(corpus)
    graft.io.BarsIO.writeBucketed(cells, "ivf_cell_idx", "cell", 8)
    val idx = spark.table("ivf_cell_idx")
    val probe = Seq((100L, vec(2, 0.01))).toDF("q_id", "v")
      .withColumn("nrm", org.apache.spark.sql.functions.expr(
        "sqrt(graft_dot(v, v))"))
      .withColumn("cell", graft.streaming.StreamingAnnProbe.cellOf(
        col("v"), col("nrm"), cents))
    val joined = probe.hint("merge").join(idx, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
    assert(joined.count() > 0)
    val plan = joined.queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 1, s"expected 1 exchange (probe side only):\n${plan.take(2000)}")
    assert(plan.contains("Bucketed: true"),
      s"index scan must be bucket-aware:\n${plan.take(2000)}")
  }

  test("csv ticker list source appends the two ETF literals") {
    val dir = java.nio.file.Files.createTempDirectory("tick").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/members.csv"),
      "Symbol,Name\nAAPL,Apple\nMSFT,Microsoft\n")
    val out = graft.io.BarsIO.tickerList(spark, s"$dir/members.csv").sorted
    assert(out == Seq("AAPL", "MSFT", "SPY", "VOO"))
  }
}
