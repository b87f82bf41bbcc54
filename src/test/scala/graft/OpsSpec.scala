package graft

import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, TextOps}

/** Extended-operator specs: text hashing determinism, simhash range,
  * LSH candidate soundness, multimodal stub decode.
  */
class OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fingerprint: known fold value, deterministic across runs") {
    val fp = spark.sql(
      s"""SELECT ${TextOps.fingerprintSpark(TextOps.wordHashesSpark(TextOps.toksSpark))} AS fp
         |FROM (SELECT 'ab ba' AS text)""".stripMargin)
      .collect()(0).getLong(0)
    // wordHashes('ab ba') = [132932, 133062]; fold base 31:
    assert(fp == 132932L * 31 + 133062L)
  }

  test("shingles: n tokens yield n-2 3-gram shingles; short docs none") {
    val row = spark.sql(
      s"""SELECT size(${TextOps.shinglesSpark("wh")}) AS n5, size(wh) AS nw
         |FROM (SELECT ${TextOps.wordHashesSpark(TextOps.toksSpark)} AS wh
         |      FROM (SELECT 'a b c d e' AS text))""".stripMargin).collect()(0)
    assert(row.getInt(0) == 3 && row.getInt(1) == 5)
    val short = spark.sql(
      s"""SELECT size(${TextOps.shinglesSpark("wh")}) AS n
         |FROM (SELECT ${TextOps.wordHashesSpark(TextOps.toksSpark)} AS wh
         |      FROM (SELECT 'a b' AS text))""".stripMargin).collect()(0)
    assert(short.getInt(0) == 0)
  }

  test("simhash stays within its 16-bit range") {
    val out = graft.queries.ExtQueries.queries("dedup_simhash")(spark, sf)
    val bad = out.filter(col("simhash") < 0 || col("simhash") > 65535).count()
    assert(bad == 0)
  }

  test("minhash-LSH candidates are sound: est_sim and jaccard in [0,1]") {
    val out = graft.queries.ExtQueries.queries("dedup_minhash_lsh")(spark, sf)
      .collect()
    out.foreach { r =>
      val est = r.getAs[Double]("est_sim"); val j = r.getAs[Double]("jaccard")
      assert(est >= 0 && est <= 1 && j >= 0 && j <= 1)
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
    }
  }

  test("incremental dedup ≡ batch pair set restricted to the shard") {
    // The one-sided probe must reproduce EXACTLY the full-corpus
    // jaccard ≥ 0.8 candidate pairs that touch the new shard
    // (doc_id ≡ 3 mod 20) — no pair lost to the asymmetric join, no
    // duplicate from the twice-generated new↔new orientation.
    val inc = graft.queries.ExtQueries.queries("dedup_incremental")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard")))
    assert(inc.length == inc.map(p => (p._1, p._2)).distinct.length)
    val batch = graft.queries.ExtQueries.queries("dedup_minhash_lsh")(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .filter(col("a") % 20 === 3 || col("b") % 20 === 3)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard")))
    assert(inc.toSet == batch.toSet,
      s"incremental=${inc.length} batch=${batch.length}")
  }

  test("incremental embedding near-dup ≡ batch pair set touching the shard") {
    // The vector face of the incremental property: the one-sided
    // signature probe (shard vec_id ≡ 3 mod 20 vs corpus) must equal
    // the full emb_neardup_lsh pair set restricted to pairs with
    // EXACTLY ONE endpoint in the shard, reoriented shard-first.
    // (Shard↔shard pairs are intra-batch — dedup'd by the batch
    // pass that built the shard, not the probe.)
    val inc = graft.queries.ExtQueries.queries("emb_neardup_incremental")(
        spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("sim"))).toSet
    val batch = graft.queries.ExtQueries.queries("emb_neardup_lsh")(spark, sf)
      .filter((col("a") % 20 === 3) =!= (col("b") % 20 === 3))
      .collect()
      .map { r =>
        val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
        val (s1, c1) = if (a % 20 == 3) (a, b) else (b, a)
        (s1, c1, r.getAs[Double]("sim"))
      }.toSet
    assert(inc == batch, s"incremental=${inc.size} batch=${batch.size}")
  }

  test("distributed SCC peel ≡ driver Tarjan on adversarial digraphs") {
    // Shapes that stress the peel: a 3-cycle, a 2-cycle, an
    // id-ASCENDING chain (worst case — one SCC assigned per outer
    // round), an id-descending chain (converges in one round), a
    // cycle with an outgoing tail, and singletons. The distributed
    // min-forward/min-backward loop (driverMaxEdges = 0) must emit
    // exactly the Tarjan labels.
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle {1,2,3}
      (10L, 11L), (11L, 10L), // 2-cycle {10,11}
      (20L, 21L), (21L, 22L), (22L, 23L), // ascending chain
      (33L, 32L), (32L, 31L), (31L, 30L), // descending chain
      (3L, 40L), (40L, 41L), (41L, 40L) // tail off the 3-cycle into a 2-cycle
    ).toDF("src", "dst")
    val nodes = ((1L to 3L) ++ (10L to 11L) ++ (20L to 23L) ++
      (30L to 33L) ++ (40L to 41L) ++ Seq(99L)).toDF("id")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = toMap(graft.ext.StronglyConnectedComponents(
      nodes, edges, driverMaxEdges = 0))
    val tarjan = toMap(graft.ext.StronglyConnectedComponents(nodes, edges))
    assert(dist == tarjan, s"dist=$dist tarjan=$tarjan")
    assert(dist(1L) == 1L && dist(2L) == 1L && dist(3L) == 1L)
    assert(dist(10L) == 10L && dist(11L) == 10L)
    assert(dist(40L) == 40L && dist(41L) == 40L)
    (20L to 23L).foreach(v => assert(dist(v) == v)) // chains: singletons
    (30L to 33L).foreach(v => assert(dist(v) == v))
    assert(dist(99L) == 99L)
  }

  test("leakage-safe split: no near-dup pair straddles a split boundary") {
    // The property corpus_split_leakage exists for: hash the CLUSTER,
    // not the doc, so every jaccard ≥ 0.8 edge has both endpoints in
    // the same split (doc-hash splits leak near-dups into eval).
    val split = graft.queries.ExtQueries.queries("corpus_split_leakage")(
        spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[String]("split"))).toMap
    val edges = graft.queries.ExtQueries.queries("dedup_minhash_lsh")(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles splits")
      assert(split(a)._1 == split(b)._1)
    }
    assert(split.values.map(_._2).toSet.subsetOf(Set("train", "valid", "test")))
  }

  test("LSH band-skew guard: a boilerplate flood cannot blow up a bucket") {
    // 400 near-identical boilerplate docs (one hot band bucket) + 30
    // distinct pairs of near-dups. Without the bucket cap the flood
    // alone yields ~80k candidate pairs; with it, flooded buckets are
    // excluded and only the small-bucket candidates survive.
    import spark.implicits._
    val boiler = (0 until 400).map(i =>
      (i.toLong, "terms of service apply to all users of this site " +
        s"revision $i", "en", "web", 60L))
    // exact duplicate pairs: identical minhash → guaranteed band match,
    // so recall here is deterministic (this test exercises the bucket
    // cap, not near-dup recall at marginal jaccard)
    val pairs = (0 until 30).flatMap(i => Seq(
      (1000L + 2 * i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i", "en", "web", 60L),
      (1001L + 2 * i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i", "en", "web", 60L)))
    val dir = java.nio.file.Files.createTempDirectory("skew").toString
    (boiler ++ pairs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val out = graft.queries.ExtQueries.queries("dedup_minhash_lsh")(spark, dir)
    val rows = out.collect()
    // bounded: no candidate involves the flooded boilerplate ids
    assert(rows.nonEmpty && rows.length < 200,
      s"candidate set not bounded: ${rows.length}")
    assert(rows.forall(r => r.getAs[Long]("a") >= 1000L),
      "flooded-bucket docs leaked into candidates")
    // the real near-dup pairs are still found
    val found = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert((0 until 30).forall(i => found((1000L + 2 * i, 1001L + 2 * i))))
  }

  test("top-k similarity: exactly k ranked neighbors per query, ordered") {
    val rows = graft.queries.ExtQueries.queries("sim_topk")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length))
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("multimodal stub decode: byte-level features from a known payload") {
    val media = Multimodal.mediaTable(
      spark.sql("SELECT 7L AS doc_id, 'ab c' AS text, 'en' AS lang"))
    assert(media.schema("payload").dataType.typeName == "binary")
    val r = Multimodal.decodeFeatures(media).collect()(0)
    assert(r.getLong(0) == 7L)     // doc_id
    assert(r.getLong(1) == 4L)     // n_bytes
    assert(r.getLong(2) == 'a'.toLong)
    assert(r.getLong(3) == 'c'.toLong)
    assert(r.getLong(4) == 1L)     // spaces
  }

  test("GraftExtensions registers all functions at session build time") {
    import org.apache.spark.sql.SparkSession
    val prior = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      val r = s2.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
          "graft_word_hashes(array('ab')) AS wh").collect()(0)
      assert(r.getDouble(0) == 11.0)
      assert(r.getSeq[Long](1) == Seq(7L * 131 * 131 + 97 * 131 + 98))
      // the extension path carries the ENTIRE shared catalog
      graft.functions.GraftFunctions.builders.foreach { case (name, _, _) =>
        assert(s2.catalog.functionExists(name), s"missing $name")
      }
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("graft_l2 bit-equals the aggregate(zip_with(...)) fold it replaced") {
    graft.functions.GraftFunctions.register(spark)
    // adversarial doubles (denormals, large/small mix, negatives): the
    // fused loop must round identically to the HOF fold element by
    // element — any reassociation would flip ulps here
    val rows = spark.range(200).selectExpr(
      "transform(sequence(0, 63), d -> CAST(sin(id * 131 + d) * pow(10.0, CAST(d % 7 AS DOUBLE) - 3.0) AS DOUBLE)) AS a",
      "transform(sequence(0, 63), d -> CAST(cos(id * 31 + d) * pow(10.0, CAST(d % 5 AS DOUBLE) - 2.0) AS DOUBLE)) AS b")
    val bad = rows.selectExpr(
      "graft_l2(a, b) AS fused",
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (s, z) -> s + z) AS hof")
      .filter("fused <> hof OR (isnan(fused) <> isnan(hof))")
      .count()
    assert(bad == 0L)
  }

  test("graft_dtw_band bit-equals the nested-fold DP it replaced") {
    graft.functions.GraftFunctions.register(spark)
    def rowF(p: String, i: String): String =
      s"aggregate(sequence(1, size(ys)), CAST(array() AS ARRAY<DOUBLE>), " +
        s"(acc, j) -> concat(acc, array(" +
        s"CASE WHEN abs($i - j) > w THEN CAST('Infinity' AS DOUBLE) ELSE " +
        s"abs(CAST(element_at(xs, $i) - element_at(ys, j) AS DOUBLE)) + " +
        s"CASE WHEN $i = 1 AND j = 1 THEN 0.0D " +
        s"WHEN $i = 1 THEN element_at(acc, j - 1) " +
        s"WHEN j = 1 THEN element_at($p, j) " +
        s"ELSE least(element_at($p, j), element_at($p, j - 1), " +
        s"element_at(acc, j - 1)) END END)))"
    val fold = s"element_at(IF(size(xs) >= 2, aggregate(sequence(2, size(xs)), " +
      s"${rowF("CAST(NULL AS ARRAY<DOUBLE>)", "1")}, " +
      s"(P, i) -> ${rowF("P", "i")}), " +
      s"${rowF("CAST(NULL AS ARRAY<DOUBLE>)", "1")}), size(ys))"
    // length mismatch > default band, single-row series, tight band
    // with unreachable cells, and equal-length noise series
    val rows = spark.range(50).selectExpr(
      "transform(sequence(1, CAST(1 + id % 13 AS INT)), " +
        "k -> CAST((id * 37 + k * k * 11) % 10007 - 5000 AS BIGINT)) AS xs",
      "transform(sequence(1, CAST(1 + (id * 7) % 17 AS INT)), " +
        "k -> CAST((id * 13 + k * 29) % 9973 - 4000 AS BIGINT)) AS ys")
      .selectExpr("xs", "ys",
        "greatest(3, abs(size(xs) - size(ys)) + 1) AS w")
    val bad = rows.selectExpr(
      "graft_dtw_band(xs, ys, w) AS fused", s"$fold AS hof")
      .filter("fused <> hof").count()
    assert(bad == 0L)
  }

  test("graft_uni_dp/bt/dp_score bit-equal the nested-fold DPs they replaced") {
    graft.functions.GraftFunctions.register(spark)
    val NEG = "-1000000000000000L"
    def innerMaxS(ban: String): String = {
      val banC = if (ban.isEmpty) "" else s"AND substring(w, j2 + 1, e - j2) <> $ban "
      s"aggregate(transform(sequence(greatest(0, e - 4), e - 1), j2 -> " +
        s"CASE WHEN element_at(lp, substring(w, j2 + 1, e - j2)) IS NOT " +
        s"NULL $banC" +
        s"AND element_at(acc, j2 + 1) > -100000000000000L THEN " +
        s"element_at(acc, j2 + 1) " +
        s"+ element_at(lp, substring(w, j2 + 1, e - j2)) " +
        s"ELSE $NEG END), $NEG, (m2, x2) -> greatest(m2, x2))"
    }
    def dpScoreS(ban: String): String =
      "aggregate(sequence(1, length(w)), " +
        s"concat(array(0L), transform(sequence(1, length(w)), z -> $NEG)), " +
        "(acc, e) -> transform(sequence(1, length(w) + 1), q2 -> " +
        s"IF(q2 - 1 <> e, element_at(acc, q2), ${innerMaxS(ban)})))"
    val dpExprS: String = {
      val innerMax = innerMaxS("")
      "aggregate(sequence(1, length(w)), " +
        s"concat(array(0L), transform(sequence(1, length(w)), " +
        s"z -> $NEG), transform(sequence(0, length(w)), z -> 0L)), " +
        "(acc, e) -> transform(sequence(1, 2 * (length(w) + 1)), q2 -> " +
        "CASE WHEN q2 - 1 <> e AND q2 <> length(w) + 2 + e " +
        "THEN element_at(acc, q2) " +
        s"WHEN q2 - 1 = e THEN $innerMax " +
        "ELSE aggregate(transform(sequence(greatest(0, e - 4), e - 1), " +
        s"j -> CASE WHEN element_at(lp, substring(w, j + 1, e - j)) IS " +
        "NOT NULL AND element_at(acc, j + 1) > -100000000000000L AND " +
        "element_at(acc, j + 1) " +
        s"+ element_at(lp, substring(w, j + 1, e - j)) " +
        s"= $innerMax THEN CAST(j AS BIGINT) ELSE 1000000000000000L " +
        "END), 1000000000000000L, (m3, x3) -> least(m3, x3)) END))"
    }
    val btExprS =
      "aggregate(sequence(1, length(w)), " +
        "concat(array(CAST(length(w) AS STRING)), " +
        "transform(sequence(1, length(w)), z -> '#')), " +
        "(acc, e) -> IF(CAST(element_at(acc, 1) AS INT) = 0, acc, " +
        "concat(array(CAST(CAST(element_at(dpv, CAST(length(w) + 2 " +
        "+ CAST(element_at(acc, 1) AS INT) AS INT)) AS INT) AS STRING)), " +
        "slice(acc, 2, size(acc) - 1), " +
        "array(substring(w, CAST(element_at(dpv, CAST(length(w) + 2 " +
        "+ CAST(element_at(acc, 1) AS INT) AS INT)) AS INT) + 1, " +
        "CAST(element_at(acc, 1) AS INT) " +
        "- CAST(element_at(dpv, CAST(length(w) + 2 " +
        "+ CAST(element_at(acc, 1) AS INT) AS INT)) AS INT))))))"
    // words with multi-byte chars and heavy repetition (tie shapes);
    // vocab = chars + 2..4-grams of the words themselves. Two maps:
    // uniform lp (maximally tie-heavy — exercises the smaller-split
    // backpointer rule) and varied lp.
    val words = spark.range(40).selectExpr(
      "concat('w', CAST(id % 7 AS STRING), " +
        "CASE WHEN id % 3 = 0 THEN 'é' ELSE 'x' END, " +
        "repeat('ab', CAST(id % 5 AS INT))) AS w")
    val vocab = words.selectExpr(
      "explode(flatten(transform(sequence(1, length(w)), i -> " +
        "transform(sequence(i, least(length(w), i + 3)), " +
        "j -> substring(w, i, j - i + 1))))) AS piece").distinct()
    for (lpExpr <- Seq("-1000000L",
        "CAST(-1000000 + length(piece) * 1000 + ascii(piece) % 97 AS BIGINT)")) {
      val lpMap = vocab.selectExpr("piece", s"$lpExpr AS plp")
        .agg(org.apache.spark.sql.functions.expr(
          "map_from_entries(array_sort(collect_list(struct(piece, plp)))) AS lp"))
      val base = words.crossJoin(org.apache.spark.sql.functions.broadcast(lpMap))
      val dpBad = base.selectExpr(
        "graft_uni_dp(w, lp) AS fused", s"$dpExprS AS hof")
        .filter("fused <> hof").count()
      assert(dpBad == 0L, s"dp mismatch for lp=$lpExpr")
      val btBad = base.selectExpr("w", "graft_uni_dp(w, lp) AS dpv")
        .selectExpr("graft_uni_bt(w, dpv) AS fused", s"$btExprS AS hof")
        .filter("fused <> hof").count()
      assert(btBad == 0L, s"bt mismatch for lp=$lpExpr")
      val banBad = base.selectExpr("w", "lp", "substring(w, 2, 2) AS bp")
        .selectExpr(
          "element_at(graft_uni_dp_score(w, lp, bp), length(w) + 1) AS fused",
          s"element_at(${dpScoreS("bp")}, length(w) + 1) AS hof")
        .filter("fused <> hof").count()
      assert(banBad == 0L, s"dp_score(ban) mismatch for lp=$lpExpr")
    }
  }

  test("graft_dot rejects non-array inputs with a typed error") {
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(1.0, 2.0)").collect()
    }
    assert(e.getMessage.contains("graft_dot") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("graft_minhash requires a literal int parameter") {
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(CAST(array(1,2) AS ARRAY<BIGINT>), id) " +
        "FROM range(1)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }

  test("new native expressions: known values and typed argument errors") {
    graft.functions.GraftFunctions.register(spark)
    // simhash of one hash h sets exactly h's low 16 bits
    val sh = spark.sql("SELECT graft_simhash(array(CAST(5 AS BIGINT)), 16) AS s")
      .collect()(0).getLong(0)
    assert(sh == 5L)
    // empty input: every bit-count is 0 (>= 0) → all bits set
    val she = spark.sql(
      "SELECT graft_simhash(CAST(array() AS ARRAY<BIGINT>), 16) AS s")
      .collect()(0).getLong(0)
    assert(she == 0xFFFFL)
    val est = spark.sql(
      "SELECT graft_minhash_est(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 8L)) AS e")
      .collect()(0).getDouble(0)
    assert(est == 0.5)
    val ads = spark.sql(
      "SELECT graft_absdev_sum(array(1D, 2D, 4D), 2D) AS a").collect()(0).getDouble(0)
    assert(ads == 3.0)
    // arity violations fail at analysis, not silently
    intercept[Exception](spark.sql("SELECT graft_simhash(array(1L))").collect())
    // graft_ind_w: a 3-argument call and a non-literal period both fail
    // when the query is analysed, for their own reason; the same call
    // with a literal period analyses.
    val bars = "FROM VALUES (1.0D, 7) AS v(c, n)"
    spark.sql(s"SELECT graft_ind_w(c, c, c, c, 7) OVER (ORDER BY c) $bars")
    Seq(s"SELECT graft_ind_w(c, c, c) OVER (ORDER BY c) $bars",
      s"SELECT graft_ind_w(c, c, c, c, n) OVER (ORDER BY c) $bars").foreach { q =>
      val e = intercept[Exception](spark.sql(q))
      assert(e.getMessage.contains("graft_ind_w expects"), e.getMessage)
    }
    // graft_frame_w: the wrong arity, a non-literal or non-positive
    // period, another frame and a missing OVER all fail at analysis.
    def frame(periods: String, over: String) =
      s"SELECT graft_frame_w(c, c, c, c, c, $periods) $over $bars"
    val ok = "6, 14, 7, 14, 28, 25, 5, 3, 12, 26"
    spark.sql(frame(ok, "OVER (ORDER BY c)"))
    Seq(
      s"SELECT graft_frame_w(c, c, c, c, c) OVER (ORDER BY c) $bars" ->
        "graft_frame_w expects 15 argument(s)",
      frame(ok.replace("25", "n"), "OVER (ORDER BY c)") ->
        "graft_frame_w expects a literal INT",
      frame(ok.replace("25", "0"), "OVER (ORDER BY c)") ->
        "graft_frame_w periods must be positive",
      frame(ok, "OVER (ORDER BY c ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)") ->
        "must match the required frame",
      frame(ok, "") -> "WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE"
    ).foreach { case (q, msg) =>
      val e = intercept[Exception](spark.sql(q))
      assert(e.getMessage.contains(msg), s"$q: ${e.getMessage}")
    }
  }

  test("graft_atr_w matches a hand-iterated Wilder ATR") {
    graft.functions.GraftFunctions.register(spark)
    // deterministic pseudo-bars: TR varies, includes gaps both directions
    val bars = (1 to 40).map { i =>
      val c = 100.0 + 7.0 * math.sin(i * 1.3) + (if (i % 11 == 0) 15.0 else 0.0)
      (i.toLong, c + 2.5, c - 1.5, c)
    }
    // reference loop: TR1 = h-l; TRi = max(h,prevC) - min(l,prevC);
    // seed = SMA(TR 1..p) at row p; then (prev*(p-1)+tr)/p
    val p = 14
    var prevC = Double.NaN
    var trsum = 0.0
    var atr = Double.NaN
    val want = bars.zipWithIndex.map { case ((_, h, l, c), i0) =>
      val tr = if (i0 == 0) h - l
        else math.max(h, prevC) - math.min(l, prevC)
      val rn = i0 + 1
      if (rn <= p) trsum += tr
      if (rn == p) atr = trsum / p
      else if (rn > p) atr = (atr * (p - 1) + tr) / p
      prevC = c
      if (rn >= p) Some(atr) else None
    }
    import spark.implicits._
    val got = bars.toDF("event_id", "high", "low", "close")
      .selectExpr("*", "'T' AS ticker", "event_id AS t")
      .selectExpr("graft_atr_w(high, low, close) OVER " +
        "(PARTITION BY ticker ORDER BY t, event_id) AS atr")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      (g, w) match {
        case (None, None) =>
        case (Some(gv), Some(wv)) => assert(math.abs(gv - wv) < 1e-12, s"row $i")
        case other => fail(s"row $i: $other")
      }
    }
  }

  test("exact dedup partitions the corpus: group sizes sum to doc count") {
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    val grouped = graft.queries.ExtQueries.queries("dedup_exact")(spark, sf)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(grouped == total)
  }

  test("OPQ allocation spreads signal dims and lifts anisotropic recall") {
    // The gate embeddings are near-isotropic, where ANY allocation ties
    // (measured: opq vs residual recall within ±0.03 at all 3 SFs) —
    // so the mechanism is pinned on crafted ANISOTROPIC data instead:
    // dims 0..7 carry 100× the variance of dims 8..63. Contiguous
    // slicing buries all signal in PQ block 0 (16 codes for an 8-D
    // signal ball); the snake allocation must deal the 8 signal dims
    // one per block, and that must show up as strictly higher ADC
    // recall end-to-end through the very queries the driver gates.
    val dir = "/tmp/opq_aniso"
    spark.range(400)
      .selectExpr("CAST(id AS INT) AS vec_id",
        "transform(sequence(0, 63), d -> CAST(CASE WHEN d < 8 " +
          "THEN 10.0 * sin(CAST(id AS DOUBLE) * (d + 1) * 0.37) " +
          "ELSE 0.1 * sin(CAST(id AS DOUBLE) * (d + 13) * 0.11) END" +
          " AS FLOAT)) AS embedding")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val perm = graft.queries.ScaleQueries.opqPerm(e)
    val signalBlocks = (0 until 8).map(d => perm.indexOf(d) / 8)
    assert(signalBlocks.toSet.size == 8,
      s"signal dims must land one per block, got $signalBlocks")
    def meanRecall(q: String): Double = {
      val r = graft.queries.ScaleQueries.queries(q)(spark, dir)
        .agg(avg("recall")).collect()(0)
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val opq = meanRecall("sim_ivf_opq_recall")
    val res = meanRecall("sim_ivf_pq_residual_recall")
    assert(opq > res, s"anisotropic recall: opq=$opq residual=$res")
  }

  test("emb_pca_topk: components near-orthogonal, variance-ordered") {
    val (_, m) = graft.queries.SimQueries.pcaCenteredCov(spark, sf)
    val comps = graft.queries.SimQueries.pcaTopComponents(m, 4)
      .map(_.map(_.toDouble))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (a <- 0 until 4; b <- a + 1 until 4) {
      val cos = dot(comps(a), comps(b)) /
        math.sqrt(dot(comps(a), comps(a)) * dot(comps(b), comps(b)))
      assert(math.abs(cos) < 0.05, s"components $a,$b cos=$cos")
    }
    // Rayleigh quotients on the ORIGINAL covariance must not increase
    // (5% slack for the 12-round convergence of near eigenvalues)
    val rq = comps.map { v =>
      val mv = m.indices.map(i =>
        m.indices.map(j => m(i)(j).toDouble * v(j)).sum).toArray
      dot(v, mv) / dot(v, v)
    }
    rq.sliding(2).foreach { case Seq(hi, lo) =>
      assert(lo <= hi * 1.05, s"Rayleigh order violated: $rq")
    }
  }

  test("sim_rerank_mmr: selection diversifies — intra-list sim not above top-3's") {
    // The property MMR exists for, stated at the level the greedy
    // max-objective actually guarantees: ACROSS queries, the mean
    // intra-list similarity of the 3 selected results is below the
    // plain top-3's (individual queries can trade a redundant pair
    // for a closer single neighbor), it strictly drops for some
    // queries, and every selected id comes from the query's top-5
    // pool.
    val mmr = graft.queries.ExtQueries.queries("sim_rerank_mmr")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val top = graft.queries.ExtQueries.queries("sim_topk")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Long]("rank")))
    val pool = top.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(_._2).toSet }
    val top3 = top.filter(_._3 <= 3).groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(_._2).toSet }
    // vectors for pairwise cosine
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id",
        "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Double]]("v").toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / math.sqrt(x.map(p => p * p).sum * y.map(p => p * p).sum)
    }
    def meanPair(ids: Set[Long]): Double = {
      val l = ids.toSeq.sorted
      val ps = for (i <- l.indices; j <- i + 1 until l.length)
        yield cos(l(i), l(j))
      ps.sum / ps.length
    }
    assert(mmr.nonEmpty)
    var strict = 0
    var (mmrSum, topSum, nq) = (0.0, 0.0, 0)
    mmr.foreach { case (q, sel) =>
      assert(sel.subsetOf(pool(q)), s"query $q selected outside its pool")
      if (sel.size == 3 && top3(q).size == 3) {
        val (ms, ts) = (meanPair(sel), meanPair(top3(q)))
        mmrSum += ms; topSum += ts; nq += 1
        if (ms < ts - 1e-9) strict += 1
      }
    }
    assert(nq > 0)
    assert(mmrSum / nq < topSum / nq,
      s"mean intra-sim: mmr ${mmrSum / nq} >= top3 ${topSum / nq}")
    assert(strict > 0, "diversity term never changed a selection")
  }

  test("emb_whiten: whitened coordinates have ~unit variance, ~zero cross-corr") {
    // The property whitening exists for: each output coordinate's
    // corpus variance is ~1 (10% slack for micro-quantization and the
    // 24-round eigen convergence) and the coordinates decorrelate.
    // Cross-correlation bound is 0.1, looser than the 0.05 component
    // orthogonality pin: at sf0.001's 500 near-isotropic vectors the
    // eigengaps are small, so a 0.05-cos component tilt amplifies
    // into ~0.075 coordinate correlation after the per-axis rescale.
    val w = graft.queries.ExtQueries.queries("emb_whiten")(spark, sf)
      .selectExpr("w1", "w2", "w3", "w4").collect()
      .map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    val n = w.length.toDouble
    assert(n > 0)
    val mean = (0 until 4).map(k => w.map(_(k)).sum / n)
    def cov(a: Int, b: Int): Double =
      w.map(r => (r(a) - mean(a)) * (r(b) - mean(b))).sum / n
    for (k <- 0 until 4)
      assert(math.abs(cov(k, k) - 1.0) < 0.1,
        s"coordinate $k variance ${cov(k, k)} not ~1")
    for (a <- 0 until 4; b <- a + 1 until 4) {
      val rho = cov(a, b) / math.sqrt(cov(a, a) * cov(b, b))
      assert(math.abs(rho) < 0.1, s"coords $a,$b corr=$rho")
    }
  }
}
