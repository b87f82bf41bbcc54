package graft

/** Physical-plan shape regression tests — the scale properties the
  * engine is designed around, pinned so a refactor cannot silently
  * reintroduce a shuffle, a BroadcastNestedLoopJoin, or an interpreted
  * projection island. Checks run on the INITIAL physical plan (AQE may
  * further improve shapes at runtime — e.g. reuse the twin exchanges of
  * a self-join — but never worsen these invariants).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("q5: no cartesian, bounded exchanges; join strategy left to AQE") {
    // r13 verdict: orders/customer/supplier are SF-scaling — their
    // joins carry NO broadcast() hint (a forced broadcast OOMs at
    // 100×). At gate SFs size-based selection still broadcasts them;
    // the pin is the scale-safe invariant, not the strategy.
    val p = plan("q5_nation_revenue")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("BroadcastExchange")) // nation/region hinted
    assert(shuffles(p) <= 9, p)
  }

  test("exact all-pairs joins never plan a BroadcastNestedLoopJoin") {
    Seq("emb_neardup", "sim_topk", "sim_mips",
      "sample_hard_negatives", "emb_knn_label").foreach { q =>
      assert(!plan(q).contains("BroadcastNestedLoop"), q)
    }
  }

  test("native expression family stays inside whole-stage codegen") {
    Seq("dedup_minhash_lsh", "text_fingerprint", "dedup_simhash",
      "sim_ann_lsh", "ind_cci", "dedup_incremental",
      "sketch_quantile").foreach { q =>
      assert(!plan(q).contains("CodegenFallback"), q)
    }
  }

  test("sketch_quantile sorts per (group, partition) slice, never a group") {
    // The sketch's only full-data window is KMin's phase 1, keyed on
    // (group, spark_partition_id) — a bare-group window over the raw
    // rows would funnel n/|groups| rows through one task, the exact
    // shape the two-phase bottom-K exists to avoid. (The later
    // bare-group windows run over the ≤K-row sample.)
    assert(plan("sketch_quantile").contains("_km_p"))
  }

  test("dedup_simhash is a pure projection: zero exchanges") {
    assert(shuffles(plan("dedup_simhash")) == 0)
  }

  test("OPQ training aggregate: one exchange, map-side partials") {
    // opqPerm's only corpus pass: per-dim (n, Σq, Σq²) must reduce as
    // ONE hash exchange on dim with partial aggregation before it —
    // the d²·vectors explode is absorbed by the combiner, so only
    // d rows per map task cross the wire at any corpus size.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val p = graft.queries.ScaleQueries.opqStats(e)
      .queryExecution.executedPlan.toString
    assert(shuffles(p) == 1)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial+final")
  }

  test("pipeline_window runs end-to-end on ONE hash exchange") {
    assert(shuffles(plan("pipeline_window")) == 1)
  }

  test("pipeline_range: the whole multi-day range is ONE hash exchange") {
    // runRange's 100 TB shape: N trading days in one plan, every stage
    // keyed by (ticker, ds[, island]) — one exchange feeds
    // sessionize → densify → interpolate → frame + fused recursive
    // kernel across the full range. A per-day loop (or a second
    // exchange per stage) is exactly what this replaces.
    assert(shuffles(plan("pipeline_range")) == 1)
  }

  test("runRange: one hash exchange, no broadcast of per-day bounds") {
    // Each row looks its day's market bounds up in a literal map, so
    // the range needs no join: the (ticker, ds) exchange is the only one.
    import org.apache.spark.sql.Row
    val d = java.time.LocalDate.of(2024, 3, 5)
    val o = graft.etl.MarketCalendar.marketOpenCloseNanos(d)._1
    val rows = (0 until 5).map(i =>
      Row("AAPL", 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, o + i * 60000000000L))
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      graft.model.Schemas.rawBars)
    val p = graft.ind.IndicatorPipeline.runRange(raw, Seq(d, d.plusDays(1)))
      .queryExecution.executedPlan.toString
    assert(shuffles(p) == 1, p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("pipeline_full runs end-to-end on ONE hash exchange") {
    // the recursive family rides the fused AggregateWindowFunction on
    // the same (ticker, island) window as the frame indicators
    assert(shuffles(plan("pipeline_full")) == 1)
  }

  test("frame and recursive kernels share one Window node") {
    // graft_frame_w runs in the same operator as graft_ind_w, so the day
    // pipeline plans at most 8 Window nodes; pipeline_full adds one,
    // EventBars.minuteBars' slot numbering.
    import org.apache.spark.sql.Row
    val d = java.time.LocalDate.of(2024, 3, 5)
    val o = graft.etl.MarketCalendar.marketOpenCloseNanos(d)._1
    val rows = (0 until 5).map(i =>
      Row("AAPL", 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, o + i * 60000000000L))
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      graft.model.Schemas.rawBars)
    val day = graft.ind.IndicatorPipeline.run(raw, d)
      .queryExecution.executedPlan.toString
    Seq(day -> 8, plan("pipeline_full") -> 9).foreach { case (p, most) =>
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.length <= most, p)
      assert(windows.count(w => w.contains("graft_frame_w") &&
        w.contains("graft_ind_w")) == 1, p)
    }
  }

  test("the bars path: one exchange, one sort, the kernels' one Window node") {
    // SeriesScan sessionizes, densifies and interpolates in one pass over
    // the (series, ts) sort and hands the kernels' window its (series,
    // island, ts) order: no Window node of the ETL front end, no Generate
    // of the grid, no look-ahead frame.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.{GenerateExec, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExecBase
    val d = java.time.LocalDate.of(2024, 3, 5)
    val o = graft.etl.MarketCalendar.marketOpenCloseNanos(d)._1
    val rows = (0 until 5).map(i =>
      Row("AAPL", 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, o + i * 120000000000L))
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      graft.model.Schemas.rawBars)
    val cfg = graft.model.IndicatorConfig(skipNa = false)
    Seq(graft.ind.IndicatorPipeline.run(raw, d, cfg),
      graft.ind.IndicatorPipeline.runRange(raw, Seq(d, d.plusDays(1)), cfg)).foreach { df =>
      assert(df.collect().length == 9) // 5 bars and 4 grid rows, executed
      val p = df.queryExecution.executedPlan
      object H extends AdaptiveSparkPlanHelper
      def n(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Any]) =
        H.collectWithSubqueries(p)(pf).size
      assert(n { case e: ShuffleExchangeLike => e } == 1, p)
      assert(n { case s: SortExec => s } == 1, p)
      assert(n { case w: WindowExecBase => w } == 1, p)
      assert(n { case g: GenerateExec => g } == 0, p)
      assert(n { case s: graft.etl.SeriesScanExec => s } == 1, p)
      assert(!p.toString.toLowerCase.contains("unboundedfollowing"), p)
    }
    // pipeline_full adds EventBars.minuteBars' slot window
    val full = plan("pipeline_full")
    assert(full.linesIterator.count(_.contains("Window [")) <= 2, full)
  }

  test("as-of join is one shuffle (union before the exchange)") {
    assert(shuffles(plan("asof_join")) == 1)
  }

  test("as-of with tolerance keeps the same one-shuffle plan") {
    // the staleness bound is a post-fill projection, never extra state
    // or a second exchange
    assert(shuffles(plan("asof_tolerance")) == 1)
  }

  test("cube family expands PARTIALS, not the scan") {
    // leaf pre-agg first (scan → partial → exchange → final), Expand
    // only above it: the multi-set blowup touches |leaf groups| rows.
    // In the plan string (root-first) that reads as Expand BEFORE the
    // leaf aggregate's exchange.
    Seq("agg_cube", "agg_rollup", "agg_grouping_sets").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) == 2, s"$q: ${shuffles(p)} exchanges")
      assert(p.contains("Expand") &&
        p.lastIndexOf("Exchange hashpartitioning") > p.indexOf("Expand"),
        s"$q: Expand runs against the raw scan\n$p")
    }
  }

  test("IVF cell assignment aggregates, never window-ranks the corpus") {
    // The coarse-quantizer argmax runs as a partial-aggregatable
    // min-of-struct (emb_kmeans' shape): the broadcast crossJoin's
    // nlist-amplified rows collapse map-side to one row per vector
    // BEFORE any exchange. A row_number assignment would instead
    // shuffle all n·nlist array-carrying rows — at 100 TB that is
    // nlist× write amplification on the busiest exchange. The single
    // surviving Window in sim_ivf is the final per-query candidate
    // rank (bounded by cell size); sim_ivf_kmeans adds the same for
    // its query split only.
    Seq("sim_ivf", "sim_ivf_kmeans").foreach { q =>
      val p = plan(q)
      // WindowGroupLimit nodes (the rank<=3 pushdown) are fine; a
      // second `Window [` exec node is the corpus-wide argmax creeping
      // back.
      assert("Window \\[".r.findAllIn(p).length == 1,
        s"$q: extra Window beyond the final candidate rank\n$p")
      assert(p.contains("partial_min"),
        s"$q: assignment lost its partial aggregation\n$p")
    }
  }

  test("sim_hybrid_rrf_ann dense side probes the IVF index, never the block join") {
    // The ANN-fused hybrid exists because the exact variant's dense
    // side is the O(|Q|·n) block-partitioned cross join (bi/bj block
    // ids exploded PairBlocks ways) — a scale-killer at |Q| = n/50.
    // Pin: no block ids anywhere in the plan (the dense candidates
    // come from the trained quantizer's cell equi-join), corpus
    // assignment stays the map-side partial_min aggregate (never a
    // corpus-wide window), and the only Window nodes are the four
    // bounded ranks (lex top-20, query 2-cell probe, dense top-20,
    // fused top-5).
    // (BroadcastNestedLoopJoins DO appear — the sanctioned bounded
    // broadcast mirrors: the one-row corpus stats and the ≤nlist
    // centroid table. The scale hazard pinned here is the n-row block
    // fan-out, not those.)
    val p = plan("sim_hybrid_rrf_ann")
    assert(!p.contains("bi#") && !p.contains("bj#"),
      "block-join ids leaked into the ANN dense side")
    assert(p.contains("partial_min"),
      "corpus cell assignment lost its partial aggregation")
    assert("Window \\[".r.findAllIn(p).length == 4,
      "unexpected Window beyond the four bounded ranks")
  }

  test("sim_ivf_pq_residual: one Window (final rank), equi-joins only") {
    // the residual subtraction must stay a broadcast equi-join on the
    // cell id and the codebook argmin an aggregate — the only Window
    // exec node is the per-query candidate rank; any second one is a
    // corpus-wide window creeping into the encode path
    val p = plan("sim_ivf_pq_residual")
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("LSH band/pair exchanges carry no arrays; arrays join back by id") {
    // The band-bucket self-join and the pair dropDuplicates move
    // (doc_id, bk)/(a, b) — longs only. Shingle sets and minhash
    // signatures live in the checkpointed sigs table and join back BY
    // ID after the pair dedup, so an array-typed column may only ever
    // ride a single-id-keyed exchange (one row per doc), never the
    // band fan-out (one row per doc PER BAND per collision) or the
    // pair-keyed dedup.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val exec = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .queryExecution.executedPlan match {
      // AQE wraps the plan in a leaf node — unwrap to the initial plan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val exs = exec.collect { case e: ShuffleExchangeExec => e }
    assert(exs.nonEmpty)
    exs.foreach { e =>
      if (e.output.exists(_.dataType.isInstanceOf[ArrayType])) {
        val nKeys = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.length
          case _ => -1
        }
        assert(nKeys == 1,
          s"array-typed column on a non-id exchange: ${e.simpleStringWithNodeId()}")
      }
    }
  }

  test("sim_graph_search walk: bounded windows, arrays only on id-keyed exchanges") {
    // The un-truncated walk plan (materialize=false skips the
    // production localCheckpoints, so each hop's dual reference to the
    // prior beam duplicates its subtree — 2^hops window copies; the
    // nndescent chain below stays checkpointed and out of frame).
    // Pins: (a) every Window node is PARTITIONED (by q_id, over
    // beam·(deg+1)-bounded candidate sets) — no corpus-wide window
    // ever ranks the walk; (b) the cell assignment stays the map-side
    // partial_min aggregate; (c) an array-typed column (query/node
    // vectors) may only ride a single-id-keyed exchange — the
    // adjacency expansion, cell equi-join, and candidate dedup move
    // bare id pairs.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val df = graft.queries.SimSearchQueries
      .graphSearch(spark, sf, materialize = false)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), "cell assignment lost partials")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case pl => pl
    }
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"corpus-wide window in the walk: ${w.simpleStringWithNodeId()}"))
    exec.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      if (e.output.exists(_.dataType.isInstanceOf[ArrayType])) {
        val nKeys = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.length
          case _ => -1
        }
        assert(nKeys == 1,
          s"array-typed column on a non-id exchange: ${e.simpleStringWithNodeId()}")
      }
    }
  }

  test("sim_hnsw walk: bounded windows, arrays only on id-keyed exchanges") {
    // Same pins as the sim_graph_search audit, over the two-layer
    // walk (materialize=false — the nndescent adjacency inside stays
    // checkpointed; the L1 build + 6 hop rounds unroll into one
    // physical plan): (a) every Window node is PARTITIONED — the L1
    // kNN ranks partition by node, the hop trims by q_id; no
    // corpus-wide window anywhere in the walk; (b) an array-typed
    // column (vector payload) may only ride a single-id-keyed
    // exchange — candidate expansion and dedup move bare id pairs.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val df = graft.queries.SimSearchQueries
      .hnswSearch(spark, sf, materialize = false)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case pl => pl
    }
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"corpus-wide window in the walk: ${w.simpleStringWithNodeId()}"))
    exec.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      if (e.output.exists(_.dataType.isInstanceOf[ArrayType])) {
        val nKeys = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.length
          case _ => -1
        }
        assert(nKeys == 1,
          s"array-typed column on a non-id exchange: ${e.simpleStringWithNodeId()}")
      }
    }
  }

  test("layout_hilbert: the 8-level recurrence is one projection + one agg") {
    // The unrolled integer CASE/mask chain must stay a scan-side
    // projection: exactly ONE hash exchange (the bucket groupBy), no
    // windows, no codegen fallback — same budget as layout_zorder.
    val p = plan("layout_hilbert")
    assert(shuffles(p) == 1, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CodegenFallback"), p)
  }

  test("agg_decayed_count: integer day-counts shuffle, weights stay post-agg") {
    // Exchange 1 collapses events to (event_type, age_day) integer
    // counts map-side; exchange 2 is the 5-row event_type rollup. The
    // multiply-chain weight fold must run on the ~155-row aggregate,
    // never per event row.
    assert(shuffles(plan("agg_decayed_count")) == 2)
  }

  test("behav_survival: one user exchange, zero windows") {
    // Events collapse in ONE user_id aggregate; the risk-set and KM
    // product ride broadcast self-joins of the ≤31-row duration table
    // — no window anywhere (the sweep bans unpartitioned ones; this
    // pins none sneaks in partitioned either).
    val p = plan("behav_survival")
    assert(shuffles(p) <= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("substring-dedup shingle exchanges carry hashes and ints, no text") {
    // Ownership groupBy and the occurrence join key on the 8-byte
    // shingle hash; removal positions shuffle as (doc_id, int) pairs.
    // Token arrays and rebuilt text may only ride a single-id-keyed
    // exchange (the final per-doc join) — a string/array column on the
    // g-keyed fan-out would mean the whole corpus text re-shuffles per
    // shingle occurrence.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val exec = SparkEntry.queries("dedup_substring")(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val exs = exec.collect { case e: ShuffleExchangeExec => e }
    assert(exs.nonEmpty)
    exs.foreach { e =>
      val wide = e.output.exists(a => a.dataType.isInstanceOf[ArrayType]
        || a.dataType == StringType)
      if (wide) {
        val nKeys = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.length
          case _ => -1
        }
        assert(nKeys == 1,
          s"text/array column on a non-id exchange: ${e.simpleStringWithNodeId()}")
      }
    }
  }

  test("incremental dedup probes the band index one-sided") {
    // The shard predicate must sit BELOW the probe side's band
    // exchange — the daily ingest shuffles ~5% of the banded rows into
    // the candidate join, the corpus side flows once, unfiltered (at
    // scale it is the persisted, already-partitioned band index). A
    // filter evaluated only above the join would mean the run
    // re-paired corpus×corpus and discarded the work.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val exec = SparkEntry.queries("dedup_incremental")(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val bandEx = exec.collect {
      case e: ShuffleExchangeExec
        if (e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.exists(
            _.references.exists(_.name == "bk"))
          case _ => false
        }) => e
    }
    assert(bandEx.length == 2, s"expected 2 band exchanges, got $bandEx")
    assert(bandEx.count(_.child.toString.contains("% 20")) == 1,
      "shard filter must gate exactly ONE band-join side, below its exchange")
    assert(!bandEx.exists(_.output.exists(_.dataType.isInstanceOf[ArrayType])),
      "band exchanges must carry no array columns")
  }

  test("decontamination broadcasts the held-out shingle set") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("uniform hash sample pushes its filter to the scan") {
    val p = plan("sample_hash")
    assert(shuffles(p) == 0)
    assert(p.contains("PushedFilters") || p.contains("Filter"))
  }

  test("z-score stats broadcast back over the unshuffled input") {
    val p = plan("feat_zscore")
    assert(p.contains("BroadcastHashJoin"))
    // the event rows themselves never hash-exchange; only the per-group
    // stats aggregate does
    assert(shuffles(p) == 1)
  }

  test("scd2 builds on ONE exchange (window on the dimension key)") {
    val p = plan("cdc_scd2")
    assert(shuffles(p) == 1)
    assert(p.contains("Window"))
  }

  test("histogram broadcasts the 1-row bounds; one bucket exchange") {
    val p = plan("agg_histogram")
    assert(p.contains("BroadcastExchange"))
    // events bucket per-row against broadcast bounds; the only hash
    // exchange carries 20 bucket ids (plus the single-row bounds agg)
    assert(shuffles(p) == 1)
  }

  test("unigram LM scoring broadcasts the vocabulary") {
    val p = plan("text_unigram_lp")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("embedding centroids: map-side partial avg, one exchange") {
    val p = plan("emb_centroids")
    assert(shuffles(p) == 1)
    assert(p.contains("partial_avg") || p.contains("partial"))
  }

  test("profiling computes multi-column distincts in one Expand pass") {
    val p = plan("profile_docs")
    assert(p.contains("Expand"))
  }

  test("sorted-neighborhood dedup: one exchange, one sort, zero joins") {
    val p = plan("dedup_neighbors")
    assert(shuffles(p) == 1)
    assert(p.contains("Window"))
    assert(!p.contains("Join"))
  }

  test("ts_resample reuses the ticker exchange for the bar groupBy") {
    // minuteBars' slot window partitions on ticker; the (ticker, bar)
    // aggregate's clustering is satisfied by it → no second exchange
    val p = plan("ts_resample")
    assert(shuffles(p) == 1)
  }

  test("emb_quantize broadcasts the per-dim bounds") {
    val p = plan("emb_quantize")
    assert(shuffles(p) == 1)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("join_bloom: bitmap is one broadcast row; exact join broadcasts") {
    val p = plan("join_bloom")
    assert(p.contains("BroadcastHashJoin")) // the exact semi-join
    assert(!p.contains("SortMergeJoin"))
    // the only hash exchange builds the 128-word bitmap
    assert(shuffles(p) == 1)
  }

  test("segment dedup and CMS stay native (no codegen fallback, no BNLJ)") {
    Seq("dedup_lines", "sketch_cms").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CodegenFallback"), q)
      assert(!p.contains("BroadcastNestedLoop"), q)
    }
  }

  test("MAD outliers: median stats broadcast back over the event rows") {
    val p = plan("anomaly_mad")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dq_rules: referential check is a broadcast anti-join") {
    val p = plan("dq_rules")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("emb_pq: centroid table broadcast, codes from one argmin aggregate") {
    val p = plan("emb_pq")
    assert(p.contains("BroadcastHashJoin"))
    // one exchange: the (vec_id, block) argmin groupBy
    assert(shuffles(p) == 1)
  }

  test("hamming near-dup is a banded equi-join, codegen'd, no distinct") {
    val p = plan("dedup_hamming")
    assert(!p.contains("BroadcastNestedLoop"))
    assert(!p.contains("CodegenFallback"))
    // signature table materializes ONCE (checkpoint scan) and the
    // banded build side broadcasts — the tokenize→simhash pipeline must
    // not appear twice in the plan
    assert(p.contains("Scan ExistingRDD"))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("Scan parquet"), "join side re-read the corpus")
    // first-matching-band filter replaced the pair distinct(): the only
    // aggregates left are the per-doc simhash vote (none — it's native)
    // so no HashAggregate should follow the join
    val joinAt = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin") max
      p.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0)
    assert(!p.substring(0, joinAt).contains("HashAggregate"),
      "no pair-level distinct above the band join")
  }

  test("hamming broadcast size-gate: above the cap, shuffle-hash join") {
    // force the fallback path on the same fixture: with the cap at 0
    // the banded self-join must plan a ShuffledHashJoin on the
    // (band, value) equi-keys — no broadcast of the banded side, no
    // sort-merge, no nested-loop
    val p = queries.CorpusQueries.dedupHamming(spark, sf, 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("time-series indicator suite runs on the single ticker exchange") {
    Seq("ind_atr", "ind_obv", "ind_willr", "ind_bbands", "ts_rolling_corr")
      .foreach { q => assert(shuffles(plan(q)) == 1, q) }
  }

  test("sketch_theta: per-type kth sketches broadcast to the union rows") {
    val p = plan("sketch_theta")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("readDay prunes to one Hive partition") {
    val base = java.nio.file.Files.createTempDirectory("plan").toString
    val df = spark.range(10).selectExpr("'T' AS ticker", "CAST(id AS DOUBLE) AS volume",
      "1.0 AS open", "1.0 AS close", "1.0 AS high", "1.0 AS low",
      "1.0 AS adj_close", "id AS window_start")
    graft.io.BarsIO.writePartitioned(df, base, "1m", "2024-03-05")
    graft.io.BarsIO.writePartitioned(df, base, "1m", "2024-03-06")
    val p = graft.io.BarsIO.readDay(spark, base, "1m", "2024-03-06")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"))
    // both filters are partition filters — nothing survives as a data filter
    assert(!p.contains("PushedFilters: [IsNotNull"))
  }

  test("new ts/indicator suite rides ONE per-ticker exchange each") {
    Seq("ind_ema", "ind_trix", "ind_stoch", "ind_cmf", "ind_donchian",
      "ind_sar", "ind_kama", "ind_linreg", "ts_acf", "ts_cusum",
      "ts_twap").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("key_skew: two DistRank bucket exchanges over the size rollup") {
    // the events→sizes groupBy runs once inside the localCheckpoint;
    // the final plan is the asc + desc DistRank bucket exchanges (the
    // quantile row rides a 4-row scalar aggregate, broadcast back)
    assert(shuffles(plan("key_skew")) == 2)
  }

  test("text_bm25 reduces corpus stats to one broadcast row, no shuffle") {
    val p = plan("text_bm25")
    assert(shuffles(p) == 0)
    assert(p.contains("BroadcastExchange"))
  }

  test("text_pmi broadcasts the unigram dictionary and totals") {
    val p = plan("text_pmi")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("drift_psi: broadcast bounds, 10-bin aggregate, no wide shuffle") {
    // the events scan + bin groupBy materialize once in the
    // localCheckpoint job; the final plan is pure broadcast
    // composition over the 10-bin ExistingRDD — zero hash exchanges
    val p = plan("drift_psi")
    assert(shuffles(p) == 0)
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("Scan ExistingRDD"))
  }

  test("graph_triangles materializes the edge list once (checkpoint scan)") {
    val p = plan("graph_triangles")
    assert(p.contains("Scan ExistingRDD"))
    assert(shuffles(p) <= 6, s"edge pipeline re-evaluated?\n$p")
  }

  test("ts_hurst: the per-ticker variance rollup reuses the window exchange") {
    assert(shuffles(plan("ts_hurst")) == 1)
  }

  test("behav_path: one user exchange + one bounded path aggregate") {
    assert(shuffles(plan("behav_path")) == 2)
  }

  test("corpus_mix normalizes over the |sources|-row aggregate only") {
    // corpus scan + source rollup run once in the localCheckpoint job;
    // both normalizations are scalar aggregates broadcast back over
    // the |sources|-row ExistingRDD — no unpartitioned window
    val p = plan("corpus_mix")
    assert(shuffles(p) == 0)
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("Scan ExistingRDD"))
  }

  test("emb_outliers: zero windows; threshold broadcast onto checkpoint") {
    // centroids + per-label mean dist2 are groupBy aggregates broadcast
    // back (the old per-(label,dim)/per-label windows put every
    // component of a label in ONE task). The dist2 table checkpoints,
    // so the final plan is one broadcast join over it — no windows, no
    // sort-merge anywhere.
    val p = plan("emb_outliers")
    assert(shuffles(p) <= 1, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("ab_ttest: both arms' moments collapse in ONE event_type exchange") {
    assert(shuffles(plan("ab_ttest")) == 1)
  }

  test("ev_json: JSON extraction is a projection; distinct agg = 2 exchanges") {
    val p = plan("ev_json")
    assert(shuffles(p) == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("corpus_split: corpus aggregates once; shares window over the rollup") {
    assert(shuffles(plan("corpus_split")) == 2)
  }

  test("corpus_ngrams: inline pair explode + TakeOrdered, no global sort") {
    val p = plan("corpus_ngrams")
    assert(shuffles(p) == 1)
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("ind_vortex / ind_keltner ride the ONE shared ticker exchange") {
    Seq("ind_vortex", "ind_keltner").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("ts_beta: all four exchanges carry the daily rollup, no joins") {
    val p = plan("ts_beta")
    assert(shuffles(p) == 4)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("text_dsir: ratio table broadcasts; corpus never joins shuffled") {
    val p = plan("text_dsir")
    // ratio-table broadcast + its nested totals broadcast (the 1024-row
    // bucket table itself materializes once in the localCheckpoint job)
    assert("BroadcastExchange".r.findAllIn(p).length == 2)
    assert(!p.contains("SortMergeJoin"))
    // the per-doc aggregate is the only corpus shuffle
    assert(shuffles(p) == 1)
  }

  test("frame-window family shares ONE partition exchange") {
    Seq("rel_window_frames", "ind_ichimoku", "ts_rolling_median").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("text_readability is a pure projection: zero exchanges") {
    assert(shuffles(plan("text_readability")) == 0)
  }

  test("text_pii_report is a pure projection: zero exchanges") {
    assert(shuffles(plan("text_pii_report")) == 0)
  }

  test("curation reports never plan a nested-loop join") {
    // rel_setops_all is excluded: its single-row bounds broadcast is a
    // legitimate BroadcastNestedLoopJoin (1-row build side)
    Seq("corpus_retention_by_source", "text_lang_confusion",
      "sim_recall").foreach { q =>
      assert(!plan(q).contains("BroadcastNestedLoop"), q)
    }
  }

  test("q10: no cartesian, bounded exchanges, top-20 is a TakeOrdered") {
    val p = plan("q10_returned_items")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("BroadcastExchange")) // nation hinted
    assert(shuffles(p) <= 7, p)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("feat_hashed_cross: char-fold hash stays in one exchange pair") {
    val p = plan("feat_hashed_cross")
    assert(shuffles(p) == 2) // count-distinct two-phase over 1024 buckets
    assert(!p.contains("SortMergeJoin"))
  }

  test("join_scd2_pit: equi-join on user_id carries the range predicate") {
    val p = plan("join_scd2_pit")
    assert(!p.contains("BroadcastNestedLoop"))
    assert(shuffles(p) <= 2)
  }

  test("q7: no cartesian, bounded exchanges — the q5 posture") {
    val p = plan("q7_nation_trade")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("BroadcastExchange")) // the two nation legs hinted
    assert(shuffles(p) <= 9, p)
  }

  test("ts_ewm_vol rides the one ticker exchange") {
    assert(shuffles(plan("ts_ewm_vol")) == 1)
  }

  test("ts_volume_bars: bar rollup reuses the cumulative-sum exchange") {
    assert(shuffles(plan("ts_volume_bars")) == 1)
  }

  test("ts_realized_vol / behav_ltv collapse in ONE exchange") {
    Seq("ts_realized_vol", "behav_ltv").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("one-exchange rollup family (ulcer, chandelier, dow-hour)") {
    Seq("ts_ulcer", "ind_chandelier", "agg_dow_hour").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("dq_expectations: one scan, one single-row aggregate") {
    val p = plan("dq_expectations")
    assert(shuffles(p) == 0)
    assert(p.contains("Exchange SinglePartition"))
  }

  test("daily-diagnostic family: rollup + lag window, no joins") {
    Seq("ind_pivot_points", "ts_ou_halflife").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) <= 2, q)
      assert(!p.contains("Join"), q)
    }
  }

  test("ts_spread_cs: daily rollup then one ticker window, no joins") {
    val p = plan("ts_spread_cs")
    assert(shuffles(p) == 2)
    assert(!p.contains("Join"))
  }

  test("agg_hourly_uniques: register maxima collapse before the estimate") {
    val p = plan("agg_hourly_uniques")
    assert(!p.contains("SortMergeJoin"))
    assert(shuffles(p) <= 4)
  }

  test("text_entropy / agg_mode: two count-partial exchanges, no joins") {
    Seq("text_entropy", "agg_mode").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) == 2, q)
      assert(!p.contains("SortMergeJoin"), q)
    }
  }

  test("EMA-kernel composites (apo/adxr/adosc) stay on one exchange") {
    // ind_recursive[_window] run the same graft_ind_w window kernel as
    // adxr: no groupByKey hop (MapGroups) beside the window's exchange
    Seq("ind_apo", "ind_adxr", "ind_adosc", "ind_recursive",
      "ind_recursive_window").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) == 1, q)
      assert(!p.contains("MapGroups"), q)
    }
  }

  test("emb_kmeans: centroids broadcast both rounds, no vector SMJ") {
    val p = plan("emb_kmeans")
    assert("BroadcastExchange".r.findAllIn(p).length == 2)
    assert(!p.contains("SortMergeJoin"))
    assert(shuffles(p) == 4)
  }

  test("text_bigram_lp: dictionaries broadcast, docs never sort-merge") {
    val p = plan("text_bigram_lp")
    assert("BroadcastExchange".r.findAllIn(p).length == 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("mm_audio_rms: energy folds inside the scan task, zero exchanges") {
    assert(shuffles(plan("mm_audio_rms")) == 0)
  }

  test("graph_jaccard joins run over the checkpointed edge list only") {
    // localCheckpoint truncates lineage: the LSH candidate pipeline
    // (shingle/minhash exprs) must not appear anywhere in the plan
    val p = plan("graph_jaccard")
    assert(!p.contains("graft_minhash") && !p.contains("graft_shingles"))
  }

  test("cdc_merge: base and log aggregates feed an aligned full-outer join") {
    val p = plan("cdc_merge")
    // one user_id exchange per side, nothing between them and the join
    assert(shuffles(p) == 2, p)
    assert(p.contains("FullOuter"))
  }

  test("join_interval: binned equi-join, overlap residual, no nested loop") {
    val p = plan("join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the only hash exchanges are the two interval-building aggregates
    assert(shuffles(p) == 2, p)
  }

  test("ts3 indicator batch keeps the shared one-exchange shape") {
    Seq("ind_wma", "ind_trima", "ind_aroon", "ind_midprice", "ind_bop",
      "ind_rocr", "ind_natr", "ind_stochrsi").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("risk rollups reuse the ticker window exchange for their aggregate") {
    // window partitioning == groupBy key ⇒ the per-ticker aggregate
    // rides the same exchange; dd_duration's two-level groupBy too
    Seq("ts_amihud", "ts_roll_spread", "ts_dd_duration").foreach { q =>
      assert(shuffles(plan(q)) == 1, q)
    }
  }

  test("ts_var_cvar: quantiles broadcast back, two branch exchanges") {
    val p = plan("ts_var_cvar")
    assert(shuffles(p) == 2, p)
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("basket_pairs: in-row pair generation — no self-join") {
    // the only nested loop allowed is the 1-row n_orders scalar cross
    val p = plan("basket_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1)
  }

  test("engagement rollups broadcast their day/type-keyed joins") {
    Seq("behav_dau_mau", "behav_interevent").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), q)
      assert(!p.contains("SortMergeJoin"), q)
    }
  }

  test("behav_power_users: DistRank bucket exchange + decile rollup") {
    // the events→users groupBy runs once inside the localCheckpoint;
    // the final plan is the rank's bucket exchange + the 10-decile agg
    val p = plan("behav_power_users")
    assert(shuffles(p) == 2, p)
  }

  test("q6: filters pushed to the scan, 4-column read, scalar shuffle only") {
    // the one exchange carries ONE partial-agg row per task (the
    // constant-group trick that keeps empty-in → empty-out), never data
    val p = plan("q6_forecast")
    assert(shuffles(p) <= 1, p)
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
        "l_discount:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("q14/q18: no cartesian; bounded exchanges (hint-free dims)") {
    val p14 = plan("q14_promo_share")
    assert(!p14.contains("CartesianProduct") && !p14.contains("BroadcastNestedLoop"), p14)
    assert(shuffles(p14) <= 3, p14)
    val p18 = plan("q18_big_orders")
    assert(!p18.contains("CartesianProduct") && !p18.contains("BroadcastNestedLoop"), p18)
    assert(shuffles(p18) <= 5, p18)
  }

  test("feature encoders: one type exchange, stats broadcast back") {
    Seq("feat_target_encode", "feat_minmax").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) == 1, q)
      assert(p.contains("BroadcastExchange"), q)
    }
  }

  test("corpus_gopher: one source exchange, rule flags codegen'd") {
    val p = plan("corpus_gopher")
    assert(shuffles(p) == 1, p)
  }

  test("q8: bounded exchanges, no nested-loop join") {
    val p = plan("q8_market_share")
    assert(shuffles(p) <= 9, p)
    assert(p.contains("BroadcastExchange"), p) // nation/region hinted
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q13: two key shuffles (custkey rollup + count histogram)") {
    val p = plan("q13_order_dist")
    assert(shuffles(p) == 2, p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q15: rollup materialized once; scalar max broadcast") {
    // the lineitem scan + supplier rollup run once in the
    // localCheckpoint job; the scalar max broadcasts over the
    // |suppliers|-row ExistingRDD; the supplier dim joins hint-free
    val p = plan("q15_top_supplier")
    assert(shuffles(p) <= 4, p)
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q17: hint-free thresholds; bounded exchanges, no cartesian") {
    val p = plan("q17_small_qty_revenue")
    assert(shuffles(p) <= 6, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q22: scalar average broadcast; anti-join shuffles on custkey") {
    val p = plan("q22_idle_customers")
    assert(shuffles(p) == 3, p)
    // the scalar-average cross join is a legitimate 1-row-build-side
    // BroadcastNestedLoopJoin (same posture as rel_setops_all's bounds)
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("LeftAnti"), p)
  }

  test("ts_kalman: the filter runs inside the one-exchange Window op") {
    val p = plan("ts_kalman")
    assert(shuffles(p) == 1, p)
    assert(p.contains("graft_kalman_w"), p)
  }

  test("ts_regime: exact long frame sums + broadcast median, no SMJ") {
    val p = plan("ts_regime")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ts_stl: window exchange + seasonal-mean exchange, means broadcast") {
    val p = plan("ts_stl")
    assert(shuffles(p) == 2, p)
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("new TPC-H family: no cartesian, bounded exchanges") {
    // SF-scaling sides (part, supplier and their keyed rollups) join
    // hint-free — the initial plan may legitimately pick SMJ where
    // size estimates are unknown (checkpointed/derived sides); AQE
    // converts to broadcast at gate SFs. The pinned invariant is
    // bounded exchange count + no cartesian, not the join strategy.
    Seq("q2_min_cost_supplier" -> 5, "q4_priority_returns" -> 3,
      "q9_product_profit" -> 5, "q11_important_parts" -> 3,
      "q12_late_shipments" -> 3, "q16_supplier_cnt" -> 7,
      "q19_disjunctive_revenue" -> 3, "q20_heavy_shippers" -> 5,
      "q21_waiting_supplier" -> 5).foreach { case (q, n) =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(shuffles(p) <= n, s"$q: ${shuffles(p)} exchanges")
    }
  }

  test("filtered search / ndcg / kanon: equi-joins only, bounded exchanges") {
    // sim_filtered_search: the cell equi-join + label predicate must
    // never degrade to a nested loop; privacy_kanon is a pure
    // aggregate chain (distinct → cell rollup → event_type rollup) —
    // no join at all.
    val pf = plan("sim_filtered_search")
    assert(!pf.contains("CartesianProduct") && !pf.contains("BroadcastNestedLoop"), pf)
    val pn = plan("sim_search_ndcg")
    assert(!pn.contains("CartesianProduct"), pn)
    val pk = plan("privacy_kanon")
    assert(!pk.contains("Join"), pk)
    assert(shuffles(pk) <= 3, pk)
  }

  test("TPC-H family: broadcast() hints only on provably bounded relations") {
    // r13 verdict: a forced broadcast of an SF-scaling relation
    // (orders, customer, part, supplier, or a rollup keyed by their
    // keys) is correct at gate SFs but OOMs the driver at the 100 TB
    // design point. Sweep every q*-family query's ANALYZED plan
    // (hints are still visible there as ResolvedHint): each
    // BROADCAST-hinted subtree must be provably bounded — it scans
    // only nation/region (25/5 rows at every SF), or it contains a
    // global aggregate (empty or all-foldable grouping ⇒ ≤1 row).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def boundedLeaves(p: LogicalPlan): Boolean = {
      val names = p.collectLeaves().map {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.map(_.getName).mkString(",")
          case _ => "?"
        }
        case _ => "?"
      }
      names.nonEmpty && names.forall(n =>
        n.contains("nation.parquet") || n.contains("region.parquet"))
    }
    def globallyAggregated(p: LogicalPlan): Boolean =
      p.collectFirst {
        case a: Aggregate if a.groupingExpressions.forall(_.foldable) => a
      }.isDefined
    val tpch = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
    assert(tpch.size >= 20, s"family sweep lost its targets: $tpch")
    val offenders = tpch.flatMap { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.analyzed.collect {
        case h: ResolvedHint
          if h.hints.toString.toLowerCase.contains("broadcast") &&
            !boundedLeaves(h.child) && !globallyAggregated(h.child) =>
          s"$name: broadcast(${h.child.nodeName})"
      }
    }
    assert(offenders.isEmpty,
      s"forced broadcast of an SF-scaling relation: $offenders")
  }

  test("NO query in the suite plans an unpartitioned Window") {
    // The scale invariant behind DistRank: a Window with an empty
    // partitionSpec collapses ALL rows into one task — correct at
    // sf0.1, dead at 100 TB. Every global ranking/running-total in the
    // suite must ride the range-bucketed two-pass exact rank (or a
    // scalar-aggregate broadcast) instead. Checked on the OPTIMIZED
    // logical plan of every registered query, so a refactor cannot
    // reintroduce one anywhere.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val bad = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty, s"unpartitioned Window in: $offenders")
  }

  test("grouped exact quantiles never window on the bare group key") {
    // The 100 TB invariant behind ExactQuantile.grouped: a Window
    // partitioned ONLY by the low-cardinality group key sorts each
    // whole group in one task. Every quantile caller must ride the
    // (group, value-bucket) cell window instead — the sole 1-column
    // window allowed in these plans is behav_interevent's per-user lag
    // (user_id is high-cardinality).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq("agg_quantiles", "agg_quantiles_skew", "feat_winsorize",
      "anomaly_mad", "behav_interevent").foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.size < 2 &&
            !w.partitionSpec.exists(_.toString.contains("user_id")) => w
        }
      assert(bad.isEmpty, s"$name plans a bare-group-key Window: $bad")
    }
  }

  test("per-source samples ride the two-phase KMin, never a source sort") {
    // A Window partitioned only by `source` over the RAW corpus sorts
    // every doc of a source in one task; both fixed-quota samples must
    // ride KMin.smallest — any window either carries the _km_p
    // partition-id key (phase 1) or consumes the ≤ k·P-row candidate
    // union (a Filter on _km_rn below it, phase 2).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq("sample_stratified", "corpus_sample_fixed").foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow
            if !w.partitionSpec.exists(_.toString.contains("_km_p")) &&
              !w.child.collect {
                case f: org.apache.spark.sql.catalyst.plans.logical.Filter
                  if f.condition.toString.contains("_km_rn") => f
              }.exists(_ => true) => w
        }
      assert(bad.isEmpty, s"$name plans a whole-source sort window: $bad")
    }
  }

  test("sketch k-th hashes ride the two-phase KMin, never a group sort") {
    // Any Window in these plans must either partition on the phase-1
    // (group, partition-id) key or consume the ≤ k·P-row candidate
    // union (a Filter on _km_rn sits below it) — a regression to
    // row_number over the raw per-group hashes has neither.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq("sketch_kmv", "sketch_theta").foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow
            if !w.partitionSpec.exists(_.toString.contains("_km_p")) &&
              !w.child.collect {
                case f: org.apache.spark.sql.catalyst.plans.logical.Filter
                  if f.condition.toString.contains("_km_rn") => f
              }.exists(_ => true) => w
        }
      assert(bad.isEmpty, s"$name plans a whole-group sort window: $bad")
    }
  }

  test("ind_heikin: recursion inside the Window op, one exchange") {
    val p = plan("ind_heikin")
    assert(shuffles(p) == 1)
    assert(!p.contains("FlatMapGroups"))
  }

  test("ind_supertrend: recursion inside the Window op, one exchange") {
    val p = plan("ind_supertrend")
    assert(shuffles(p) == 1)
    assert(!p.contains("FlatMapGroups"))
  }

  test("exact jaccard joins: equi-joins only — no block/nested-loop pass") {
    // The prefix-filtered similarity join's whole point: candidates
    // come from hash equi-joins on the shingle key, never a cartesian
    // or nested-loop pair enumeration. (dedup_threshold_sweep DOES
    // plan trivial CartesianProducts — its per-tau n_pairs × n_docs
    // one-row aggregates — the sanctioned one-row-agg crossJoin shape,
    // so only the nested-loop assertion applies there.)
    Seq("dedup_allpairs", "dedup_lsh_recall").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
    assert(!plan("dedup_threshold_sweep").contains("BroadcastNestedLoopJoin"))
  }

  test("bloom decontamination probes broadcast; corpus never sort-merges") {
    // The 100 TB shape: the held-out bloom position set and exact
    // shingle set are broadcast builds; the corpus side probes them
    // in-row. A SortMergeJoin here means the whole corpus' shingles
    // shuffled for the membership test.
    val p = plan("text_bloom_contam")
    assert(!p.contains("SortMergeJoin"))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2)
  }

  test("length buckets and quality gate: single-exchange aggregates") {
    Seq("corpus_length_buckets", "corpus_quality_logit").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) == 1, q)
      assert(!p.contains("CodegenFallback"), q)
    }
  }

  test("NB classifier: equi-joins only, class totals broadcast") {
    // The 100 TB shape: train counts and held-out scoring are tok/doc
    // keyed equi-joins (SortMergeJoin on those keys is the RIGHT
    // big-big plan — not banned); the one-row stats (Ng, Nb, V, prior)
    // ride BroadcastExchange scalar mirrors (BuildRight Cross BNLJ of
    // a one-row aggregate — the repo's sanctioned shape). Any OTHER
    // nested loop or a cartesian means a real relation crept into a
    // non-equi position.
    val p = plan("text_nb_quality")
    val mirrors =
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == mirrors, p)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"))
  }

  test("feat_woe: one 24-bucket exchange, totals broadcast back") {
    // hour histogram = one hash exchange of 24 integer-count rows; the
    // (tp, tn, nh) totals are a one-row aggregate broadcast onto them.
    val p = plan("feat_woe")
    assert(shuffles(p) <= 2, p)
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("drift_wasserstein: adjacent-rank equi-join, no cartesian") {
    // The W1 integral's next-value lookup must be an equi-join on
    // adjacent global ranks over the DISTINCT-value table — never a
    // global window over events (the suite sweep pins that) and never
    // a non-equi pass. The only nested loops allowed are the
    // sanctioned one-row scalar mirrors.
    val p = plan("drift_wasserstein")
    val mirrors =
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == mirrors, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("corpus_doremi: token-keyed equi-joins, source totals broadcast") {
    // The corpus collapses to (source, token) counts once; the corpus
    // LM attaches by a token equi-join and the per-source totals ride
    // broadcasts — a cartesian or non-mirror nested loop means a
    // data-sized relation crept into a non-equi position.
    val p = plan("corpus_doremi")
    val mirrors =
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == mirrors, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("sim_rerank_mmr: id-keyed equi-joins only, no cartesian") {
    // Pool and pairwise tables are constant rows per query; every join
    // must stay q_id/vec_id-keyed — a cartesian or non-mirror nested
    // loop would mean the reranker touched a data-sized relation.
    val p = plan("sim_rerank_mmr")
    val mirrors =
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == mirrors, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mm_silence: frames stay doc-partitioned, totals join by doc_id") {
    // The island window and the quiet filter both key on doc_id; no
    // global window (the suite sweep pins that) and no non-equi join.
    val p = plan("mm_silence")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_bq_rerank: block-pair equi Hamming join, id-keyed rerank") {
    // The Hamming stage must be the block-partitioned EQUI join on the
    // (bi, bj) pair key (a BNLJ would mean the code scan degenerated
    // to a nested loop) and the rerank must re-attach vectors by id —
    // no cartesian, no non-mirror nested loop anywhere.
    val p = plan("sim_bq_rerank")
    val mirrors =
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == mirrors, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_ivf_bq: cell/id equi-joins, centroids broadcast") {
    // The composed stack's joins must be the cell equi-join (Hamming
    // stage) and id equi-joins (rerank) — no cartesian, no nested
    // loop. (The assignment's centroid broadcast sits behind the
    // localCheckpoint and is pinned by assignCells' own users.)
    val p = plan("sim_ivf_bq")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_winnow: one doc-partitioned frame min, no self-join") {
    // Winnowing must stay ONE pos-ordered per-doc window over packed
    // keys — the rightmost-min self-join formulation (doc_id×hash fan,
    // quadratic on templated docs) is exactly what the packed-key
    // design avoids. No join of any kind should appear.
    val p = plan("text_winnow")
    assert(!p.contains("Join"), p)
    assert(shuffles(p) <= 2, p)
  }

  test("ts_binseg: ticker-keyed exchange, level-2 reads level-1 by join") {
    // All three argmax rounds ride ticker-partitioned windows over the
    // ONE cumsum pass; the level-1 winner attaches back by a ticker
    // equi-join. No cartesian, no nested loop.
    val p = plan("ts_binseg")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ab_srm / ab_power: alphabet-sized aggregates, no joins") {
    Seq("ab_srm", "ab_power").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), q + "\n" + p)
    }
  }

  test("tok_bpe_encode: documents attach to the merge table by word key") {
    // The corpus side must join the per-distinct-word symbol table on
    // the word equi-key (the word-frequency reduction is the whole
    // point — a per-occurrence merge scan would re-fold 100 TB); merge
    // picks ride one-row broadcast mirrors only.
    val p = plan("tok_bpe_encode")
    val mirrors =
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == mirrors, p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
