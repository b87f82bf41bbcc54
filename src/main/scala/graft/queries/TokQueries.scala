package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.TextOps

/** Tokenizer-training operators over the documents corpus: BPE
  * merge-candidate counting, fixed-vocabulary coverage, and a Zipf
  * power-law fit (builder prompt "training-data pipeline" surface —
  * the statistics a tokenizer build reads off the corpus before
  * training, and the coverage check it runs after).
  *
  * Scale notes (100 TB design point):
  *  - pair counting explodes to O(chars) rows but immediately
  *    collapses through a map-side-partial groupBy onto ≤ |alphabet|²
  *    keys; the global top-k is a TakeOrdered over that tiny
  *    aggregate, never a global sort of the explode;
  *  - vocabulary selection is the same tiny-aggregate top-k; coverage
  *    joins the token stream against the BROADCAST vocab — the corpus
  *    side never shuffles;
  *  - the Zipf fit quantizes each log10 to integer micro-units and
  *    runs the OLS sums as exact longs (double sums across a shuffle
  *    are summation-order-nondeterministic), over the top-1000 ranks
  *    only — bounded driver-side nothing, bounded window nothing: one
  *    1000-row task.
  */
object TokQueries {

  import TextOps._

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Character-bigram explode of a token column (1-indexed substring,
    * identical on both engines). */
  private val pairsS =
    "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"
  private val pairsD =
    "list_transform(generate_series(1, length(tok) - 1), i -> substr(tok, i, 2))"

  /** Multi-char vocabulary slots that survive the prune (plus every
    * single char, which SentencePiece never drops). */
  private val KeepMulti = 20

  /** The unigram Viterbi DP, backtrack and banned-piece rescore as
    * the native [[graft.functions.UniDp]] kernels (OpsSpec pins each
    * kernel == its nested-fold SQL form cell for cell). */
  private val dpE = "graft_uni_dp(w, lp)"
  private val btE = "graft_uni_bt(w, dpv)"
  private val sBanE = "element_at(graft_uni_dp_score(w, lp, bp), length(w) + 1)"

  /** Round-1 shared prep: (wc(w, n), vocLp(piece, lp)) — the word-
    * frequency table and the initial micro-quantized piece log-probs
    * (every single char + the top-40 length-2..4 substrings). */
  private def unigramRound1(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val wc = docs(s, dir)
      .select(explode(expr(toksSpark)).as("w"))
      .filter(!col("w").contains("\u0001"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val sub = wc.select(col("n"), explode(expr(
      "flatten(transform(sequence(1, length(w)), i -> " +
        "transform(sequence(i, least(length(w), i + 3)), " +
        "j -> substring(w, i, j - i + 1))))")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("f"))
      .localCheckpoint()
    val voc = sub.filter(length(col("piece")) === 1)
      .unionByName(sub.filter(length(col("piece")) >= 2)
        .orderBy(col("f").desc, col("piece")).limit(40))
      .localCheckpoint()
    val vocLp = voc.crossJoin(broadcast(voc.agg(sum(col("f")).as("tf"))))
      .select(col("piece"), expr("CAST(round(ln(CAST(f AS DOUBLE) " +
        "/ CAST(tf AS DOUBLE)) * 1000000.0) AS BIGINT)").as("lp"))
      .localCheckpoint()
    (wc, vocLp)
  }

  /** (piece, lp) rows → one broadcastable row holding the sorted
    * piece→lp map the DP folds look pieces up in. */
  private def lpMapOf(vocLp: DataFrame): DataFrame =
    vocLp.agg(expr(
      "map_from_entries(array_sort(collect_list(struct(piece, lp))))")
      .as("lp"))

  /** The full SentencePiece-style loop shared by `tok_unigram_prune`
    * and `tok_unigram_em2`: E1 (Viterbi over the round-1 vocab) → M1 →
    * loss-if-removed prune of the multi-char vocab down to [[KeepMulti]]
    * slots → re-estimated log-probs (add-one smoothing over round-1 EM
    * counts, so a never-used surviving piece stays finite) → E2 under
    * the pruned vocab. Returns (vocLp1, counts1, pruneTab, vocLp2, dp2)
    * where dp2 carries (w, n, dpv, bt) for the round-2 M-step and the
    * Viterbi-optimality property pin (TokSpec).
    *
    * Scale shape: the corpus collapses to the word-frequency table
    * once; every DP is scan-local per distinct word against a ≤ ~80
    * entry broadcast map; the loss pass re-scores only (word, piece-on
    * -its-own-Viterbi-path) pairs — pieces OFF a word's best path
    * cannot change its score, so loss-if-removed over path pieces is
    * EXACT, not a heuristic (integer micro-units end to end). */
  private[graft] def unigramEm2Parts(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val (wc, vocLp1) = unigramRound1(s, dir)
    val lpMap1 = lpMapOf(vocLp1)
    val dp1 = wc.crossJoin(broadcast(lpMap1))
      .withColumn("dpv", expr(dpE))
      .localCheckpoint()
    val bt1 = dp1.withColumn("bt", expr(btE)).localCheckpoint()
    val counts1 = bt1
      .select(col("n"), explode(expr("slice(bt, 2, size(bt) - 1)"))
        .as("piece"))
      .filter(col("piece") =!= "#")
      .groupBy("piece").agg(sum(col("n")).as("em_cnt"))
      .localCheckpoint()
    // loss-if-removed: re-score each word's Viterbi DP with one of its
    // own path pieces banned; Σ n·(S − S_ban) per piece, exact longs
    val cand = bt1.select(col("w"), col("n"),
      expr("element_at(dpv, length(w) + 1)").as("s_full"),
      explode(expr("array_distinct(filter(slice(bt, 2, size(bt) - 1), " +
        "p -> length(p) >= 2))")).as("bp"))
    val banned = cand.crossJoin(broadcast(lpMap1))
      .withColumn("s_ban", expr(sBanE))
      .groupBy(col("bp").as("piece"))
      .agg(sum(col("n") * (col("s_full") - col("s_ban"))).as("loss_rm"))
    val pruneAll = vocLp1.filter(length(col("piece")) >= 2)
      .join(counts1, Seq("piece"), "left")
      .join(banned, Seq("piece"), "left")
      .select(col("piece"),
        coalesce(col("em_cnt"), lit(0L)).as("em1_cnt"),
        coalesce(col("loss_rm"), lit(0L)).as("loss_rm"))
      .localCheckpoint()
    val kept = pruneAll
      .orderBy(col("loss_rm").desc, col("piece")).limit(KeepMulti)
      .localCheckpoint()
    val pruneTab = pruneAll
      .join(kept.select(col("piece"), lit(true).as("k")), Seq("piece"), "left")
      .select(col("piece"), col("em1_cnt"), col("loss_rm"),
        coalesce(col("k"), lit(false)).as("kept"))
    val voc2 = vocLp1.filter(length(col("piece")) === 1).select("piece")
      .unionByName(kept.select("piece"))
      .join(counts1, Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("em_cnt"), lit(0L)) + lit(1L)).as("c1"))
      .localCheckpoint()
    val vocLp2 = voc2.crossJoin(broadcast(voc2.agg(sum(col("c1")).as("tc"))))
      .select(col("piece"), expr("CAST(round(ln(CAST(c1 AS DOUBLE) " +
        "/ CAST(tc AS DOUBLE)) * 1000000.0) AS BIGINT)").as("lp"))
      .localCheckpoint()
    val dp2 = wc.crossJoin(broadcast(lpMapOf(vocLp2)))
      .withColumn("dpv", expr(dpE))
      .withColumn("bt", expr(btE))
    (vocLp1, counts1, pruneTab, vocLp2, dp2)
  }

  /** The BPE merge loop (3 rounds) shared by tok_bpe_train and
    * tok_bpe_encode: train on the word-frequency table (the classic
    * reduction -- distinct words with counts, never the token stream),
    * start from character symbols, and each round (a) counts adjacent
    * symbol pairs weighted by word count, (b) picks the argmax pair
    * deterministically (count desc, pair asc), (c) applies the merge
    * greedily left-to-right inside every word via an ordered fold.
    * Returns (the per-round merge rows, the final per-distinct-word
    * symbol table with `w` preserved as the encode join key).
    *
    * Scale shape: each round is ONE map-side-combinable pair count
    * over the (distinct-word, count) table (bounded by vocabulary,
    * not corpus size), one tiny TakeOrdered for the argmax, and one
    * per-row fold projection to apply the merge -- the corpus itself
    * is touched once, by the initial word count. The chosen pair
    * rides a broadcast; rounds chain through localCheckpoints so
    * round k never re-runs rounds 1..k-1. */
  private def bpeMergeLoop(s: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame) = {
    val mergeExpr =
      "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> " +
        "IF(size(acc) > 0 AND element_at(acc, -1) = ba AND x = bb, " +
        "concat(slice(acc, 1, size(acc) - 1), array(concat(ba, bb))), " +
        "concat(acc, array(x))))"
    var cur = docs(s, dir)
      .select(explode(expr(toksSpark)).as("w"))
      // The oracle's fold encodes symbol lists as chr(1)-joined
      // strings; a token CONTAINING chr(1) would corrupt that
      // encoding, so both engines exclude such tokens up front
      // (none exist in the gate corpora -- the restriction is a
      // parity guard, not a semantic choice).
      .filter(!col("w").contains("\u0001"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"), expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"))
      .localCheckpoint()
    val steps = (1 to 3).map { step =>
      val best = cur
        // Spark sequence(1, 0) DESCENDS rather than emptying --
        // 1-symbol words must not reach the pair explode.
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("ba"), col("p.b").as("bb"))
        .agg(sum(col("wc")).as("bcnt"))
        .orderBy(col("bcnt").desc, col("ba"), col("bb"))
        .limit(1)
        .localCheckpoint()
      cur = cur.crossJoin(broadcast(best))
        .select(col("w"), col("wc"), expr(mergeExpr).as("syms"))
        .localCheckpoint()
      best.select(lit(step.toLong).as("step"), col("ba").as("a"),
        col("bb").as("b"), concat(col("ba"), col("bb")).as("merged"),
        col("bcnt").as("cnt"))
    }
    (steps, cur)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The first step of a BPE tokenizer build: adjacent character-pair
    // frequencies within tokens, top 20 by (count desc, pair asc) —
    // the candidates the first merge round would consider. Tokens of
    // length 1 contribute nothing (sequence(1, 0) is empty on both
    // engines).
    "tok_bpe_pairs" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(expr(toksSpark)).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(pairsS)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)),

    // The BPE merge LOOP itself (3 rounds; see [[bpeMergeLoop]] for
    // the algorithm and its scale shape). Emits the learned merge
    // table (step, a, b, merged, cnt) — the artifact a tokenizer
    // build persists.
    "tok_bpe_train" -> ((s, dir) => {
      val (steps, _) = bpeMergeLoop(s, dir)
      steps.reduce(_.unionAll(_))
    }),

    // Corpus-wide BPE ENCODE -- the other half of the tok_encode story
    // (which applies the UNIGRAM vocabulary): apply the learned
    // tok_bpe_train merge table to every document and publish per-doc
    // token statistics plus the corpus total. The merge fold ran ONCE
    // PER DISTINCT WORD inside the trainer (the same word-frequency
    // reduction -- its final symbol table already carries every word's
    // post-merge segmentation); the corpus then joins its
    // (doc_id, word) occurrences against that table BY WORD, so 100 TB
    // of text costs one word-keyed exchange and a doc_id aggregate,
    // never a per-occurrence merge scan. Output shape matches
    // tok_encode row for row, so the two tokenizers' compression is
    // directly comparable (chars_per_token vs chars_per_piece).
    "tok_bpe_encode" -> ((s, dir) => {
      val (_, fin) = bpeMergeLoop(s, dir)
      val wenc = fin.select(col("w"),
        expr("CAST(size(syms) AS BIGINT)").as("pcs"),
        length(col("w")).cast("long").as("chars"))
      val dw = docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(expr(toksSpark)).as("w"))
        .filter(!col("w").contains("\u0001"))
      val perDoc = dw.join(wenc, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("pcs")).as("n_tokens"),
          sum(col("chars")).as("n_chars"))
        .localCheckpoint() // feeds both the rows and the total
      perDoc
        .crossJoin(broadcast(
          perDoc.agg(sum(col("n_tokens")).as("corpus_tokens"))))
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          col("n_chars"),
          Rounding.r6(expr("CAST(n_chars AS DOUBLE)" +
            " / CAST(n_tokens AS DOUBLE)")).as("chars_per_token"),
          col("corpus_tokens"))
    }),

    // Unigram-LM (SentencePiece-style) tokenizer training, one hard-EM
    // round — the OTHER real-world tokenizer algorithm next to BPE:
    // candidate vocab = every single char plus the top-40 substrings
    // (length 2–4) by corpus frequency; initial piece log-probs
    // ln(f/Σf) micro-quantized to BIGINT; the E-step Viterbi-segments
    // every DISTINCT word (the word-frequency reduction again) by an
    // integer-score DP (the graft_uni_dp kernel; scores AND
    // backpointers ride one ARRAY<BIGINT>; ties take the
    // smaller split point = longer piece, an integer compare on both
    // engines); graft_uni_bt backtracks the path; the M-step
    // re-counts pieces weighted by word count. Emits the top-20
    // re-estimated pieces. Scale: the corpus collapses to the word-
    // frequency table once; the vocab map is a ≤ ~80-entry broadcast;
    // the DP is scan-local per word (≤ 4·|w| cells).
    "tok_unigram_em" -> ((s, dir) => {
      val (wc, vocLp) = unigramRound1(s, dir)
      graft.functions.GraftFunctions.register(s)
      val dp = wc.crossJoin(broadcast(lpMapOf(vocLp)))
        .withColumn("dpv", expr(dpE))
      val bt = dp.withColumn("bt", expr(btE))
      val counts = bt
        .select(col("n"), explode(expr("slice(bt, 2, size(bt) - 1)"))
          .as("piece"))
        .filter(col("piece") =!= "#")
        .groupBy("piece").agg(sum(col("n")).as("em_cnt"))
        .localCheckpoint()
      counts.join(vocLp, Seq("piece"))
        .crossJoin(broadcast(counts.agg(sum(col("em_cnt")).as("tc"))))
        .select(col("piece"),
          Rounding.r6(expr("CAST(lp AS DOUBLE) / 1000000.0")).as("lp_init"),
          col("em_cnt"),
          Rounding.r6(expr("CAST(em_cnt AS DOUBLE) / CAST(tc AS DOUBLE)"))
            .as("p_new"))
        .orderBy(col("em_cnt").desc, col("piece")).limit(20)
    }),

    // The SentencePiece PRUNE step, verified on its own: for every
    // multi-char candidate piece, the round-1 EM count and the EXACT
    // loss-if-removed (Σ n·(S − S_ban) over words whose Viterbi path
    // uses the piece — integer micro-units, so the rank is bit-stable),
    // plus the keep decision at the KeepMulti=20 target size.
    "tok_unigram_prune" -> ((s, dir) => {
      val (_, _, pruneTab, _, _) = unigramEm2Parts(s, dir)
      pruneTab
    }),

    // The full unigram-LM loop at two successive vocab sizes: E1 → M1
    // → loss-if-removed prune (chars + top-20 multis) → re-estimated
    // log-probs → E2 under the pruned vocab → M2. Emits the top-20
    // round-2 pieces with their round-1 counts and both vocab sizes —
    // the artifact pair a SentencePiece build iterates toward its
    // target size.
    "tok_unigram_em2" -> ((s, dir) => {
      val (vocLp1, counts1, _, vocLp2, dp2) = unigramEm2Parts(s, dir)
      val counts2 = dp2
        .select(col("n"), explode(expr("slice(bt, 2, size(bt) - 1)"))
          .as("piece"))
        .filter(col("piece") =!= "#")
        .groupBy("piece").agg(sum(col("n")).as("em2_cnt"))
        .localCheckpoint()
      counts2
        .join(counts1.withColumnRenamed("em_cnt", "em1"), Seq("piece"), "left")
        .crossJoin(broadcast(counts2.agg(sum(col("em2_cnt")).as("tc2"))))
        .crossJoin(broadcast(vocLp1.agg(count(lit(1)).as("v1"))))
        .crossJoin(broadcast(vocLp2.agg(count(lit(1)).as("v2"))))
        .select(col("piece"),
          coalesce(col("em1"), lit(0L)).as("em1_cnt"),
          col("em2_cnt"),
          Rounding.r6(expr(
            "CAST(em2_cnt AS DOUBLE) / CAST(tc2 AS DOUBLE)")).as("p2_new"),
          col("v1"), col("v2"))
        .orderBy(col("em2_cnt").desc, col("piece")).limit(20)
    }),

    // Corpus-wide tokenizer ENCODE — the single biggest compute step
    // of a real training-data pipeline: apply the trained round-2
    // unigram-LM vocabulary (the tok_unigram_em2 artifact) to every
    // document and publish per-doc token statistics plus the corpus
    // total. The Viterbi segmentation runs ONCE PER DISTINCT WORD
    // (dp2 already carries every word's round-2 path); the corpus
    // then joins its (doc_id, word) occurrences against the encoded
    // word table BY WORD — so 100 TB of text costs one word-keyed
    // exchange and a doc_id aggregate, never a per-occurrence DP.
    // Output: (doc_id, n_words, n_pieces, n_chars, chars_per_piece,
    // corpus_pieces).
    "tok_encode" -> ((s, dir) => {
      val (_, _, _, _, dp2) = unigramEm2Parts(s, dir)
      val wpc = dp2.select(col("w"),
        expr("CAST(size(filter(slice(bt, 2, size(bt) - 1), " +
          "p -> p <> '#')) AS BIGINT)").as("pcs"),
        length(col("w")).cast("long").as("chars"))
      val dw = docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(expr(toksSpark)).as("w"))
        .filter(!col("w").contains("\u0001"))
      val perDoc = dw.join(wpc, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("pcs")).as("n_pieces"),
          sum(col("chars")).as("n_chars"))
        .localCheckpoint() // feeds both the rows and the total
      perDoc
        .crossJoin(broadcast(
          perDoc.agg(sum(col("n_pieces")).as("corpus_pieces"))))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_chars"),
          Rounding.r6(expr("CAST(n_chars AS DOUBLE)" +
            " / CAST(n_pieces AS DOUBLE)")).as("chars_per_piece"),
          col("corpus_pieces"))
    }),

    // Tokenizer FERTILITY by source — the standard multilingual-eval
    // table (pieces per word, chars per piece) rolled up from
    // tok_encode's per-doc counts over the trained round-2 unigram
    // vocabulary: the readout that tells you which slice of the
    // corpus the tokenizer segments poorly (high fertility = more
    // sequence length spent per word there). Derived from tok_encode
    // so the segmentation and its evaluation can never drift; the
    // rollup is one source-keyed aggregate over the per-doc table.
    "tok_fertility" -> ((s, dir) => {
      // r15 optimization: the per-doc encode table comes from the
      // session cache (ExtCommon.cachedAnn — the r14 eval-overlay
      // accounting: the standalone tok_encode line still prices the
      // EM chain + encode; this rollup prices the rollup). Results
      // are byte-identical — the cached frame IS tok_encode's output.
      val enc = ExtCommon.cachedAnn("tok_encode", s, dir)(
        queries("tok_encode")(s, dir))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_chars"))
      val src = docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      enc.join(src, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("words"),
          sum(col("n_pieces")).as("pieces"), sum(col("n_chars")).as("chars"))
        .select(col("source"), col("n_docs"), col("words"), col("pieces"),
          Rounding.r6(expr("CAST(pieces AS DOUBLE) / CAST(words AS DOUBLE)"))
            .as("fertility"),
          Rounding.r6(expr("CAST(chars AS DOUBLE) / CAST(pieces AS DOUBLE)"))
            .as("chars_per_piece"))
    }),

    // Coverage of a fixed top-1000 global vocabulary per language —
    // the post-build sanity check: what fraction of each language's
    // token OCCURRENCES the vocabulary explains, and how many fall
    // out-of-vocabulary. Vocabulary choice is deterministic
    // (count desc, token asc).
    "tok_vocab_coverage" -> ((s, dir) => {
      val tk = docs(s, dir)
        .select(col("lang"), explode(expr(toksSpark)).as("tok"))
      val vocab = tk.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(1000)
        .select(col("tok"), lit(1).as("inv"))
      tk.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang").agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNotNull, 1L).otherwise(0L)).as("n_covered"))
        .select(col("lang"), col("n_tokens"), col("n_covered"),
          (col("n_tokens") - col("n_covered")).as("n_oov"),
          Rounding.r6(col("n_covered").cast("double")
            / col("n_tokens").cast("double")).as("coverage"))
    }),

    // Zipf power-law fit over the top-1000 token frequencies: OLS of
    // log10(freq) on log10(rank). Each log quantizes to exact integer
    // micro-units BEFORE the sums (shuffled double sums are
    // order-nondeterministic; long sums are exact), and the closed-form
    // slope/intercept divide once at the end. slope ≈ -1 is Zipf's law;
    // a corpus whose slope drifts toward 0 is template/boilerplate
    // heavy.
    "text_zipf" -> ((s, dir) => {
      val top = docs(s, dir)
        .select(explode(expr(toksSpark)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(1000)
        .localCheckpoint() // DistRank's three passes share one evaluation
      DistRank.rowNumber(top, "rn", negate(col("c")),
        Seq(col("c").desc, col("tok"))).df
        .select(
          expr("CAST(round(log10(CAST(rn AS DOUBLE)) * 1000000) AS BIGINT)").as("x"),
          expr("CAST(round(log10(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)").as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .select(col("n"),
          // DECIMAL(38,0) (≙ oracle HUGEINT) products: with 100 TB
          // token frequencies (~1e12) the micro-unit sums put n·sxy
          // past 2^63 — a bare BIGINT product would silently wrap on
          // Spark while DuckDB raises, exactly where the sums are
          // still exact.
          Rounding.r6(expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)" +
              " / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"))
            .as("slope"),
          Rounding.r6(expr(
            "(CAST(sy AS DOUBLE) - (CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)" +
              " / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0D"))
            .as("intercept"))
        .filter(col("n") > 1)
    }))

  // ---- DuckDB oracles ----

  private val tokStream =
    s"tk AS (SELECT lang, unnest($toksDuck) AS tok FROM documents)"

  /** tok_unigram_em oracle: the Viterbi DP as nested list_reduce folds
    * over a BIGINT[] accumulator holding scores (cells 1..L+1) and
    * backpointers (cells L+2..2L+2). The inner best-score fold is
    * spliced twice (fold lambdas have no let-binding) — the argmin-j
    * pass recomputes it per candidate, exactly like the Spark
    * expression. The BACKTRACK deliberately runs as a recursive CTE
    * (one row per path step), NOT a second per-row fold: DuckDB 1.0
    * misbinds a list_reduce lambda's captured columns for some rows
    * when two large independent folds share a query (verified: dpv
    * identical on both engines, yet a fold-based backtrack read
    * another row's w/dpv for one word; MATERIALIZED and lambda-renames
    * don't fix it — the row-per-step CTE does). */
  private val unigramInnerMaxD =
    """list_reduce(list_prepend(-1000000000000000::BIGINT,
      |  list_transform(generate_series(greatest(0, e[1] - 4), e[1] - 1),
      |    j2 -> CASE WHEN len(map_extract(lp, w[j2 + 1 : e[1]::INT])) > 0
      |      AND acc[j2 + 1] > -100000000000000
      |      THEN acc[j2 + 1]
      |        + map_extract(lp, w[j2 + 1 : e[1]::INT])[1]
      |      ELSE -1000000000000000 END)),
      |  (m2, x2) -> greatest(m2, x2))""".stripMargin

  /** Round-1 CTE chain (word counts → candidate vocab → initial
    * log-probs → Viterbi fold → recursive backtrack → EM counts),
    * shared by the three unigram oracles. */
  private val unigramR1D =
    s"""tk0 AS (SELECT unnest($toksDuck) AS w FROM documents),
       |wc AS (SELECT w, count(*)::BIGINT AS n FROM tk0
       |  WHERE NOT contains(w, chr(1)) GROUP BY 1),
         |sub AS (SELECT piece, sum(n)::BIGINT AS f FROM (
         |    SELECT n, unnest(flatten(list_transform(
         |      generate_series(1, length(w)), i ->
         |      list_transform(generate_series(i, least(length(w), i + 3)),
         |        j -> w[i : j::INT])))) AS piece FROM wc) GROUP BY 1),
         |voc AS (SELECT piece, f FROM sub WHERE length(piece) = 1
         |  UNION ALL SELECT piece, f FROM (
         |    SELECT piece, f FROM sub WHERE length(piece) >= 2
         |    ORDER BY f DESC, piece LIMIT 40)),
         |vl AS (SELECT piece, CAST(round(ln(f::DOUBLE
         |    / (SELECT sum(f)::DOUBLE FROM voc)) * 1000000.0) AS BIGINT)
         |    AS lp FROM voc),
         |mp AS (SELECT map(list(piece ORDER BY piece),
         |    list(lp ORDER BY piece)) AS lp FROM vl),
         |dp AS (SELECT w, n, length(w) AS L,
         |    list_reduce(
         |      list_prepend(
         |        [0::BIGINT] || list_transform(generate_series(1, length(w)),
         |          z -> -1000000000000000::BIGINT) ||
         |        list_transform(generate_series(0, length(w)),
         |          z -> 0::BIGINT),
         |        list_transform(generate_series(1, length(w)), i -> [i])),
         |      (acc, e) -> list_transform(
         |        generate_series(1, 2 * (length(w) + 1)), q2 ->
         |        CASE WHEN q2 - 1 <> e[1] AND q2 <> length(w) + 2 + e[1]
         |          THEN acc[q2]
         |        WHEN q2 - 1 = e[1] THEN $unigramInnerMaxD
         |        ELSE list_reduce(list_prepend(1000000000000000::BIGINT,
         |          list_transform(
         |            generate_series(greatest(0, e[1] - 4), e[1] - 1), j ->
         |            CASE WHEN len(map_extract(lp,
         |                w[j + 1 : e[1]::INT])) > 0
         |              AND acc[j + 1] > -100000000000000
         |              AND acc[j + 1]
         |                + map_extract(lp, w[j + 1 : e[1]::INT])[1]
         |                = $unigramInnerMaxD
         |              THEN j ELSE 1000000000000000 END)),
         |          (m3, x3) -> least(m3, x3)) END)) AS dpv
         |  FROM wc, mp),
         |pth AS (
         |  SELECT w, n, L, L AS pos FROM dp WHERE L > 0
         |  UNION ALL
         |  SELECT p.w, p.n, p.L,
         |    d.dpv[(p.L + 2 + p.pos)::INT]::INT AS pos
         |  FROM pth p JOIN dp d ON p.w = d.w WHERE p.pos > 0),
         |pieces AS (SELECT p.w, p.n,
         |    p.w[d.dpv[(p.L + 2 + p.pos)::INT]::INT + 1 : p.pos] AS piece
         |  FROM pth p JOIN dp d ON p.w = d.w WHERE p.pos > 0),
         |cnts AS (SELECT piece, sum(n)::BIGINT AS em_cnt
         |  FROM pieces GROUP BY 1)""".stripMargin

  /** Prune-step CTE chain appended to [[unigramR1D]]: per-(word, path
    * piece) banned re-scoring as a RECURSIVE CTE (one position per
    * step, the acc list carried along — NOT a second large fold: two
    * big independent list_reduce folds in one DuckDB query misbind
    * lambda captures, the documented r10 bug the round-1 backtrack
    * already works around), then the exact loss table and the keep
    * set at the 20-multi-piece target. */
  private val unigramPruneD =
    s"""cand AS (SELECT DISTINCT p.w, d.n,
       |    d.dpv[(d.L + 1)::INT] AS s_full, p.piece AS bp
       |  FROM pieces p JOIN dp d ON p.w = d.w WHERE length(p.piece) >= 2),
       |ban AS (
       |  SELECT w, n, s_full, bp, 0 AS e, [0::BIGINT] AS acc FROM cand
       |  UNION ALL
       |  SELECT b.w, b.n, b.s_full, b.bp, b.e + 1,
       |    b.acc || [list_reduce(list_prepend(-1000000000000000::BIGINT,
       |      list_transform(generate_series(greatest(0, b.e + 1 - 4), b.e),
       |        j2 -> CASE WHEN len(map_extract(mp.lp,
       |            b.w[j2 + 1 : (b.e + 1)::INT])) > 0
       |          AND b.w[j2 + 1 : (b.e + 1)::INT] <> b.bp
       |          AND b.acc[j2 + 1] > -100000000000000
       |        THEN b.acc[j2 + 1]
       |          + map_extract(mp.lp, b.w[j2 + 1 : (b.e + 1)::INT])[1]
       |        ELSE -1000000000000000 END)),
       |      (m2, x2) -> greatest(m2, x2))]
       |  FROM ban b, mp WHERE b.e < length(b.w)),
       |bansc AS (SELECT w, n, s_full, bp, acc[(length(w) + 1)::INT] AS s_ban
       |  FROM ban WHERE e = length(w)),
       |loss AS (SELECT bp AS piece, sum(n * (s_full - s_ban))::BIGINT
       |    AS loss_rm FROM bansc GROUP BY 1),
       |pruneall AS (SELECT vl.piece,
       |    coalesce(c.em_cnt, 0)::BIGINT AS em1_cnt,
       |    coalesce(l.loss_rm, 0)::BIGINT AS loss_rm
       |  FROM vl LEFT JOIN cnts c ON vl.piece = c.piece
       |    LEFT JOIN loss l ON vl.piece = l.piece
       |  WHERE length(vl.piece) >= 2),
       |kept AS (SELECT piece FROM pruneall
       |  ORDER BY loss_rm DESC, piece LIMIT 20)""".stripMargin

  /** Round-2 argmin-split expression for position `p.pos` of word row
    * `s` (sc2) under the pruned-vocab map `mp2` — spliced into both the
    * backtrack step and the piece emit, exactly like the Spark side
    * recomputes its inner max. */
  private val argmin2D =
    """list_reduce(list_prepend(1000000000000000::BIGINT,
      |      list_transform(generate_series(greatest(0, p.pos - 4),
      |          p.pos - 1), j ->
      |        CASE WHEN len(map_extract(mp2.lp, s.w[j + 1 : p.pos::INT])) > 0
      |          AND s.acc[j + 1] > -100000000000000
      |          AND s.acc[j + 1]
      |            + map_extract(mp2.lp, s.w[j + 1 : p.pos::INT])[1]
      |            = s.acc[(p.pos + 1)::INT]
      |        THEN j::BIGINT ELSE 1000000000000000 END)),
      |      (m3, x3) -> least(m3, x3))""".stripMargin

  /** Round-2 CTE chain appended to [[unigramPruneD]]: pruned vocab →
    * add-one-smoothed log-probs → scores-only Viterbi as a recursive
    * CTE → recursive backtrack → round-2 EM counts. */
  private val unigramEm2D =
    s"""voc2 AS (SELECT piece FROM vl WHERE length(piece) = 1
       |  UNION ALL SELECT piece FROM kept),
       |c2b AS (SELECT v.piece, (coalesce(c.em_cnt, 0) + 1)::BIGINT AS c1
       |  FROM voc2 v LEFT JOIN cnts c ON v.piece = c.piece),
       |vl2 AS (SELECT piece, CAST(round(ln(c1::DOUBLE
       |    / (SELECT sum(c1)::DOUBLE FROM c2b)) * 1000000.0) AS BIGINT)
       |    AS lp FROM c2b),
       |mp2 AS (SELECT map(list(piece ORDER BY piece),
       |    list(lp ORDER BY piece)) AS lp FROM vl2),
       |vit2 AS (
       |  SELECT w, n, length(w) AS L, 0 AS e, [0::BIGINT] AS acc FROM wc
       |  UNION ALL
       |  SELECT v.w, v.n, v.L, v.e + 1,
       |    v.acc || [list_reduce(list_prepend(-1000000000000000::BIGINT,
       |      list_transform(generate_series(greatest(0, v.e + 1 - 4), v.e),
       |        j2 -> CASE WHEN len(map_extract(mp2.lp,
       |            v.w[j2 + 1 : (v.e + 1)::INT])) > 0
       |          AND v.acc[j2 + 1] > -100000000000000
       |        THEN v.acc[j2 + 1]
       |          + map_extract(mp2.lp, v.w[j2 + 1 : (v.e + 1)::INT])[1]
       |        ELSE -1000000000000000 END)),
       |      (m2, x2) -> greatest(m2, x2))]
       |  FROM vit2 v, mp2 WHERE v.e < v.L),
       |sc2 AS (SELECT w, n, L, acc FROM vit2 WHERE e = L),
       |pth2 AS (
       |  SELECT w, L, L AS pos FROM sc2 WHERE L > 0
       |  UNION ALL
       |  SELECT p.w, p.L, ($argmin2D)::INT AS pos
       |  FROM pth2 p, sc2 s, mp2 WHERE p.w = s.w AND p.pos > 0),
       |pieces2 AS (SELECT p.w, s.n,
       |    s.w[($argmin2D)::INT + 1 : p.pos] AS piece
       |  FROM pth2 p, sc2 s, mp2 WHERE p.w = s.w AND p.pos > 0),
       |cnts2 AS (SELECT piece, sum(n)::BIGINT AS em2_cnt
       |  FROM pieces2 GROUP BY 1)""".stripMargin

  /** The unrolled 3-round BPE merge chain, shared by the
    * tok_bpe_train and tok_bpe_encode oracles. One layer = pair-count
    * the previous symbol table, argmax deterministically, apply the
    * merge as a greedy left fold. The fold state is the merged symbol
    * list encoded as a chr(1)-joined string (list_reduce's accumulator
    * must share the element type); substr arithmetic strips the
    * trailing symbol to splice the merge in place. Every s_k carries
    * the source word `w` so the encode oracle can join documents back
    * against the final segmentation. */
  private val bpeChainDuck: String = {
    def layer(k: Int): String = {
      val (prev, p, b, next) = (s"s${k - 1}", s"p$k", s"b$k", s"s$k")
      s"""$p AS (SELECT p.a AS a, p.b AS b, sum(wc)::BIGINT AS cnt FROM (
         |    SELECT wc, unnest(list_transform(generate_series(1, len(syms) - 1),
         |      i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS p FROM $prev)
         |  GROUP BY 1, 2),
         |$b AS MATERIALIZED (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1),
         |$next AS MATERIALIZED (SELECT w, wc, string_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN string_split(acc, chr(1))[-1] = $b.a AND x = $b.b
         |      THEN substr(acc, 1, length(acc) - length($b.a)) || $b.a || $b.b
         |      ELSE acc || chr(1) || x END), chr(1)) AS syms
         |  FROM $prev CROSS JOIN $b)""".stripMargin
    }
    s"""tk2 AS (SELECT unnest($toksDuck) AS w FROM documents),
       |wf AS (SELECT w, count(*)::BIGINT AS wc FROM tk2
       |  WHERE strpos(w, chr(1)) = 0 GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, wc,
       |    list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
       |  FROM wf),
       |${layer(1)},
       |${layer(2)},
       |${layer(3)}""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "tok_unigram_em" ->
      s"""WITH RECURSIVE $unigramR1D
         |SELECT c.piece,
         |  (round((vl.lp::DOUBLE / 1000000.0) * 1000000.0) / 1000000.0
         |    + 0.0) AS lp_init,
         |  c.em_cnt,
         |  (round((c.em_cnt::DOUBLE
         |    / (SELECT sum(em_cnt)::DOUBLE FROM cnts)) * 1000000.0)
         |    / 1000000.0 + 0.0) AS p_new
         |FROM cnts c JOIN vl ON c.piece = vl.piece
         |ORDER BY c.em_cnt DESC, c.piece LIMIT 20""".stripMargin,

    "tok_unigram_prune" ->
      s"""WITH RECURSIVE $unigramR1D,
         |$unigramPruneD
         |SELECT p.piece, p.em1_cnt, p.loss_rm,
         |  (k.piece IS NOT NULL) AS kept
         |FROM pruneall p LEFT JOIN kept k ON p.piece = k.piece""".stripMargin,

    "tok_unigram_em2" ->
      s"""WITH RECURSIVE $unigramR1D,
         |$unigramPruneD,
         |$unigramEm2D
         |SELECT c2.piece, coalesce(c1.em_cnt, 0)::BIGINT AS em1_cnt,
         |  c2.em2_cnt,
         |  (round(c2.em2_cnt::DOUBLE
         |    / (SELECT sum(em2_cnt)::DOUBLE FROM cnts2) * 1000000.0)
         |    / 1000000.0 + 0.0) AS p2_new,
         |  (SELECT count(*)::BIGINT FROM vl) AS v1,
         |  (SELECT count(*)::BIGINT FROM vl2) AS v2
         |FROM cnts2 c2 LEFT JOIN cnts c1 ON c2.piece = c1.piece
         |ORDER BY c2.em2_cnt DESC, c2.piece LIMIT 20""".stripMargin,

    "tok_encode" ->
      s"""WITH RECURSIVE $unigramR1D,
         |$unigramPruneD,
         |$unigramEm2D,
         |wenc AS (SELECT w, count(*)::BIGINT AS pcs FROM pieces2
         |  GROUP BY 1),
         |dwq AS (SELECT doc_id::BIGINT AS doc_id, unnest($toksDuck) AS w
         |  FROM documents),
         |dwf AS (SELECT doc_id, w FROM dwq WHERE NOT contains(w, chr(1))),
         |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words,
         |    sum(e.pcs)::BIGINT AS n_pieces,
         |    sum(length(d.w))::BIGINT AS n_chars
         |  FROM dwf d JOIN wenc e ON d.w = e.w GROUP BY 1)
         |SELECT doc_id, n_words, n_pieces, n_chars,
         |  (round(n_chars::DOUBLE / n_pieces::DOUBLE, 6) + 0.0)
         |    AS chars_per_piece,
         |  (SELECT sum(n_pieces)::BIGINT FROM perdoc) AS corpus_pieces
         |FROM perdoc""".stripMargin,

    "tok_fertility" ->
      s"""WITH RECURSIVE $unigramR1D,
         |$unigramPruneD,
         |$unigramEm2D,
         |wenc AS (SELECT w, count(*)::BIGINT AS pcs FROM pieces2
         |  GROUP BY 1),
         |dwq AS (SELECT doc_id::BIGINT AS doc_id, unnest($toksDuck) AS w
         |  FROM documents),
         |dwf AS (SELECT doc_id, w FROM dwq WHERE NOT contains(w, chr(1))),
         |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words,
         |    sum(e.pcs)::BIGINT AS n_pieces,
         |    sum(length(d.w))::BIGINT AS n_chars
         |  FROM dwf d JOIN wenc e ON d.w = e.w GROUP BY 1),
         |fsrc AS (SELECT doc_id::BIGINT AS doc_id, source FROM documents),
         |frl AS (SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(n_words)::BIGINT AS words, sum(n_pieces)::BIGINT AS pieces,
         |    sum(n_chars)::BIGINT AS chars
         |  FROM perdoc JOIN fsrc USING (doc_id) GROUP BY 1)
         |SELECT source, n_docs, words, pieces,
         |  (round(CAST(pieces AS DOUBLE) / CAST(words AS DOUBLE)
         |    * 1000000.0) / 1000000.0 + 0.0) AS fertility,
         |  (round(CAST(chars AS DOUBLE) / CAST(pieces AS DOUBLE)
         |    * 1000000.0) / 1000000.0 + 0.0) AS chars_per_piece
         |FROM frl""".stripMargin,

    "tok_bpe_pairs" ->
      s"""WITH $tokStream,
         |pr AS (SELECT unnest($pairsD) AS pair FROM tk WHERE length(tok) >= 2)
         |SELECT pair, count(*)::BIGINT AS cnt FROM pr GROUP BY 1
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "tok_bpe_train" ->
      s"""WITH $bpeChainDuck
         |SELECT 1::BIGINT AS step, a, b, a || b AS merged, cnt FROM b1
         |UNION ALL SELECT 2::BIGINT, a, b, a || b, cnt FROM b2
         |UNION ALL SELECT 3::BIGINT, a, b, a || b, cnt FROM b3""".stripMargin,

    "tok_bpe_encode" ->
      s"""WITH $bpeChainDuck,
         |wenc3 AS (SELECT w, len(syms)::BIGINT AS pcs,
         |    length(w)::BIGINT AS chars FROM s3),
         |dwq3 AS (SELECT doc_id::BIGINT AS doc_id, unnest($toksDuck) AS w
         |  FROM documents),
         |dwf3 AS (SELECT doc_id, w FROM dwq3 WHERE NOT contains(w, chr(1))),
         |perdoc3 AS (SELECT doc_id, count(*)::BIGINT AS n_words,
         |    sum(e.pcs)::BIGINT AS n_tokens,
         |    sum(e.chars)::BIGINT AS n_chars
         |  FROM dwf3 d JOIN wenc3 e ON d.w = e.w GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens, n_chars,
         |  (round(n_chars::DOUBLE / n_tokens::DOUBLE, 6) + 0.0)
         |    AS chars_per_token,
         |  (SELECT sum(n_tokens)::BIGINT FROM perdoc3) AS corpus_tokens
         |FROM perdoc3""".stripMargin,

    "tok_vocab_coverage" ->
      s"""WITH $tokStream,
         |vc AS (SELECT tok, count(*)::BIGINT AS c FROM tk GROUP BY 1),
         |vocab AS (SELECT tok FROM vc ORDER BY c DESC, tok LIMIT 1000)
         |SELECT lang, count(*)::BIGINT AS n_tokens,
         |  sum(CASE WHEN vocab.tok IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_covered,
         |  (count(*) - sum(CASE WHEN vocab.tok IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
         |    AS n_oov,
         |  (round(sum(CASE WHEN vocab.tok IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) + 0.0) AS coverage
         |FROM tk LEFT JOIN vocab USING (tok) GROUP BY 1""".stripMargin,

    "text_zipf" ->
      s"""WITH $tokStream,
         |vc AS (SELECT tok, count(*)::BIGINT AS c FROM tk GROUP BY 1),
         |top AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn
         |  FROM vc ORDER BY c DESC, tok LIMIT 1000),
         |q AS (SELECT round(log10(rn::DOUBLE) * 1000000)::BIGINT AS x,
         |    round(log10(c::DOUBLE) * 1000000)::BIGINT AS y FROM top),
         |ss AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         |    sum(x * x)::BIGINT AS sxx FROM q)
         |SELECT n,
         |  (round((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
         |    / (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE, 6) + 0.0)
         |    AS slope,
         |  (round((sy::DOUBLE - ((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
         |      / (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE / 1000000.0, 6)
         |    + 0.0) AS intercept
         |FROM ss WHERE n > 1""".stripMargin)
}
