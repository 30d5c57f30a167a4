package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Text-analysis operators over `documents` (BASELINE.json north-star
  * family: token counting, term stats, language-ID heuristic, quality
  * scoring, document fingerprinting).
  *
  * Everything is native Catalyst expressions (split / transform /
  * array_* / md5) — no UDFs, so the whole family stays inside
  * whole-stage codegen and scales linearly with input splits: per-doc
  * maps with no shuffle except the term-frequency groupBy, which does
  * map-side partial aggregation.
  *
  * Tokenization contract (mirrored exactly in the DuckDB oracles):
  * whitespace split of trim(text); empty/blank text → 0 tokens, ratio
  * fields null.
  */
object TextOps {

  /** Whitespace tokens of trim(text); [] for blank text. Explicit
    * class, not \s: Java's \s includes U+000B, RE2's (DuckDB) does not,
    * so \s on both sides diverges on a vertical-tab document.
    * Package-visible: q96's manifest counts tokens with the SAME rule
    * so its budgets can't drift from the text family's. */
  private[queries] def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "[ \\t\\n\\f\\r]+"))

  private val stopwords = Seq("the", "a", "and", "of")

  /** The BUILT per-doc PERPLEXITY table (r21, kind "t36p" — the
    * deferred r20 forward note): t36's bigram-LM fit +
    * per-document scoring used to re-run inside every composer that
    * reads the perplexity signal (t48's quartile buckets, t51's
    * calibration, q106's rank correlation — ~0.8–1 s of identical
    * tokenize + explode + two model aggregates + scoring join per
    * row). At 100 TB the per-doc perplexity column is materialized
    * once per corpus snapshot and every curation job joins it — the
    * same build-once/serve-many posture as the dedup tiers. t36 is
    * the build row (rebuilds unconditionally, so its bench row keeps
    * measuring the fit + scoring). */
  private[graft] def perplexityIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "t36p", rebuild)(perplexityBody(s, d))

  private def perplexityBody(s: SparkSession, d: String): DataFrame = {
    val bg = t(s, d, "documents")
      .withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
        .as("bg"))
      // tokens contain no spaces (whitespace split), so the first
      // token of the bigram string is recoverable exactly
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      // feeds the model fit (twice) and the scoring join — persist so
      // tokenize+explode runs once; released by SparkEntry.release()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val ctx = bg.groupBy(col("w1")).agg(count(lit(1)).as("c_ctx"))
    // attach the context count to the DISTINCT-BIGRAM model first
    // (model-side join, one row per distinct bigram) so the heavy
    // occurrence stream reshuffles ONCE on bg instead of twice —
    // at 100 TB the stream dwarfs the model by the repeat factor
    val modelC = model
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ctx, "w1")
      .select(col("bg"), col("c_bg"), col("c_ctx"))
    val nll = -sum(log2(col("c_bg") / col("c_ctx"))) / count(lit(1))
    bg.join(modelC, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(nll, 4).as("avg_neg_log2"),
        round(pow(lit(2.0), nll), 4).as("perplexity"))
  }

  /** The BUILT 8-token span-digest stream (r21, kind "sp8" — the text
    * family's analog of the dedup posting list): one row per (doc_id,
    * source, DISTINCT span_md5) over docs with ≥ 8 tokens, the stream
    * t37 / t40 / t38 each re-derived from the corpus scan per
    * invocation (tokenize + 8-token slice + md5 + per-doc
    * array_distinct, ~1–1.5 s of identical work each at sf0.1). At
    * 100 TB this is the n-gram fingerprint index a span-dedup pipeline
    * materializes once next to the corpus; every span-level audit
    * reads it. t37 (the base dup-span measure) is the designated BUILD
    * row — it rebuilds unconditionally, so its bench row keeps
    * measuring the full derivation + checkpoint; t40 (novelty) and t38
    * (top spans per source) serve. t59 is deliberately NOT a consumer:
    * its accounting is position-aware (posexplode, no per-doc
    * distinct) — a different artifact. */
  private def spans8Body(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), col("source"), explode(expr(
        "array_distinct(transform(sequence(0, size(w)-8), " +
          "i -> md5(concat_ws(' ', slice(w, i+1, 8)))))"))
        .as("span_md5"))

  private[graft] def spans8Index(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "sp8", rebuild)(spans8Body(s, d))

  /** The BUILT per-doc quality-verdict table (r21, kind "t35q"): t35's
    * five rule signals + reason/keep verdict, one row per document —
    * the signal frame t51 (calibration), t57 (classifier distillation),
    * t65 (frozen probe) and q95 (quality-weighted sampling) each
    * re-derived per invocation (tokenize + bigram explode + two
    * aggregates + verdict join, ~0.8–1 s each at sf0.1). At 100 TB the
    * quality-signal table is materialized once per corpus snapshot and
    * every downstream curation job joins it — the same posture as the
    * perplexity tier above. t35 is the designated BUILD row (rebuilds
    * unconditionally, so its bench row keeps measuring the full signal
    * derivation + checkpoint). d44's verdict tier serves it as its
    * quality gate. */
  private[graft] def qualityIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "t35q", rebuild)(qualityBody(s, d))

  private def qualityBody(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents")
      .withColumn("w", tokens(col("text")))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_unique", size(array_distinct(col("w"))).cast("long"))
      .withColumn("stop_hits",
        langMarkers.foldRight(lit(null).cast("long")) {
          case ((lang, ms), els) =>
            when(col("lang") === lang,
              size(array_intersect(array_distinct(col("w")),
                array(ms.map(lit): _*))).cast("long")).otherwise(els)
        })
    val bgStats = base.filter(col("n_tokens") >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
        .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("nb"), count(lit(1)).as("ndb"),
        max(col("n")).as("topn"))
      .select(col("doc_id"), (col("topn") / col("nb")).as("tbf"),
        ((col("nb") - col("ndb")) / col("nb")).as("dbf"))
    val topF = coalesce(col("tbf"), lit(0.0))
    val dupF = coalesce(col("dbf"), lit(0.0))
    val reason = when(col("n_tokens") < 16, "too_short")
      .when(col("n_tokens") > 4096, "too_long")
      .when(col("n_unique") / col("n_tokens") < 0.375, "low_diversity")
      .when(topF > 0.0625, "repetitive_top_bigram")
      .when(dupF > 0.0625, "repetitive_dup_bigram")
      .when(col("stop_hits") === 0, "no_stopwords")
      .otherwise("keep")
    base.select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_unique"), col("stop_hits"))
      .join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        when(col("n_tokens") > 0, col("n_unique") / col("n_tokens"))
          .as("uniq_ratio"),
        topF.as("top_bigram_frac"), dupF.as("dup_bigram_frac"),
        col("stop_hits"), reason.as("reason"),
        (reason === "keep").as("keep"))
  }

  /** t34's BM25 scoring, shared verbatim with s44's hybrid fusion.
    * Output: (doc_id, dl, tf_spark, tf_table, tf_vector, bm25) for
    * every document matching ≥1 query term. Persists the tokenized
    * projection (released by SparkEntry.release() per the registry
    * lifecycle contract — Bench/Verify call it between queries; a
    * long-lived session embedding the registry must do the same). */
  private[queries] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "table", "vector")
    val docs = t(s, d, "documents")
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id") +: size(col("w")).cast("long").as("dl") +:
        terms.map(tm =>
          size(filter(col("w"), x => x === lit(tm))).cast("long")
            .as(s"tf_$tm")): _*)
      // feeds the stats aggregate AND the scoring pass — persist the
      // (doc_id, 4×long) projection so tokenize runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        terms.map(tm => sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L))
          .as(s"df_$tm")): _*)
    def termScore(tm: String): Column = {
      val tf = col(s"tf_$tm")
      val dfc = col(s"df_$tm")
      log(lit(1.0) + (col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5))) *
        ((tf * lit(2.25)) / (tf + lit(1.25) *
          (lit(0.25) + lit(0.75) * (col("dl").cast("double") * col("n_docs")) /
            col("sum_dl"))))
    }
    docs.crossJoin(broadcast(stats))
      .filter(terms.map(tm => col(s"tf_$tm")).reduce(_ + _) > 0)
      .select(col("doc_id") +: col("dl") +:
        terms.map(tm => col(s"tf_$tm")) :+
        round(terms.map(termScore).reduce(_ + _), 6).as("bm25"): _*)
  }

  /** Per-language marker stopword sets for the lang-ID heuristic. Order
    * here is the deterministic tie-break priority. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("的", "是", "了"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // REPETITION quality signals (the Gopher-style filters): per-doc
    // top-bigram fraction (what share of all bigram occurrences the
    // single most frequent bigram takes) and duplicate-bigram fraction
    // (share of occurrences that are repeats). High values = degenerate
    // generated/boilerplate text a pretraining filter drops. Two
    // shuffles: a partial-agg groupBy on (doc_id, bigram), then an
    // exchange on doc_id for the window argmax — whose clustering the
    // final per-doc reduce then reuses (hashing on (doc_id, bg) does
    // NOT satisfy partitionBy(doc_id), so Catalyst inserts the second
    // exchange either way; both are keyed by doc_id prefixes, so no
    // skew beyond document size). Ratios are integer-derived → shipped
    // UNROUNDED (exact
    // operands make the doubles bitwise-identical across engines;
    // rounding is what breaks parity — see the q68 lesson).
    "t33_repetition" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val bg = t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
          .as("bg"))
      val counts = bg.groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("n"))
      val wTop = Window.partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col("bg").asc)
      counts.withColumn("rn", row_number().over(wTop))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"),
          count(lit(1)).as("n_distinct_bigrams"),
          max(when(col("rn") === 1, col("bg"))).as("top_bigram"),
          max(when(col("rn") === 1, col("n"))).as("top_n"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
          col("top_bigram"), col("top_n"),
          (col("top_n") / col("n_bigrams")).as("top_bigram_frac"),
          ((col("n_bigrams") - col("n_distinct_bigrams")) / col("n_bigrams"))
            .as("dup_bigram_frac"))
    },

    // Composite QUALITY FILTER — the Gopher/C4-style keep-or-drop gate
    // a pretraining pipeline actually runs, composed from the already-
    // green signal families: token/diversity counts (t24), repetition
    // fractions (t33) and per-language marker-stopword hits (t26).
    // Emits one row per document with keep + the FIRST failing rule as
    // a reason code (priority: too_short > too_long > low_diversity >
    // repetitive_top_bigram > repetitive_dup_bigram > no_stopwords).
    // All thresholds are binary-exact literals (16, 4096, 3/8, 1/16) so
    // the double comparisons agree bitwise across engines; ratios ship
    // unrounded (exact integer operands). Plan shape: map-only signal
    // projection + the t33 bigram double-groupBy keyed by doc_id, then
    // one doc_id equi-join — nothing wider than the repetition stats
    // themselves, so the composite adds no new shuffle shape at 100 TB.
    // BUILD row of the t35q verdict tier (r21): rebuilds the signal
    // table unconditionally, so this bench row keeps measuring the
    // full derivation + checkpoint; t51/t57/t65/q95 serve.
    "t35_quality_filter" -> { (s, d) => qualityIndex(s, d, rebuild = true) },

    // BM25 ranked retrieval for a fixed literal query — the relevance
    // scorer a training-data pipeline uses to mine topic-targeted
    // subsets from a raw corpus. Per-doc term frequencies are map-only
    // lambda filters over the token array; the global stats BM25 needs
    // (N, Σdl, per-term df) are ONE tiny aggregate broadcast back onto
    // the corpus scan — two passes over the data, zero wide shuffles.
    // k1 = 1.25 and b = 0.75 are deliberately binary-exact literals:
    // DuckDB parses FP literals as DECIMAL and multiplies BIGINT×DECIMAL
    // exactly before converting, so a non-representable k1 (e.g. 1.2)
    // would diverge from Java's double path in the last ulp. The ln()
    // output rounds to 6 dp (the t27 idf discipline).
    "t34_bm25" -> { (s, d) => bm25Scores(s, d) },

    // Bigram language-model PERPLEXITY — the CCNet-style quality signal:
    // train a bigram LM on the corpus itself (two partial-agg groupBys:
    // bigram counts and first-token context counts), then score every
    // document by the mean negative log2 conditional probability of its
    // bigram occurrences. The model is JOINED onto the exploded bigram
    // stream on the bigram / context keys — never broadcast or
    // collected — so an unbounded vocabulary at 100 TB just means a
    // bigger (well-partitioned) shuffle, not a driver OOM. p = c(w1 w2)
    // / c(w1 ·) is an exact BIGINT/BIGINT double; the per-doc log2 sum
    // is order-dependent at ~1e-12 so both outputs round to 4 dp (the
    // t32 discipline). perplexity = 2^avg is computed on the UNROUNDED
    // mean in both engines. Docs with <2 tokens have no bigrams and are
    // absent, matching t33.
    "t36_lm_perplexity" -> { (s, d) => perplexityIndex(s, d, rebuild = true) },

    // PERPLEXITY QUARTILE BUCKETS — the CCNet head/middle/tail split:
    // per-language LM-perplexity quartiles (bucket 1 = most fluent) with
    // doc and token mass per bucket, the table a curation run publishes
    // before deciding which perplexity band to keep. Composes t36
    // verbatim. The quartile is NTILE(4) semantics — but rendered from
    // (rank, count) through the exact integer remainder formula instead
    // of a bare ntile window, because rank comes from the
    // block-DISTRIBUTED row_number (DistributedRank: per-(lang, block)
    // windows + a tiny offset aggregate) — a bare ntile over lang would
    // be one task per language forever at 100 TB (the q85 lesson). All
    // published aggregates are order-independent (count / min / max on
    // 4-dp-rounded doubles / BIGINT sum).
    "t48_perplexity_buckets" -> { (s, d) =>
      val ppl = perplexityIndex(s, d) // served (r21; t36 is the build row)
        .select(col("doc_id"), col("n_bigrams"), col("perplexity"))
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val scored = ppl.join(docs, "doc_id")
      val ranked = graft.operators.DistributedRank.rowNumber(scored,
        Seq("lang"), Seq(col("perplexity").asc, col("doc_id").asc),
        floor(col("perplexity")), "rk")
      val n = scored.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      // ntile(4) from (rk, n): q=n div 4 docs per bucket, the first
      // n%4 buckets take one extra row — integer-exact in both engines
      val bucket = when(
        col("rk") <= (col("n") % 4) * (expr("n div 4") + 1),
        expr("(rk + n div 4) div (n div 4 + 1)"))
        .otherwise((col("n") % 4) +
          expr("(rk - (n % 4) * (n div 4 + 1) + n div 4 - 1) div (n div 4)"))
      ranked.join(broadcast(n), "lang")
        .withColumn("bucket", bucket)
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("perplexity")).as("min_ppl"),
          max(col("perplexity")).as("max_ppl"),
          sum(col("n_bigrams")).as("n_bigrams"))
    },

    // SIGNAL CALIBRATION — do the two independent quality signals
    // agree? The t36 LM-perplexity score is bucketed into global
    // quartiles (t48's exact integer ntile over the DistributedRank
    // row_number) and crossed with the t35 keep/drop verdict: per
    // bucket, the keep rate. A monotone falling keep-rate says the
    // perplexity signal and the rule-based gate rank documents the
    // same way (each validates the other); a flat curve says one of
    // them is noise. The audit run before trusting either signal as a
    // sampling weight (q95) — d43's agreement idea, applied to the
    // quality axis. Only shuffles: the two parents' own plus one
    // doc_id equi-join and a 4-row partial agg.
    "t51_signal_calibration" -> { (s, d) =>
      val ppl = perplexityIndex(s, d) // served (r21; t36 is the build row)
        .select(col("doc_id"), col("perplexity"))
      val verdict = qualityIndex(s, d) // served (r21; t35 is the build row)
        .select(col("doc_id"), col("reason"))
      val scored = ppl.join(verdict, "doc_id")
      val ranked = graft.operators.DistributedRank.rowNumber(scored,
        Seq.empty, Seq(col("perplexity").asc, col("doc_id").asc),
        floor(col("perplexity")), "rk")
      val n = scored.agg(count(lit(1)).as("n"))
      val bucket = when(
        col("rk") <= (col("n") % 4) * (expr("n div 4") + 1),
        expr("(rk + n div 4) div (n div 4 + 1)"))
        .otherwise((col("n") % 4) +
          expr("(rk - (n % 4) * (n div 4 + 1) + n div 4 - 1) div (n div 4)"))
      ranked.crossJoin(broadcast(n))
        .withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("reason") === "keep", 1L).otherwise(0L))
            .as("n_keep"),
          min(col("perplexity")).as("min_ppl"),
          max(col("perplexity")).as("max_ppl"))
        .withColumn("keep_rate",
          round(col("n_keep") / col("n_docs"), 4))
    },

    // Cross-document DUPLICATE-SPAN fraction — the RefinedWeb/C4-style
    // corpus-level boilerplate signal: what share of a document's
    // distinct 8-token spans also occur in at least one OTHER document.
    // (Distinct from d28's pairwise Jaccard: this is a per-doc signal
    // against the whole corpus, not a pair list.) Spans are md5-
    // fingerprinted INSIDE the per-doc transform, so the exploded
    // stream and every shuffle key is a fixed 32-char digest, never the
    // token text — the m35 shared-tile discipline. Plan: map-side
    // explode → one partial-agg groupBy on span_md5 (docs-per-span) →
    // join back on span_md5 → per-doc reduce. All shuffles keyed by
    // digest or doc_id; ratios integer-derived, shipped unrounded.
    "t37_dup_span_fraction" -> { (s, d) =>
      // BUILD row of the sp8 span-digest tier (r21): rebuilds the
      // stream unconditionally, so this bench row keeps measuring
      // tokenize + slice + md5 + checkpoint; t40/t38 serve.
      val sp = spans8Index(s, d, rebuild = true)
        .select(col("doc_id"), col("span_md5"))
      val perSpan = sp.groupBy(col("span_md5")).agg(count(lit(1)).as("n_docs"))
      sp.join(perSpan, "span_md5")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_shared_spans"),
          (col("n_shared_spans") / col("n_spans")).as("shared_span_frac"))
    },

    // TEMPORAL NOVELTY — the ingest-ordered "how much of this doc is
    // genuinely new" signal a continuously-fed corpus tracks: the share
    // of a doc's distinct 8-token spans whose FIRST occurrence (min
    // doc_id, the ingest-order surrogate) is this doc. t37's digest
    // discipline — spans md5-fingerprinted inside the per-doc
    // transform, so the exploded stream and every shuffle key is a
    // fixed 32-char digest, never token text. One span-keyed min
    // aggregate, one join back, one doc_id reduce; at 100 TB the span
    // stream shuffles once on its digest, exactly like t37.
    "t40_ngram_novelty" -> { (s, d) =>
      // served (r21; t37 is the sp8 tier's build row)
      val sp = spans8Index(s, d).select(col("doc_id"), col("span_md5"))
      val first = sp.groupBy(col("span_md5"))
        .agg(min(col("doc_id")).as("first_doc"))
      sp.join(first, "span_md5")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_spans"), col("n_novel"),
          (col("n_novel") / col("n_spans")).as("novelty_frac"))
    },

    // Top BOILERPLATE SPANS per source — the report a data-cleaning
    // pipeline actually reads: for each source, the 5 most-duplicated
    // 8-token spans (shared by ≥2 docs). Composes t37's digest stream
    // with the NATIVE bounded-heap TopKPerKey exec (plans/
    // TopKPerKeyNative) — per-(source,span) counts then one streaming
    // top-k pass with O(sources × 5) state, no per-partition sort.
    // Shuffle keys: (source, span_md5) for the count, source for the
    // heap — both bounded-width; span text never ships.
    "t38_top_spans_per_source" -> { (s, d) =>
      // served (r21; t37 is the sp8 tier's build row)
      val sp = spans8Index(s, d).select(col("source"), col("span_md5"))
      val stats = sp.groupBy(col("source"), col("span_md5"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
      graft.operators.TopKPerKeyApi.topKPerKey(stats, Seq("source"),
        Seq(("n_docs", false), ("span_md5", true)), 5)
        .select(col("source"), col("rnk"), col("span_md5"), col("n_docs"))
    },

    // Document CHUNKING — the RAG/pretraining chunker: fixed-size token
    // windows (32 tokens) with overlap (stride 24), one output row per
    // chunk, fingerprinted. Map-only: per-doc window starts via
    // sequence()+explode, chunk text via slice — no shuffle at all.
    // The start set is capped at 4096 tokens/doc as an EXPLICIT
    // semantic in both engines (the m33 bounded-sampling discipline:
    // DuckDB range() can't take a correlated bound, and unbounded
    // per-row explode is a skew hazard at 100 TB anyway).
    "t30_chunking" -> { (s, d) =>
      val size32 = 32
      val stride = 24
      val cap = 4096
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .withColumn("n", size(col("w")))
        .filter(col("n") > 0)
        .withColumn("st", explode(sequence(lit(0),
          least(col("n") - 1, lit(cap - 1)), lit(stride))))
        .select(col("doc_id"),
          (col("st") / stride).cast("long").as("chunk_idx"),
          size(slice(col("w"), col("st") + 1, lit(size32))).cast("long")
            .as("chunk_tokens"),
          md5(concat_ws(" ", slice(col("w"), col("st") + 1, lit(size32))))
            .as("chunk_md5"))
    },

    // Sequence PACKING — concat-and-chunk batch assignment (the
    // GPT-style pretraining packer): documents concatenate in doc_id
    // order into a single token stream cut every 2048 tokens; each doc
    // is assigned the bin its first token lands in. The global running
    // sum this needs is computed the SCALABLE way — a bare
    // `sum() over (order by)` would move the whole corpus to one
    // partition, so instead: per-block intra-window cumsum (blocks =
    // doc_id ranges, distributed), block totals rolled into prefix
    // offsets (one window over #blocks rows — tiny), offsets broadcast
    // back. Exact integer math throughout; bin stats from one
    // partial-agg groupBy.
    "t31_seq_packing" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 2048
      val block = 65536
      val base = t(s, d, "documents")
        .withColumn("n", size(tokens(col("text"))).cast("long"))
        .withColumn("blk", expr(s"doc_id div $block"))
      val wIn = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("blk")).agg(sum(col("n")).as("bt"))
        .withColumn("off", coalesce(sum(col("bt")).over(wBlk), lit(0L)))
        .select(col("blk"), col("off"))
      base.withColumn("icum", sum(col("n")).over(wIn))
        .join(broadcast(offsets), "blk")
        .withColumn("bin", expr(s"(off + icum - n) div $budget"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"))
    },

    // EXACT WEIGHTED MEDIAN per source — the token-mass-weighted
    // median document length: the length L such that docs of length
    // ≤ L hold at least half the source's tokens. The robust "how long
    // is a typical token's document" statistic a curation run tracks
    // (the unweighted median over-represents short docs). Exactness
    // without a one-task-per-source window: the cumulative weight runs
    // through t31's block-offset discipline — per-(source, block)
    // windows (blocks = n_chars ranges, monotone in the sort key) plus
    // a tiny per-source prefix aggregate broadcast back — and the
    // median rule 2·cumw ≥ total is pure integer comparison, no
    // division, so both engines pick the identical row.
    "t49_weighted_median" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val block = 256
      val base = t(s, d, "documents")
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("n_tokens"))
        .withColumn("blk", expr(s"n_chars div $block"))
      val wIn = Window.partitionBy(col("source"), col("blk"))
        .orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.partitionBy(col("source")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("source"), col("blk"))
        .agg(sum(col("n_tokens")).as("bt"))
        .withColumn("off", coalesce(sum(col("bt")).over(wBlk), lit(0L)))
        .select(col("source"), col("blk"), col("off"))
      val totals = base.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("total_tokens"))
      base.withColumn("icum", sum(col("n_tokens")).over(wIn))
        .join(broadcast(offsets), Seq("source", "blk"))
        .withColumn("cumw", col("off") + col("icum"))
        .join(broadcast(totals), "source")
        .filter(col("cumw") * 2 >= col("total_tokens"))
        .groupBy(col("source"), col("total_tokens"))
        .agg(min(col("n_chars")).as("median_len"))
        .select(col("source"), col("total_tokens"), col("median_len"))
    },

    // TOKENIZER FERTILITY per language — the tokenizer-evaluation
    // metric an LLM team tracks per language before committing a vocab:
    // BPE-style pieces per whitespace word (fertility — high values
    // mean the tokenizer fragments that language and wastes context
    // window) and chars per BPE piece (compression). Composes the t21
    // whitespace rule and the t29 pre-tokenizer regex verbatim, so this
    // row can't drift from either count. Map-only per doc into a
    // per-lang partial agg — no shuffle beyond the ~5-row reduce.
    // Ratios are BIGINT-sum quotients shipped unrounded (exact
    // operands, the t33 discipline).
    "t52_tokenizer_fertility" -> { (s, d) =>
      val pat =
        "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"
      t(s, d, "documents")
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("nw"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("nb"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("ws_tokens"),
          sum(col("nb")).as("bpe_tokens"),
          sum(col("nc")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"), col("n_chars"),
          when(col("ws_tokens") > 0, col("bpe_tokens") / col("ws_tokens"))
            .as("fertility"),
          when(col("bpe_tokens") > 0, col("n_chars") / col("bpe_tokens"))
            .as("chars_per_bpe"))
    },

    // LENGTH-DISTRIBUTION DRIFT per source — the exact two-sample
    // Kolmogorov-Smirnov statistic of each source's n_chars
    // distribution against the whole corpus: D = max over the length
    // grid of |F_src − F_corpus|. The slice-drift alarm beside t39's
    // vocabulary KL — a source whose length ECDF walks away from the
    // corpus (truncation bug, boilerplate injection) trips this before
    // eyeballing histograms would. Scale shape: both ECDFs evaluate on
    // the DISTINCT-length grid (bounded by the corpus length cap, i.e.
    // thousands of rows regardless of corpus size), so the only
    // unpartitioned window runs over that tiny aggregate — the corpus
    // itself is touched by two partial-agg groupBys only. Each ECDF
    // value is a BIGINT/BIGINT quotient (exact deterministic double in
    // both engines) and max is order-independent, so D ships unrounded.
    "t53_length_ks" -> { (s, d) =>
      val docs = t(s, d, "documents").select(col("source"), col("n_chars"))
      val grid = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("cc"))
      // single-partition window, but over the distinct-length grid only
      val wG = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gcum = grid.withColumn("cum_c", sum(col("cc")).over(wG))
        .select(col("n_chars"), col("cum_c"))
      val total = docs.agg(count(lit(1)).as("n_all"))
      val srcN = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val srcLen = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cs"))
      val wS = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      gcum.crossJoin(broadcast(srcN))
        .join(srcLen, Seq("source", "n_chars"), "left")
        .withColumn("cum_s",
          sum(coalesce(col("cs"), lit(0L))).over(wS))
        .crossJoin(broadcast(total))
        .groupBy(col("source"), col("n_docs"))
        .agg(max(abs(col("cum_s") / col("n_docs")
          - col("cum_c") / col("n_all"))).as("ks_d"))
        .select(col("source"), col("n_docs"), col("ks_d"))
    },

    // FLESCH READING EASE — the classic readability screen, rebuilt
    // from portable primitives so both engines score identically:
    // words by the shared token rule, sentences as maximal [.!?]+ runs,
    // syllables estimated as maximal vowel-group runs ([aeiouy]+) —
    // the standard letter-class approximation. Run counts come from a
    // length delta (collapse each run to '#' vs delete it), so no
    // regexp_extract_all/array materialization — three codegen'd
    // regexp_replace calls per doc, zero shuffles (pure map). The
    // 206.835 − 1.015·(w/s) − 84.6·(syl/w) formula evaluates
    // left-associated on exact integer-ratio operands in both engines.
    "t55_readability" -> { (s, d) =>
      def runs(c: Column, cls: String): Column =
        (length(regexp_replace(c, cls, "#"))
          - length(regexp_replace(c, cls, ""))).cast("long")
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) > 0)
        .withColumn("lt", lower(col("text")))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_words"),
          greatest(lit(1L), runs(col("lt"), "[.!?]+")).as("n_sentences"),
          greatest(lit(1L), runs(col("lt"), "[aeiouy]+")).as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables") / col("n_words")), 4)
            .as("flesch"))
    },

    // MODEL-BASED QUALITY CLASSIFIER — the distillation a production
    // curation stack runs (RefinedWeb/FineWeb pattern): train a linear
    // model to imitate the rule gate (t35's keep/drop), then deploy
    // the MODEL where evaluating the full rule cascade is too slow or
    // the rules too brittle. MLlib Pipeline end-to-end (the M6
    // machinery on the curation surface): VectorAssembler over the
    // SAME five signals the rules threshold (token count, uniqueness,
    // bigram repetition ×2, stopword hits) → standardized
    // LogisticRegression, fit on the q65 train split, scored on all
    // three splits. Training is MLlib's distributed treeAggregate
    // LBFGS; scoring is a broadcast-coefficient map — both the right
    // 100 TB shapes. FP reduction order makes low-margin predictions
    // run-varying → rows-only (the d29/d30 class); the held-out
    // agreement floor vs the rule gate lives in CurationSpec.
    "t57_quality_classifier" -> { (s, d) =>
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.VectorAssembler
      val signals = qualityIndex(s, d) // served (r21; t35 is the build row)
        .select(col("doc_id"),
          col("n_tokens").cast("double").as("f_len"),
          coalesce(col("uniq_ratio"), lit(0.0)).as("f_uniq"),
          col("top_bigram_frac").as("f_top"),
          col("dup_bigram_frac").as("f_dup"),
          col("stop_hits").cast("double").as("f_stop"),
          when(col("reason") === "keep", 1.0).otherwise(0.0).as("label"))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long") % 100
      val docs = signals.withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test"))
      val pipe = new Pipeline().setStages(Array(
        new VectorAssembler()
          .setInputCols(Array("f_len", "f_uniq", "f_top", "f_dup", "f_stop"))
          .setOutputCol("features"),
        new LogisticRegression().setMaxIter(50).setRegParam(0.001)
          .setStandardization(true)))
      // Fit-input partitioning derived from DATA SIZE, not core count
      // (guide §2 — scale-adaptive partitioning): the 5-signal
      // training frame is ~64 B/row, so at bench SFs it is a couple
      // of MB, yet it inherited the session's shuffle parallelism —
      // making each of LBFGS's ~50 treeAggregate iterations a
      // 32-task job whose scheduling overhead dwarfs its arithmetic
      // (measured: t57 5.6 s vs t65's 1.1 s map-side scorer over the
      // SAME served signals). Size the fit input at ~1M rows/task
      // (~64 MB of instances — the parquet-split discipline;
      // override via spark.graft.fit.rowsPerTask for other row
      // widths): at 100 TB that is thousands of tasks, here it is
      // one. The count is a penny job over the served checkpoint.
      // repartitionByRange + sortWithinPartitions on doc_id makes the
      // instance order a pure function of the data and the (size-
      // derived) partition count — the treeAggregate FP reduction
      // order no longer shifts with the session's thread count.
      val rowsPerTask =
        s.conf.get("spark.graft.fit.rowsPerTask", (1L << 20).toString).toLong
      require(rowsPerTask > 0,
        s"spark.graft.fit.rowsPerTask must be positive, got $rowsPerTask")
      val train = docs.filter(col("split") === "train")
      val nParts = math.max(1L,
        (train.count() + rowsPerTask - 1) / rowsPerTask).toInt
      val model = pipe.fit(train
        .repartitionByRange(nParts, col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
      model.transform(docs)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label").cast("long")).as("n_keep"),
          sum(when(col("prediction") === col("label"), 1L).otherwise(0L))
            .as("n_agree"))
        .withColumn("agreement", round(col("n_agree") / col("n_docs"), 4))
    },

    // FIXED-WEIGHT LINEAR PROBE — t57's deterministic twin: the same
    // five t35 signals, the same md5-bucket splits, the same per-split
    // agreement table, but the scorer is a FROZEN linear probe (one
    // offline logistic fit, weights rounded to 1 dp and committed as
    // literals) instead of a run-fit LBFGS model. The margin is one
    // left-associated double chain over exact integer-ratio operands —
    // identical IEEE evaluation in both engines — so unlike t57
    // (rows-only: treeAggregate FP order moves low-margin predictions
    // run to run) this replays hash-exactly in DuckDB at every SF.
    // Agreement vs the t35 rule gate is ~0.90-0.91 at all three SFs
    // (measured sf0.001/0.01/0.1) — the distilled-probe quality the
    // RefinedWeb pattern expects, now with an exact oracle. Deploy
    // shape is a broadcast-free map-side scorer: five doubles in, one
    // comparison out, no shuffle beyond t35's own signal aggregation.
    "t65_linear_probe" -> { (s, d) =>
      val signals = qualityIndex(s, d) // served (r21; t35 is the build row)
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("uniq_ratio"), lit(0.0)).as("f_uniq"),
          col("top_bigram_frac").as("f_top"),
          col("dup_bigram_frac").as("f_dup"),
          col("stop_hits"),
          when(col("reason") === "keep", 1L).otherwise(0L).as("label"))
        .withColumn("f_band",
          when(col("n_tokens") >= 16 && col("n_tokens") <= 4096, 1.0d)
            .otherwise(0.0d))
        .withColumn("f_stop", least(col("stop_hits"), lit(4L)) / lit(4.0d))
        // FIXED ORDER: the same left-associated chain as the oracle
        .withColumn("margin",
          lit(-16.1d) + lit(8.8d) * col("f_band")
            + lit(9.0d) * col("f_uniq")
            - lit(15.5d) * col("f_top")
            - lit(32.9d) * col("f_dup")
            + lit(11.0d) * col("f_stop"))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long") % 100
      signals.withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label")).as("n_keep"),
          sum(when((col("margin") > 0.0d) === (col("label") === 1L), 1L)
            .otherwise(0L)).as("n_agree"))
        .withColumn("agreement", round(col("n_agree") / col("n_docs"), 4))
    },

    // GOPHER QUALITY RULES — the published rule-based pretraining
    // filter (Rae et al. 2021, Gopher §A1.1): word-count bounds, mean
    // word length in [3,10], symbol-to-word ratio (# and ellipsis),
    // ≥80% words with an alphabetic char, and line-shape screens
    // (bullet-start, ellipsis-end). Complements t35 (our heuristic
    // gate) with the literature-standard rule set — a user can A/B the
    // two keep-sets directly. Everything is per-doc map-side string
    // arithmetic (no shuffle at all): counts via length-delta and
    // higher-order array functions, all codegen-friendly; the verdict
    // CASE evaluates on the ROUNDED ratios so both engines land on the
    // same side of every threshold by construction. First-failing-rule
    // reporting (CASE order) mirrors t35's reason column.
    "t56_gopher_rules" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) > 0)
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("mwl", round(
          expr("aggregate(w, 0L, (a, x) -> a + length(x))") /
            col("n_words"), 4))
        .withColumn("n_sym",
          (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
            .cast("long") +
          expr("(length(text) - length(replace(text, '...', ''))) div 3"))
        .withColumn("symbol_ratio", round(col("n_sym") / col("n_words"), 4))
        .withColumn("alpha_frac", round(
          expr("size(filter(w, x -> x rlike '[a-zA-Z]'))").cast("long") /
            col("n_words"), 4))
        .withColumn("lines", split(col("text"), "\n"))
        .withColumn("bullet_frac", round(
          expr("size(filter(lines, x -> startswith(trim(x), '-') " +
            "OR startswith(trim(x), '*')))").cast("long") /
            size(col("lines")).cast("long"), 4))
        .withColumn("ellipsis_frac", round(
          expr("size(filter(lines, x -> endswith(trim(x), '...')))")
            .cast("long") / size(col("lines")).cast("long"), 4))
        .withColumn("reason",
          when(col("n_words") < 50, "too_short")
            .when(col("n_words") > 100000, "too_long")
            .when(col("mwl") < 3.0 || col("mwl") > 10.0, "word_length")
            .when(col("symbol_ratio") > 0.1, "symbol_ratio")
            .when(col("alpha_frac") < 0.8, "low_alpha")
            .when(col("bullet_frac") > 0.9, "bullet_lines")
            .when(col("ellipsis_frac") > 0.3, "ellipsis_lines")
            .otherwise("keep"))
        .select(col("doc_id"), col("n_words"), col("mwl"),
          col("symbol_ratio"), col("alpha_frac"), col("bullet_frac"),
          col("ellipsis_frac"), col("reason"),
          (col("reason") === "keep").as("keep"))
    },

    // PMI COLLOCATIONS — corpus-level top-20 bigram collocations by
    // pointwise mutual information: the phrase-mining pass (tokenizer
    // merge candidates, multi-word entities) a corpus study runs beside
    // t22's raw frequencies — raw counts surface "of the", PMI surfaces
    // genuinely associated pairs. p(w1 w2) from the bigram-slot
    // distribution over p(w1)p(w2) from the unigram distribution,
    // support-filtered at count ≥ 5. All shuffles keyed by token/bigram
    // (partial-agg counts + two unigram equi-joins onto the ≥5-support
    // survivors); totals are two broadcast 1-row aggregates, and the
    // top-20 runs through distributed TakeOrderedAndProject on the
    // 6-dp-rounded pmi with bigram tie-break (the t43 discipline) — no
    // global sort. ln over exact-operand quotients drifts ≤ 2 ulp
    // across engines, far inside the 1e-6 grid (the t39 argument).
    "t54_pmi_collocations" -> { (s, d) =>
      val toks = t(s, d, "documents").withColumn("w", tokens(col("text")))
      val uni = toks.select(explode(col("w")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      // feeds the total and the support filter — persist so the bigram
      // count pass runs once; released by SparkEntry.release()
      val bgCounts = toks.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
          .as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nu = uni.agg(sum(col("cu")).as("n_u"))
      val nb = bgCounts.agg(sum(col("c_bg")).as("n_bg"))
      bgCounts.filter(col("c_bg") >= 5)
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
        .join(uni.select(col("tok").as("w1"), col("cu").as("c1")), "w1")
        .join(uni.select(col("tok").as("w2"), col("cu").as("c2")), "w2")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .withColumn("pmi", round(log((col("c_bg") / col("n_bg")) /
          ((col("c1") / col("n_u")) * (col("c2") / col("n_u")))), 6))
        .orderBy(col("pmi").desc, col("bg").asc)
        .limit(20)
        .select(col("bg").as("bigram"), col("c_bg"), col("c1"),
          col("c2"), col("pmi"))
    },

    // Per-source token ENTROPY (Shannon bits) — the distribution-drift
    // metric a data-quality pipeline tracks per slice: low entropy =
    // repetitive/boilerplate slice, drops vs yesterday = collapse.
    // Two partial-agg groupBys (token counts, then the entropy sum);
    // the FP sum is order-dependent at ~1e-12 so the output rounds to
    // 4 dp (the q17 discipline), with q61's +0.0 sign-of-zero guard.
    "t32_token_entropy" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("token"))
      val counts = tok.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy(col("source"))
        .agg(sum(col("n")).as("tt"))
      counts.join(totals, "source")
        .groupBy(col("source"))
        .agg(
          (round(-sum((col("n") / col("tt")) * log2(col("n") / col("tt"))), 4)
            + lit(0.0)).as("entropy_bits"),
          max(col("tt")).as("n_tokens"),
          count(lit(1)).as("n_distinct"))
    },

    // Token / char counts + mean token length per document.
    "t21_token_stats" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .withColumn("n_tokens", size(col("w")).cast("long"))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_text"),
          col("n_tokens"),
          when(col("n_tokens") > 0,
            round(length(expr("replace(text, ' ', '')")) / col("n_tokens"), 4))
            .as("avg_token_len"))
    },

    // BPE-style pre-tokenizer counts: the GPT-2 pre-tokenizer regex
    // family (contraction suffixes | space?+letters | space?+digits |
    // space?+punct-run | whitespace-run), restricted to the
    // lookahead-free subset both Java regex and RE2 (DuckDB) support
    // identically. Whitespace is the EXPLICIT class [ \t\n\f\r], not
    // \s — Java's \s includes vertical tab U+000B, RE2's does not, so
    // \s would diverge on a document containing one. This is the
    // "token budget" estimator an LLM-data pipeline runs over every
    // document — map-only, no shuffle.
    "t29_bpe_tokens" -> { (s, d) =>
      val pat =
        "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"
      val toks = regexp_extract_all(col("text"), lit(pat), lit(0))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_bpe_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct_bpe"))
    },

    // Corpus term frequency + document frequency (the CountVectorizer
    // vocabulary-fit shape, as a verifiable aggregation).
    "t22_term_frequency" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
    },

    // PER-SOURCE DISTRIBUTION DRIFT — the corpus-monitoring signal a
    // production pipeline alarms on: KL divergence of each source's
    // unigram distribution from the corpus distribution, both
    // restricted to the corpus TOP-100 vocabulary (count DESC, token
    // ASC — a deterministic total order, so both engines pick the
    // identical vocab) and renormalized within it. Vocab selection is
    // a distributed TakeOrderedAndProject over the token counts; the
    // 100-row vocab and the 1-row corpus total then BROADCAST onto the
    // per-source counts — the exploded token stream shuffles only on
    // its natural keys (token, then (source, token)), never on a
    // global sort. Terms a source never emits contribute 0 by the
    // standard convention (the inner join drops them). Σ over ≤100
    // double terms rounds to 6 dp (the t27 discipline).
    "t39_unigram_kl" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("token"))
      val vocab = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("c_corpus"))
        .orderBy(col("c_corpus").desc, col("token").asc)
        .limit(100)
      val vTot = vocab.agg(sum(col("c_corpus")).as("corpus_tot"))
      val srcCounts = tok
        .join(broadcast(vocab.select(col("token"))), "token")
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c_src"))
      val srcTot = srcCounts.groupBy(col("source"))
        .agg(sum(col("c_src")).as("src_tot"))
      srcCounts
        .join(broadcast(vocab), "token")
        .join(srcTot, "source")
        .crossJoin(broadcast(vTot))
        .withColumn("p_src", col("c_src") / col("src_tot"))
        .withColumn("p_corpus", col("c_corpus") / col("corpus_tot"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_vocab_terms"),
          min(col("src_tot")).as("vocab_tokens"),
          round(sum(col("p_src") * log(col("p_src") / col("p_corpus"))), 6)
            .as("kl"))
    },

    // ZIPF SLOPE — the distribution-SHAPE monitor beside t39's drift:
    // regress ln(frequency) on ln(rank) over each source's top-50
    // tokens (row_number over the deterministic (n DESC, token ASC)
    // order) and report the fitted slope — natural text sits near −1;
    // templated/boilerplate sources flatten or steepen. regr_slope is
    // the same covar_pop/var_pop algebra in both engines over the
    // identical 50 points; one (source, token) partial-agg reduce plus
    // a source-partitioned rank window — every shuffle keyed by
    // source. 4-dp final round (the q61 correlation discipline).
    "t41_zipf_slope" -> { (s, d) =>
      val counts = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("token").asc)
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 50)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          (round(expr("regr_slope(ln(n), ln(rnk))"), 4) + 0.0)
            .as("zipf_slope"))
    },

    // Stopword ratio per language label.
    "t23_stopword_ratio" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("token").isin(stopwords: _*), 1L).otherwise(0L))
            .as("n_stopwords"))
        .withColumn("stopword_ratio",
          round(col("n_stopwords") / col("n_tokens"), 4))
    },

    // Quality scoring: length-capped × lexical-diversity score.
    "t24_quality_score" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .withColumn("n_tokens", size(col("w")).cast("long"))
        .withColumn("n_unique", size(array_distinct(col("w"))).cast("long"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_unique"),
          when(col("n_tokens") > 0,
            round(col("n_unique") / col("n_tokens"), 4)).as("uniq_ratio"),
          when(col("n_tokens") > 0,
            round(least(lit(1.0), col("n_tokens") / 100.0) *
              (col("n_unique") / col("n_tokens")), 4)).as("quality"))
    },

    // Document fingerprints: exact digest + order-insensitive bag digest
    // (near-dup blocking key for shuffle-free exact clustering).
    "t25_fingerprint" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .select(
          col("doc_id"),
          md5(col("text")).as("exact_md5"),
          md5(concat_ws(" ", array_sort(array_distinct(col("w")))))
            .as("bag_md5"))
    },

    // TF-IDF, fully oracle-checked: tf and df as aggregates, idf by the
    // explicit formula ln((N+1)/(df+1)) evaluated identically in both
    // engines. N rides in as a broadcast 1-row cross join (no
    // driver-side collect in the plan).
    "t27_tfidf" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("n_docs_with_term"))
      val n = tok.agg(countDistinct(col("doc_id")).as("n_docs"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"), col("tf"),
          col("n_docs_with_term"),
          round(col("tf") * log((col("n_docs") + 1.0) /
            (col("n_docs_with_term") + 1.0)), 6).as("tfidf"))
    },

    // KEYWORD EXTRACTION — top-3 TF-IDF terms per document, the
    // summarization/tagging primitive: t27's fully-oracle-checked
    // scores ranked through the NATIVE TopKPerKey bounded-heap exec
    // (O(docs×3) state, no per-partition sort — the q13/t38
    // discipline). Ranking on the ROUNDED 6-dp tfidf with token ASC
    // tie-break gives both engines the identical total order.
    "t43_keywords" -> { (s, d) =>
      val scores = queries("t27_tfidf")(s, d)
        .select(col("doc_id"), col("token"), col("tfidf"))
      graft.operators.TopKPerKeyApi.topKPerKey(scores, Seq("doc_id"),
        Seq(("tfidf", false), ("token", true)), 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("tfidf"))
    },

    // PATTERN SCRUB / redaction accounting — the content-policy pass a
    // training-data pipeline runs before release: count and redact a
    // configurable regex family per document (PII patterns in
    // production — emails, phone numbers; here three families the
    // synthetic corpus actually exercises, so the operator is
    // non-vacuous and every counter fires). MAP-ONLY: three
    // regexp_count + chained regexp_replace per row, zero shuffles —
    // the shape survives any corpus size unchanged. Replacement order
    // is part of the contract (the oracle chains the same three
    // replaces in the same order); the "[X]" token contains no
    // pattern-matchable text, so the chain is confluent anyway. Both
    // regex dialects (Java here, RE2 in DuckDB) support the subset
    // used: \b word bounds + alternation, no lookarounds.
    "t44_pattern_scrub" -> { (s, d) =>
      val fams = Seq(
        "n_customer" -> "\\bcustomer\\b",
        "n_value" -> "\\bvalue\\b",
        "n_phrase" -> "fast (table|scan)")
      val redacted = fams.foldLeft(col("text")) { case (c, (_, p)) =>
        regexp_replace(c, p, "[X]")
      }
      fams.foldLeft(t(s, d, "documents")) { case (df, (name, p)) =>
          df.withColumn(name, regexp_count(col("text"), lit(p)).cast("long"))
        }
        .select(col("doc_id"),
          col("n_customer"), col("n_value"), col("n_phrase"),
          (col("n_customer") + col("n_value") + col("n_phrase"))
            .as("n_redactions"),
          md5(redacted).as("redacted_md5"),
          length(redacted).cast("long").as("redacted_len"))
    },

    // VOCABULARY GROWTH (Heaps-law) curve — the novelty-saturation
    // diagnostic a pretraining pipeline tracks per source: is new data
    // still adding new vocabulary, or has the source gone stale? A
    // naive rendering scans prefixes quadratically; the scalable one
    // is FIRST-OCCURRENCE algebra: vocab size at checkpoint c equals
    // the count of tokens whose min(doc_id) lands at or before c. One
    // (source, token) groupBy for the first-seen table, one tiny
    // per-(source, checkpoint) count, then the cumulative sum runs
    // over the 100×-reduced checkpoint grid with the t31 block-offset
    // discipline (blocks of 4096 checkpoints) — never a one-task-per-
    // source window over an unbounded grid.
    //
    // The curve is DENSE (q67's grid-resample discipline, composed
    // BEFORE the cumsum): every checkpoint from the source's first to
    // its last emits a row, so saturation reads as n_new_tokens = 0
    // with a flat vocab_size — densification is a left-join of the
    // grid onto the sparse counts plus coalesce(·, 0), and the same
    // blocked cumsum then carries the plateau for free (a cumulative
    // sum forward-fills zeros by construction — no last(ignoreNulls)
    // window needed). The grid itself is built in TWO explode levels
    // (blocks of 4096, then positions within the block) so no row ever
    // materializes a span-length array: at 100 TB a source spans ~1e7
    // checkpoints, and a single sequence() array that long is an 80 MB
    // row — the two-level form caps every array at 4096 entries.
    "t45_vocab_growth" -> { (s, d) =>
      val ckptDocs = 100
      val firstSeen = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(min(col("doc_id")).as("first_doc"))
      val perCkpt = firstSeen
        .groupBy(col("source"),
          expr(s"first_doc div $ckptDocs").as("ckpt"))
        .agg(count(lit(1)).as("n_new_tokens"))
      val grid = perCkpt.groupBy(col("source"))
        .agg(min(col("ckpt")).as("c0"), max(col("ckpt")).as("c1"))
        .select(col("source"), col("c0"), col("c1"),
          explode(sequence(expr("c0 div 4096"), expr("c1 div 4096")))
            .as("gblk"))
        .select(col("source"),
          explode(sequence(
            greatest(col("gblk") * 4096, col("c0")),
            least(col("gblk") * 4096 + 4095, col("c1")))).as("ckpt"))
      val dense = grid
        .join(perCkpt, Seq("source", "ckpt"), "left")
        .withColumn("n_new_tokens", coalesce(col("n_new_tokens"), lit(0L)))
      // cumulative vocab over the checkpoint grid: intra-block window
      // + broadcast block offsets (t31), exact integer arithmetic
      val wIn = Window.partitionBy(col("source"), col("blk"))
        .orderBy(col("ckpt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.partitionBy(col("source")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val blocked = dense.withColumn("blk", expr("ckpt div 4096"))
      val offsets = blocked.groupBy(col("source"), col("blk"))
        .agg(sum(col("n_new_tokens")).as("bt"))
        .withColumn("off", coalesce(sum(col("bt")).over(wBlk), lit(0L)))
        .select(col("source"), col("blk"), col("off"))
      blocked
        .withColumn("icum", sum(col("n_new_tokens")).over(wIn))
        .join(broadcast(offsets), Seq("source", "blk"))
        .select(col("source"), col("ckpt"), col("n_new_tokens"),
          (col("off") + col("icum")).as("vocab_size"))
    },

    // CROSS-SOURCE OVERLAP MATRIX — pairwise 5-gram containment and
    // Jaccard between sources: the dataset-card table that catches one
    // source mirroring another (a crawl that re-ingested a dump, a
    // "distinct" subcorpus that is 90% contained in an existing one)
    // BEFORE both are deduped into a mixture. Never all-pairs on
    // documents: grams dedupe to (source, hash) first, the self-join
    // keys on the gram hash — per-gram fan-out is bounded by #sources²
    // (tiny), and the output is #source-pairs rows. At 100 TB this is
    // one shuffle of the deduped gram set; the d28/d38 hash-not-string
    // discipline keeps the shuffle rows 16 bytes.
    "t46_source_overlap" -> { (s, d) =>
      val sg = t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) >= 5)
        .select(col("source"), explode(array_distinct(expr(
          "transform(sequence(0, size(w)-5), i -> " +
            "concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))")))
          .as("g"))
        .select(col("source"), xxhash64(col("g")).as("gh"))
        .distinct()
      val counts = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
      sg.select(col("source").as("source_a"), col("gh"))
        .join(sg.select(col("source").as("source_b"), col("gh")), "gh")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(counts.select(col("source").as("source_a"),
          col("n").as("n_a"))), "source_a")
        .join(broadcast(counts.select(col("source").as("source_b"),
          col("n").as("n_b"))), "source_b")
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_common"),
          round(col("n_common") / least(col("n_a"), col("n_b")), 4)
            .as("containment"),
          round(col("n_common") /
            (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
    },

    // BOILERPLATE DENSITY — per-document fraction of trigram INSTANCES
    // that belong to the corpus's top-20 most frequent trigrams: the
    // template/navigation-chrome detector a web-corpus pipeline runs
    // (docs that are mostly corpus-wide boilerplate score near 1 and
    // get down-weighted). The top-20 is a distributed
    // TakeOrderedAndProject over the trigram counts (count desc, gram
    // asc tie-break — never a global sort), broadcast back onto the
    // exploded trigrams as a map-side left join; one (doc_id) groupBy
    // closes it. At 100 TB: two keyed shuffles (gram count, doc
    // rollup), both partial-aggregated.
    "t47_boilerplate_density" -> { (s, d) =>
      val tri = t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-3), i -> " +
            "concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
      val top = tri.groupBy(col("g")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g").asc).limit(20)
      tri.join(broadcast(top.select(col("g"), lit(1L).as("hit"))),
          Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
        .select(col("doc_id"), col("n_trigrams"), col("n_boiler"),
          round(col("n_boiler") / col("n_trigrams"), 4).as("boiler_frac"))
    },

    // Array higher-order functions over the token array: lambda filter,
    // membership, ordered head — all inside whole-stage codegen.
    "t28_array_hof" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .select(col("doc_id"),
          size(filter(col("w"), x => length(x) > 5)).cast("long")
            .as("n_long_tokens"),
          array_contains(col("w"), "spark").as("has_spark"),
          element_at(array_sort(col("w")), 1).as("first_token_sorted"))
    },

    // Language-ID heuristic: marker-stopword overlap argmax with a fixed
    // tie-break priority (en > es > de > fr > zh).
    // LANGUAGE-ID CONFUSION MATRIX — the eval table a corpus pipeline
    // publishes before trusting its language router: t26's n-gram
    // classifier judged against the labeled lang column, one cell per
    // (true, predicted) pair with the within-language fraction. The
    // matrix diagonal is the router's per-language accuracy; off-
    // diagonal mass shows which languages bleed into which mixture.
    // Composes t26 verbatim; two partial-agg groupBys, the totals side
    // broadcast — no new shuffle shape at any scale.
    "t50_lang_confusion" -> { (s, d) =>
      val pred = queries("t26_lang_id")(s, d)
        .select(col("lang"), col("lang_pred"))
      val cells = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
      val totals = cells.groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_lang"))
      cells.join(broadcast(totals), "lang")
        .select(col("lang"), col("lang_pred"), col("n_docs"),
          round(col("n_docs") / col("n_lang"), 4).as("row_frac"))
    },

    "t26_lang_id" -> { (s, d) =>
      val withScores = langMarkers.foldLeft(
        t(s, d, "documents")
          .withColumn("wd", array_distinct(tokens(col("text"))))) {
        case (df, (lang, markers)) =>
          df.withColumn(s"s_$lang",
            size(array_intersect(col("wd"),
              array(markers.map(lit): _*))))
      }
      val langs = langMarkers.map(_._1)
      val pred = langs.init.zipWithIndex.foldRight(
        lit(langs.last): Column) { case ((lang, i), els) =>
        val geRest = langs.drop(i + 1)
          .map(o => col(s"s_$lang") >= col(s"s_$o"))
          .reduce(_ && _)
        when(geRest, lit(lang)).otherwise(els)
      }
      withScores.select(col("doc_id"), col("lang"),
        pred.as("lang_pred"), col("s_en").cast("long").as("s_en"),
        col("s_es").cast("long").as("s_es"))
    },

    // LEXICAL DIVERSITY — the per-source vocabulary-health panel a
    // corpus card reports next to t45's growth curve: mean per-doc
    // type-token ratio (high = varied wording, low = template spam),
    // source-level vocabulary size, and the hapax fraction (share of
    // the vocabulary seen exactly once — synthetic/templated text runs
    // far below natural text's ~50%). Two partial-agg passes over the
    // tokenized corpus — one per-doc (TTR), one per-(source, token)
    // (hapax) — both keyed shuffles that scale linearly; the final
    // rollups join on source. Ratios are BIGINT/BIGINT single
    // divisions; the TTR mean follows the q118 round-4 discipline.
    "t58_lexical_diversity" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) > 0)
      val perDoc = tok.select(col("source"), col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_types"))
        .withColumn("ttr", round(col("n_types") / col("n_tokens"), 6))
      val docRoll = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_total"),
          (round(avg(col("ttr")), 4) + 0.0).as("mean_ttr"))
      val vocab = tok
        .select(col("source"), explode(col("w")).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      docRoll.join(vocab, "source")
        .select(col("source"), col("n_docs"), col("tokens_total"),
          col("vocab"), col("hapax"), col("mean_ttr"),
          round(col("hapax") / col("vocab"), 4).as("hapax_frac"))
    },

    // SPAN-SCRUB ACCOUNTING — what t37 *measures*, this one *budgets*:
    // if every 8-token span shared by ≥2 documents were excised (the
    // RefinedWeb line-removal policy at span granularity), how many
    // tokens does each source lose? Position-aware: span occurrences
    // keep their offsets (posexplode — no array_distinct here, unlike
    // t37's per-doc digest stream), flagged occurrences fan out to the
    // ≤8 token positions they cover, and coverage dedups on
    // (doc, position) so overlapping spans never double-bill. Shuffle
    // ledger at 100 TB: one digest-keyed agg (countDistinct doc), one
    // digest equi-join back, one bounded ×8 explode of FLAGGED
    // occurrences only, one (doc, pos) dedup — all linear, keyed, and
    // skew-bounded by the df≥2 flag set. Docs under 8 tokens carry no
    // spans; they count in the corpus totals with zero scrub.
    "t59_span_scrub" -> { (s, d) =>
      val span = 8
      val tok = t(s, d, "documents")
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), col("source"),
          size(col("w")).cast("long").as("n_tokens"), col("w"))
      val occ = tok.filter(col("n_tokens") >= span)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(w)-$span), " +
            s"i -> md5(concat_ws(' ', slice(w, i+1, $span))))"))
          .as(Seq("i", "span_md5")))
        // feeds the df aggregate AND the coverage join — persist the
        // positioned digest stream; released by SparkEntry.release()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flagged = occ.groupBy(col("span_md5"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("span_md5"))
      val covered = occ.join(flagged, "span_md5")
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + lit(span - 1))).as("p"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("covered"))
      tok.join(covered, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(coalesce(col("covered"), lit(0L))).as("tokens_scrubbed"),
          sum(when(col("covered").isNotNull, 1L).otherwise(0L))
            .as("docs_affected"))
        .withColumn("scrub_frac",
          round(col("tokens_scrubbed") / col("tokens_total"), 4))
    },

    // CONTENT-DEFINED CHUNKING — the storage-dedup primitive (FastCDC
    // at token granularity): a chunk boundary falls AFTER any token
    // whose hash bucket ≡ 0 (mod 8), so boundaries are content-anchored
    // and an insertion early in a document cannot shift every later
    // chunk the way fixed-width windows do. Per source: chunk count,
    // within-source distinct chunks, the dedup ratio chunk-level
    // storage would achieve, and the realized mean chunk length. The
    // chunk assignment is a per-doc prefix count of boundary flags
    // (doc_id is a corpus-cardinality window key — the safe kind);
    // chunk digests render through the q124 array_sort discipline so
    // the grouping never trusts arrival order.
    "t60_cdc_chunks" -> { (s, d) =>
      // r14: the posexplode → doc-window → (doc, chunk_idx) aggregate
      // chain became ONE map-side pass through the codegen'd
      // cdc_chunks expression — identical chunk table (same cut rule,
      // same digests; the oracle still replays the declarative form),
      // but the token-level doc_id exchange is GONE: the only shuffle
      // left is the source rollup. At 100 TB that was the operator's
      // dominant cost.
      graft.functions.VectorFunctions.register(s)
      val chunks = t(s, d, "documents")
        .withColumn("chs",
          graft.functions.VectorFunctions.cdcChunks(col("text")))
        .filter(size(col("chs")) > 0)
        .select(col("doc_id"), col("source"),
          explode(col("chs")).as("ch"))
        .select(col("doc_id"), col("source"),
          col("ch.ctokens").as("ctokens"),
          col("ch.chunk_md5").as("chunk_md5"))
      chunks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_md5")).as("n_distinct_chunks"),
          sum(col("ctokens")).as("tokens_total"))
        .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
          round((col("n_chunks") - col("n_distinct_chunks")) /
            col("n_chunks"), 4).as("dedup_ratio"),
          round(col("tokens_total") / col("n_chunks"), 2)
            .as("mean_chunk_tokens"))
    },

    // OOV RATE — the vocabulary-coverage audit run before committing a
    // tokenizer: the corpus's top-K tokens by frequency (ties by token
    // text — a fully deterministic cut) stand in for a trained vocab,
    // and each source reports what fraction of its token stream falls
    // outside it. K is the vocab budget knob — 16 here because this
    // synthetic corpus has only 31 distinct tokens (a K that covered
    // them all would make the op degenerate); a natural corpus runs
    // the same plan at K=50000. Two passes: a (token)-keyed frequency
    // agg whose global top-K rides TakeOrderedAndProject (distributed
    // partial take, the q102 discipline), then the vocab BROADCAST
    // back against the per-(source, token) counts — the membership
    // test is a broadcast left join, never a second corpus shuffle. A source with high OOV under the global vocab is
    // exactly the source a shared tokenizer will fragment (t52's
    // fertility measures the same failure after the fact).
    "t61_oov_rate" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("token"))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val vocab = freq.orderBy(col("c").desc, col("token").asc).limit(16)
        .select(col("token"), lit(1).as("in_vocab"))
      val st = tok.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      st.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("source"))
        .agg(sum(col("n")).as("tokens_total"),
          sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
            .as("oov_tokens"),
          countDistinct(col("token")).as("n_types"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .as("oov_types"))
        .select(col("source"), col("tokens_total"), col("oov_tokens"),
          round(col("oov_tokens") / col("tokens_total"), 4).as("oov_rate"),
          col("n_types"), col("oov_types"),
          round(col("oov_types") / col("n_types"), 4).as("oov_type_rate"))
    },

    // TOKEN BURSTINESS — the dispersion diagnostic stopword lists are
    // built from: for each of the corpus top-50 tokens (the t39/t41
    // deterministic vocabulary), the Fisher index var/mean of its
    // PER-DOCUMENT count, with absent documents counted as zeros.
    // Function words spread evenly (index ≈ 1, Poisson-like); content
    // and template tokens clump into few docs (index ≫ 1) — frequency
    // alone cannot tell them apart, burstiness can. The index is
    // computed as the EXACT integer ratio (N·Σc² − (Σc)²)/(N·Σc) —
    // population variance over all N docs including zeros, one double
    // division at the end — so no FP moment enters the compare.
    // Shuffles: (token) vocab agg, (token, doc) counts, (token)
    // moments — the corpus fans down immediately after the broadcast
    // vocab semi-join; the doc total is a broadcast 1-row aggregate.
    "t62_token_burstiness" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tok = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val vocab = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("c_corpus"))
        .orderBy(col("c_corpus").desc, col("token").asc).limit(50)
      tok.join(broadcast(vocab.select(col("token"))), "token")
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_docs_present"),
          sum(col("c")).as("total_count"),
          sum(col("c") * col("c")).as("sumsq"))
        .crossJoin(broadcast(nDocs))
        .select(col("token"), col("n_docs_present"), col("total_count"),
          round((col("n_docs") * col("sumsq")
            - col("total_count") * col("total_count"))
            / (col("n_docs") * col("total_count")).cast("double"), 6)
            .as("burstiness"))
    },

    // BPE FIRST-MERGE CANDIDATES — the opening iteration of byte-pair-
    // encoding tokenizer TRAINING (what t29/t52 consume a finished
    // vocab for, this op produces one): adjacent character-pair counts
    // within words, weighted by word frequency — the top pair IS the
    // first merge a BPE trainer would commit, and the top-20 table is
    // the merge frontier. The corpus collapses to the word-frequency
    // table FIRST (one corpus-keyed shuffle); the quadratic-looking
    // pair explode runs over the VOCABULARY at ≤31 pairs per word (the
    // 32-char cap is explicit in both engines — m33's bounded-sample
    // contract), so corpus volume never multiplies. Top-20 through
    // TakeOrderedAndProject on (count DESC, pair ASC).
    "t63_bpe_merge_step" -> { (s, d) =>
      val words = t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      words
        .withColumn("wl", least(length(col("w")), lit(32)))
        .filter(col("wl") >= 2)
        .withColumn("i", explode(sequence(lit(1), col("wl") - 1)))
        .withColumn("pair", expr("substring(w, i, 2)"))
        .groupBy(col("pair"))
        .agg(sum(col("wf")).as("n_occurrences"),
          countDistinct(col("w")).as("n_words"))
        .orderBy(col("n_occurrences").desc, col("pair").asc)
        .limit(20)
    },

    // VOCABULARY COVERAGE CURVE — the tokenizer-budget sizing sheet
    // t61's single cut can't draw: what fraction of corpus TOKEN MASS
    // the top-K frequency vocabulary covers, at K ∈ {5, 10, 20} (this
    // corpus has 31 types — the natural-corpus setting is K ∈ {8k,
    // 32k, 50k}, same plan). The decision "how big must the vocab be
    // before OOV mass is acceptable" is read straight off the curve.
    // The top-20 arrives by distributed TakeOrderedAndProject on the
    // deterministic (count DESC, token ASC) order; the only
    // unpartitioned window ranks those constant 20 rows (the s44
    // discipline). All coverage ratios are integer-count quotients.
    "t64_vocab_coverage" -> { (s, d) =>
      val freq = t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      val totals = freq.agg(sum(col("c")).as("total_tokens"),
        count(lit(1)).as("n_types"))
      val w = Window.orderBy(col("c").desc, col("token").asc)
      val ranked = freq.orderBy(col("c").desc, col("token").asc).limit(20)
        .withColumn("rn", row_number().over(w))
      Seq(5, 10, 20).map { k =>
        ranked.filter(col("rn") <= k)
          .agg(sum(col("c")).as("covered"))
          .crossJoin(broadcast(totals))
          .select(lit(k.toLong).as("vocab_k"), col("n_types"),
            col("total_tokens"), col("covered"),
            round(col("covered") / col("total_tokens"), 4).as("coverage"))
      }.reduce(_ unionByName _)
    },

    // BPE TRAINING LOOP — K=5 committed merges, completing the
    // tokenizer-training story t63 opens (t63 ranks the FIRST merge's
    // candidate frontier; this RUNS the trainer: commit top pair,
    // rewrite the vocabulary, recount, repeat — operators.BpeTrainer
    // has the semantics + fold-equivalence proof). Corpus collapses to
    // the word-frequency table before the loop; each superstep is one
    // vocabulary-keyed pair aggregation + a map-side codegen'd rewrite
    // fold, with d37's checkpoint-and-release lineage hygiene.
    // The 5-row result sits behind a DeferredRowsPlan leaf (the d61
    // laziness contract): plan-only callers run no jobs; the first
    // action fires the loop and memoizes. Oracle unrolls the SAME five
    // stages as chained CTEs with list_reduce running the identical
    // fold (bpeTrainOracle below).
    "t66_bpe_train" -> { (s, d) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("step", LongType, nullable = true),
        StructField("left_sym", StringType, nullable = true),
        StructField("right_sym", StringType, nullable = true),
        StructField("merged", StringType, nullable = true),
        StructField("n_occurrences", LongType, nullable = true)))
      graft.plans.DeferredRows.ofRows(s, schema) { () =>
        val words = t(s, d, "documents")
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("wf"))
        graft.operators.BpeTrainer.trainMerges(words, k = 5)
      }
    },

    // BPE APPLICATION — tokenize the corpus with t66's trained merges
    // and report the numbers a tokenizer-budget decision needs
    // per source: fertility (BPE symbols per word) and compression
    // (BPE symbols per character symbol). Trains the same 5 merges
    // (the loop is vocabulary-sized), then applies them as FIVE
    // chained map-side rewrite folds over the (source, word)
    // frequency table — application never touches corpus volume
    // either: one (source, w) shuffle, folds are codegen'd per
    // vocab-×-source row, one (source) rollup. Same DeferredRows
    // laziness as t66. Oracle joins the chain's final symbol table
    // back to per-source instance counts (bpeApplyOracle).
    "t67_bpe_apply" -> { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("source", StringType, nullable = true),
        StructField("n_words", LongType, nullable = true),
        StructField("n_char_syms", LongType, nullable = true),
        StructField("n_bpe_syms", LongType, nullable = true),
        StructField("fertility", DoubleType, nullable = true),
        StructField("compression", DoubleType, nullable = true)))
      graft.plans.DeferredRows.ofRows(s, schema) { () =>
        graft.Blocks.scoped { b =>
          val perSrc = b.persist(t(s, d, "documents")
            .select(col("source"), explode(tokens(col("text"))).as("w"))
            .groupBy(col("source"), col("w")).agg(count(lit(1)).as("wf")))
          val words = perSrc.groupBy(col("w")).agg(sum(col("wf")).as("wf"))
          val merges = graft.operators.BpeTrainer.trainMerges(words, k = 5)
          var syms: org.apache.spark.sql.Column =
            split(substring(col("w"), 1, 32), "")
          merges.foreach { m =>
            syms = split(graft.operators.BpeTrainer.rewriteFold(syms,
              m.getString(1), m.getString(2), m.getString(3)), " ")
          }
          perSrc
            .withColumn("n_syms", size(syms).cast("long"))
            .groupBy(col("source"))
            .agg(sum(col("wf")).as("n_words"),
              sum(col("wf") * least(length(col("w")), lit(32)))
                .as("n_char_syms"),
              sum(col("wf") * col("n_syms")).as("n_bpe_syms"))
            .select(col("source"), col("n_words"), col("n_char_syms"),
              col("n_bpe_syms"),
              round(col("n_bpe_syms") / col("n_words").cast("double"), 4)
                .as("fertility"),
              round(col("n_bpe_syms") / col("n_char_syms").cast("double"), 4)
                .as("compression"))
            .collect().toSeq
        }
      }
    }
  )

  /** Shared t66/t67 oracle chain: the K merge supersteps unrolled as
    * chained CTEs. Stage i counts adjacent pairs from the space-joined
    * symbol strings (wᵢ), commits the top pair (tᵢ — the same
    * (n_occ DESC, l ASC, r ASC) tie-break as the Spark side, binary
    * collation in both engines), and rewrites every word with
    * list_reduce running the identical left-to-right non-overlapping
    * fold as the Spark `aggregate` (see BpeTrainer's scaladoc for the
    * equivalence argument). Validated cell-for-cell against an
    * independent two-pointer python BPE on the sf0.001 corpus. `tok`
    * keeps `source` and every stage keeps `w`, so the t67 applier can
    * hang per-source stats off the final symbol table. */
  private def bpeChainCte(k: Int): String = {
    val stages = (0 until k).map { i =>
      s"""p$i AS (
         | SELECT li[i] AS l, li[i+1] AS r, CAST(sum(wf) AS BIGINT) AS n_occ
         | FROM (SELECT string_split(s, ' ') AS li, wf FROM w$i) x,
         |  range(1, 32) t(i)
         | WHERE i <= len(li) - 1 GROUP BY 1, 2),
         |t$i AS (
         | SELECT l, r, l || r AS m, n_occ FROM p$i
         | ORDER BY n_occ DESC, l ASC, r ASC LIMIT 1),
         |w${i + 1} AS (
         | SELECT w, list_reduce(string_split(s, ' '), (acc, x) ->
         |   CASE WHEN x = t.r AND (acc = t.l OR ends_with(acc, ' ' || t.l))
         |        THEN substr(acc, 1, length(acc) - length(t.l)) || t.m
         |        ELSE acc || ' ' || x END) AS s, wf
         | FROM w$i, t$i t)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       | SELECT source, unnest(
       |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |       ELSE string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') END)
       |  AS w
       | FROM documents),
       |words AS (SELECT w, count(*) AS wf FROM tok GROUP BY 1),
       |w0 AS (
       | SELECT w,
       |  array_to_string(string_split(substr(w, 1, 32), ''), ' ') AS s, wf
       | FROM words),
       |$stages""".stripMargin
  }

  private def bpeTrainOracle(k: Int): String = {
    val unioned = (0 until k).map(i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, l AS left_sym," +
        s" r AS right_sym, m AS merged, n_occ AS n_occurrences FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainCte(k)}
       |SELECT * FROM ($unioned) ORDER BY step""".stripMargin
  }

  /** t67 oracle: per-source tokenizer stats off the trained chain's
    * final symbol table — the same (source, w) instance counts ×
    * per-word symbol counts, integer sums, two rounded double
    * quotients at the end. */
  private def bpeApplyOracle(k: Int): String =
    s"""WITH ${bpeChainCte(k)},
       |per_src AS (SELECT source, w, count(*) AS wf FROM tok GROUP BY 1, 2),
       |app AS (
       | SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_syms
       | FROM w$k),
       |agg AS (
       | SELECT source, CAST(sum(wf) AS BIGINT) AS n_words,
       |  CAST(sum(wf * least(length(w), 32)) AS BIGINT) AS n_char_syms,
       |  CAST(sum(wf * n_syms) AS BIGINT) AS n_bpe_syms
       | FROM per_src JOIN app USING (w) GROUP BY 1)
       |SELECT source, n_words, n_char_syms, n_bpe_syms,
       | round(n_bpe_syms / CAST(n_words AS DOUBLE), 4) AS fertility,
       | round(n_bpe_syms / CAST(n_char_syms AS DOUBLE), 4) AS compression
       |FROM agg""".stripMargin

  lazy val oracle: Map[String, String] = Map(
    // the same run-counting length deltas (DuckDB regexp_replace needs
    // the explicit 'g' flag for the global semantics Spark defaults to)
    "t55_readability" ->
      """WITH tok AS (
        | SELECT doc_id, lower(text) AS lt,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w
        | FROM documents),
        |m AS (
        | SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(greatest(1, length(regexp_replace(lt, '[.!?]+', '#', 'g'))
        |    - length(regexp_replace(lt, '[.!?]+', '', 'g'))) AS BIGINT)
        |    AS n_sentences,
        |  CAST(greatest(1, length(regexp_replace(lt, '[aeiouy]+', '#', 'g'))
        |    - length(regexp_replace(lt, '[aeiouy]+', '', 'g'))) AS BIGINT)
        |    AS n_syllables
        | FROM tok WHERE len(w) > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | round(206.835 - 1.015 * (n_words / n_sentences)
        |   - 84.6 * (n_syllables / n_words), 4) AS flesch
        |FROM m""".stripMargin,
    // the identical length-delta counts, lambda screens, and rounded
    // thresholds; chr(10) is the \n the Spark side splits on
    "t56_gopher_rules" ->
      """WITH tok AS (
        | SELECT doc_id, text,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w,
        |  string_split(text, chr(10)) AS lines
        | FROM documents),
        |m AS (
        | SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  round(list_sum(list_transform(w, x -> length(x)))
        |    / len(w), 4) AS mwl,
        |  round((CAST(length(text) - length(replace(text, '#', ''))
        |      AS BIGINT)
        |    + (length(text) - length(replace(text, '...', ''))) // 3)
        |    / len(w), 4) AS symbol_ratio,
        |  round(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
        |    / len(w), 4) AS alpha_frac,
        |  round(len(list_filter(lines, x ->
        |      starts_with(trim(x), '-') OR starts_with(trim(x), '*')))
        |    / len(lines), 4) AS bullet_frac,
        |  round(len(list_filter(lines, x -> ends_with(trim(x), '...')))
        |    / len(lines), 4) AS ellipsis_frac
        | FROM tok WHERE len(w) > 0),
        |v AS (
        | SELECT *,
        |  CASE WHEN n_words < 50 THEN 'too_short'
        |       WHEN n_words > 100000 THEN 'too_long'
        |       WHEN mwl < 3.0 OR mwl > 10.0 THEN 'word_length'
        |       WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
        |       WHEN alpha_frac < 0.8 THEN 'low_alpha'
        |       WHEN bullet_frac > 0.9 THEN 'bullet_lines'
        |       WHEN ellipsis_frac > 0.3 THEN 'ellipsis_lines'
        |       ELSE 'keep' END AS reason
        | FROM m)
        |SELECT doc_id, n_words, mwl, symbol_ratio, alpha_frac,
        | bullet_frac, ellipsis_frac, reason, (reason = 'keep') AS keep
        |FROM v""".stripMargin,
    // gram identity via the string itself (the d33 discipline — no
    // xxhash64 in DuckDB; hashing is an impl detail of the join key)
    "t46_source_overlap" ->
      """WITH tok AS (
        | SELECT source, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sg AS (
        | SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |   range(1, len(w)-3),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))) AS g
        | FROM tok WHERE len(w) >= 5),
        |c AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
        |p AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_common
        | FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b,
        | CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        | CAST(p.n_common AS BIGINT) AS n_common,
        | round(p.n_common / least(ca.n, cb.n), 4) AS containment,
        | round(p.n_common / (ca.n + cb.n - p.n_common), 4) AS jaccard
        |FROM p JOIN c ca ON p.source_a = ca.source
        | JOIN c cb ON p.source_b = cb.source""".stripMargin,
    // identical top-20 selection (count desc, gram asc) and instance
    // counting; integer counts divided once, rounded at 4 dp
    "t47_boilerplate_density" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |tri AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g
        | FROM tok WHERE len(w) >= 3),
        |top AS (
        | SELECT g FROM tri GROUP BY g
        | ORDER BY count(*) DESC, g ASC LIMIT 20)
        |SELECT t.doc_id, count(*) AS n_trigrams,
        | CAST(sum(CASE WHEN top.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_boiler,
        | round(sum(CASE WHEN top.g IS NOT NULL THEN 1 ELSE 0 END)
        |   / count(*), 4) AS boiler_frac
        |FROM tri t LEFT JOIN top ON t.g = top.g
        |GROUP BY 1""".stripMargin,
    // the same first-occurrence algebra; the cumulative sum is a plain
    // window here (the oracle need not scale), exact integer math
    "t45_vocab_growth" ->
      """WITH tok AS (
        | SELECT source, doc_id,
        |  unnest(list_distinct(string_split_regex(trim(text), '[ \t\n\f\r]+'))) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |fs AS (
        | SELECT source, token, min(doc_id) AS first_doc
        | FROM tok GROUP BY 1, 2),
        |pc AS (
        | SELECT source, first_doc // 100 AS ckpt, count(*) AS n_new_tokens
        | FROM fs GROUP BY 1, 2),
        |g AS (
        | SELECT source, unnest(generate_series(min(ckpt), max(ckpt))) AS ckpt
        | FROM pc GROUP BY source),
        |d AS (
        | SELECT g.source, g.ckpt,
        |  coalesce(pc.n_new_tokens, 0) AS n_new_tokens
        | FROM g LEFT JOIN pc ON g.source = pc.source AND g.ckpt = pc.ckpt)
        |SELECT source, ckpt, CAST(n_new_tokens AS BIGINT) AS n_new_tokens,
        | CAST(sum(n_new_tokens) OVER (PARTITION BY source ORDER BY ckpt ASC
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        |FROM d""".stripMargin,
    // the same three regex families, counted via regexp_extract_all
    // and replaced with the 'g' flag (DuckDB replaces only the first
    // match by default) in the identical chain order
    "t44_pattern_scrub" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS BIGINT)
        |   AS n_customer,
        | CAST(len(regexp_extract_all(text, '\bvalue\b')) AS BIGINT)
        |   AS n_value,
        | CAST(len(regexp_extract_all(text, 'fast (table|scan)')) AS BIGINT)
        |   AS n_phrase,
        | CAST(len(regexp_extract_all(text, '\bcustomer\b'))
        |  + len(regexp_extract_all(text, '\bvalue\b'))
        |  + len(regexp_extract_all(text, 'fast (table|scan)')) AS BIGINT)
        |   AS n_redactions,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |     '\bcustomer\b', '[X]', 'g'),
        |    '\bvalue\b', '[X]', 'g'),
        |   'fast (table|scan)', '[X]', 'g')) AS redacted_md5,
        | CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
        |     '\bcustomer\b', '[X]', 'g'),
        |    '\bvalue\b', '[X]', 'g'),
        |   'fast (table|scan)', '[X]', 'g')) AS BIGINT) AS redacted_len
        |FROM documents""".stripMargin,
    // same bigram/marker building blocks as t33/t26; the CASE rule
    // chain evaluates in the identical priority order, and a NULL
    // stop_hits (unknown lang) falls through to keep in both engines
    "t35_quality_filter" -> t35OracleSql,
    // wraps t35's SQL verbatim; the frozen 1-dp weights evaluate in
    // the IDENTICAL left-associated double chain, the md5 split
    // bucket is the q65 nibble rebuild of Spark's conv(hex, 16, 10)
    "t65_linear_probe" -> {
      val nibs = (1 to 6).map(p =>
        s"(strpos('0123456789abcdef', substring(hx, $p, 1)) - 1)")
      val bucketVal = nibs.reduce((acc, n) => s"($acc * 16 + $n)")
      s"""WITH t35 AS (${t35OracleSql}),
         |f AS (
         | SELECT doc_id,
         |  CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS label,
         |  CASE WHEN n_tokens >= 16 AND n_tokens <= 4096
         |   THEN 1.0 ELSE 0.0 END AS f_band,
         |  coalesce(uniq_ratio, 0.0) AS f_uniq,
         |  top_bigram_frac AS f_top, dup_bigram_frac AS f_dup,
         |  least(stop_hits, 4) / 4.0 AS f_stop
         | FROM t35),
         |m AS (
         | SELECT doc_id, label,
         |  -16.1 + 8.8 * f_band + 9.0 * f_uniq - 15.5 * f_top
         |   - 32.9 * f_dup + 11.0 * f_stop AS margin
         | FROM f),
         |b AS (
         | SELECT doc_id, ($bucketVal) % 100 AS bucket
         | FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
         |       FROM documents)),
         |g AS (
         | SELECT CASE WHEN bucket < 80 THEN 'train'
         |             WHEN bucket < 90 THEN 'valid'
         |             ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(label) AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN (margin > 0.0) = (label = 1)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         | FROM m JOIN b USING (doc_id) GROUP BY 1)
         |SELECT split, n_docs, n_keep, n_agree,
         | round(n_agree / n_docs, 4) AS agreement
         |FROM g""".stripMargin
    },
    // wraps t36's and t35's SQL verbatim; the identical global ntile
    // formula over the same (perplexity, doc_id) total order
    "t51_signal_calibration" ->
      s"""WITH p AS (
         | SELECT doc_id, perplexity FROM (${t36OracleSql}) t36),
         |v AS (
         | SELECT doc_id, reason FROM (${t35OracleSql}) t35),
         |base AS (
         | SELECT p.doc_id, p.perplexity, v.reason
         | FROM p JOIN v USING (doc_id)),
         |r AS (
         | SELECT *, row_number() OVER (
         |   ORDER BY perplexity ASC, doc_id ASC) AS rk,
         |  count(*) OVER () AS n FROM base),
         |b AS (
         | SELECT reason, perplexity,
         |  CASE WHEN rk <= (n % 4) * (n // 4 + 1)
         |       THEN (rk + n // 4) // (n // 4 + 1)
         |       ELSE (n % 4) + (rk - (n % 4) * (n // 4 + 1) + n // 4 - 1) // (n // 4)
         |  END AS bucket FROM r)
         |SELECT bucket, count(*) AS n_docs,
         | CAST(sum(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_keep,
         | round(CAST(sum(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END)
         |   AS BIGINT) / count(*), 4) AS keep_rate,
         | min(perplexity) AS min_ppl, max(perplexity) AS max_ppl
         |FROM b GROUP BY 1""".stripMargin,
    // bigrams replayed with 1-based list indexing (range(1, len) +
    // w[i]||' '||w[i+1] ≡ Spark's 0-based sequence/transform); the
    // row_number argmax uses the same total order (n DESC, bg ASC —
    // both engines compare strings bytewise). Ratios are BIGINT/BIGINT
    // → DOUBLE in both engines with exact integer operands, shipped
    // UNROUNDED for bitwise parity (the q68 lesson).
    "t33_repetition" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
        | FROM tok WHERE len(w) >= 2),
        |counts AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
        |r AS (
        | SELECT doc_id, bg, n,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bg ASC) AS rn
        | FROM counts)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        | count(*) AS n_distinct_bigrams,
        | max(CASE WHEN rn = 1 THEN bg END) AS top_bigram,
        | CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_n,
        | CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT)
        |   / CAST(sum(n) AS BIGINT) AS top_bigram_frac,
        | (CAST(sum(n) AS BIGINT) - count(*)) / CAST(sum(n) AS BIGINT)
        |   AS dup_bigram_frac
        |FROM r GROUP BY doc_id""".stripMargin,
    // BM25 algebra mirrored operation-for-operation: every divisor and
    // multiplicand is CAST to DOUBLE so DuckDB's DECIMAL literal path
    // converts the binary-exact k1/b constants and then computes in
    // IEEE doubles exactly like Java; term scores sum left-to-right
    // (spark + table) + vector, matching the Scala reduce order.
    "t34_bm25" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w
        | FROM documents),
        |tf AS (
        | SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |  CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf_spark,
        |  CAST(len(list_filter(w, x -> x = 'table')) AS BIGINT) AS tf_table,
        |  CAST(len(list_filter(w, x -> x = 'vector')) AS BIGINT) AS tf_vector
        | FROM tok),
        |stats AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS sum_dl,
        |  CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
        |  CAST(sum(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_table,
        |  CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
        | FROM tf)
        |SELECT doc_id, dl, tf_spark, tf_table, tf_vector,
        | round(
        |  (ln(1.0 + (CAST(n_docs - df_spark AS DOUBLE) + 0.5) / (CAST(df_spark AS DOUBLE) + 0.5))
        |    * ((CAST(tf_spark AS DOUBLE) * 2.25) / (CAST(tf_spark AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))))
        |  + ln(1.0 + (CAST(n_docs - df_table AS DOUBLE) + 0.5) / (CAST(df_table AS DOUBLE) + 0.5))
        |    * ((CAST(tf_table AS DOUBLE) * 2.25) / (CAST(tf_table AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))))
        |  + ln(1.0 + (CAST(n_docs - df_vector AS DOUBLE) + 0.5) / (CAST(df_vector AS DOUBLE) + 0.5))
        |    * ((CAST(tf_vector AS DOUBLE) * 2.25) / (CAST(tf_vector AS DOUBLE)
        |        + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))))
        |  ), 6) AS bm25
        |FROM tf CROSS JOIN stats
        |WHERE tf_spark + tf_table + tf_vector > 0""".stripMargin,
    // same bigram building blocks as t33; p = BIGINT/BIGINT (DuckDB /
    // is float division), log2 sums round to 4 dp (t32 discipline),
    // power(2, x) evaluates on the unrounded mean like the Spark pow
    "t36_lm_perplexity" -> t36OracleSql,
    // composes t36's oracle VERBATIM (the s44/s45 shared-text
    // discipline); the quartile assignment replays the exact ntile
    // remainder allocation from (rank, count) in pure integer
    // arithmetic — earlier buckets get the n%4 extra rows — so both
    // engines compute the same bucket from the same (perplexity ASC,
    // doc_id ASC) total order. min/max over 4-dp-rounded doubles and a
    // BIGINT token sum keep every aggregate order-independent.
    "t48_perplexity_buckets" ->
      s"""WITH base AS (
         | SELECT p.doc_id, p.n_bigrams, p.perplexity, dd.lang
         | FROM (${t36OracleSql}) p JOIN documents dd USING (doc_id)),
         |r AS (
         | SELECT *, row_number() OVER (PARTITION BY lang
         |   ORDER BY perplexity ASC, doc_id ASC) AS rk,
         |  count(*) OVER (PARTITION BY lang) AS n FROM base),
         |b AS (
         | SELECT lang, n_bigrams, perplexity,
         |  CASE WHEN rk <= (n % 4) * (n // 4 + 1)
         |       THEN (rk + n // 4) // (n // 4 + 1)
         |       ELSE (n % 4) + (rk - (n % 4) * (n // 4 + 1) + n // 4 - 1) // (n // 4)
         |  END AS bucket FROM r)
         |SELECT lang, bucket, count(*) AS n_docs,
         | min(perplexity) AS min_ppl, max(perplexity) AS max_ppl,
         | CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams
         |FROM b GROUP BY 1, 2""".stripMargin,
    // t37's span digests grouped by source; the row_number replay of
    // the native TopKPerKey heap uses the identical (n_docs DESC,
    // span_md5 ASC) total order
    "t38_top_spans_per_source" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sp AS (
        | SELECT source,
        |  unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> md5(array_to_string(w[i : i + 7], ' '))))) AS span_md5
        | FROM tok WHERE len(w) >= 8),
        |stats AS (
        | SELECT source, span_md5, count(*) AS n_docs FROM sp
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |r AS (
        | SELECT source, span_md5, n_docs,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_docs DESC, span_md5 ASC) AS rnk
        | FROM stats)
        |SELECT source, rnk, span_md5, n_docs FROM r WHERE rnk <= 5""".stripMargin,
    // spans replayed with 1-based inclusive slices (range(1, len-6) +
    // w[i : i+7] ≡ Spark's 0-based sequence + slice(w, i+1, 8));
    // per-doc list_distinct before unnest matches array_distinct, so
    // docs-per-span counts distinct documents in both engines
    // the same span CTE as t37 with a min(doc_id) first-occurrence
    // aggregate; novelty is exact long/long→double division
    "t40_ngram_novelty" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sp AS (
        | SELECT doc_id,
        |  unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> md5(array_to_string(w[i : i + 7], ' '))))) AS span_md5
        | FROM tok WHERE len(w) >= 8),
        |fo AS (SELECT span_md5, min(doc_id) AS first_doc FROM sp GROUP BY 1)
        |SELECT doc_id, count(*) AS n_spans,
        | CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_novel,
        | CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |   / count(*) AS novelty_frac
        |FROM sp JOIN fo USING (span_md5)
        |GROUP BY doc_id""".stripMargin,
    "t37_dup_span_fraction" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sp AS (
        | SELECT doc_id,
        |  unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> md5(array_to_string(w[i : i + 7], ' '))))) AS span_md5
        | FROM tok WHERE len(w) >= 8),
        |ps AS (SELECT span_md5, count(*) AS n_docs FROM sp GROUP BY 1)
        |SELECT doc_id, count(*) AS n_spans,
        | CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
        | CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) / count(*)
        |   AS shared_span_frac
        |FROM sp JOIN ps USING (span_md5)
        |GROUP BY doc_id""".stripMargin,
    "t32_token_entropy" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |counts AS (
        | SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
        |totals AS (
        | SELECT source, CAST(sum(n) AS BIGINT) AS tt FROM counts GROUP BY 1)
        |SELECT c.source,
        | round(-sum((c.n / t.tt) * log2(c.n / t.tt)), 4) + 0.0 AS entropy_bits,
        | max(t.tt) AS n_tokens, count(*) AS n_distinct
        |FROM counts c JOIN totals t ON c.source = t.source
        |GROUP BY 1""".stripMargin,
    // chunk slicing replayed with 1-based inclusive list slices; the
    // 4096-token cap is the same explicit semantic as the Spark side
    "t30_chunking" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |st AS (
        | SELECT doc_id, w, len(w) AS n, CAST(r.st AS BIGINT) AS st
        | FROM tok, range(0, 4096, 24) r(st) WHERE r.st < len(w))
        |SELECT doc_id, st // 24 AS chunk_idx,
        | CAST(len(w[st + 1 : least(st + 32, n)]) AS BIGINT) AS chunk_tokens,
        | md5(array_to_string(w[st + 1 : least(st + 32, n)], ' ')) AS chunk_md5
        |FROM st""".stripMargin,
    // the oracle can afford the simple single-window rendering — the
    // two-phase offset decomposition on the Spark side is exactly
    // equal by construction (integer sums)
    "t31_seq_packing" ->
      """WITH n AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n
        | FROM documents),
        |c AS (
        | SELECT doc_id, n,
        |  sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM n)
        |SELECT CAST((cum - n) // 2048 AS BIGINT) AS bin, count(*) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS sum_tokens, min(doc_id) AS first_doc
        |FROM c GROUP BY 1""".stripMargin,
    "t29_bpe_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+')) AS n_bpe_tokens,
        | len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))) AS n_distinct_bpe
        |FROM documents""".stripMargin,
    "t21_token_stats" ->
      """WITH tok AS (
        | SELECT doc_id, text,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_tokens
        | FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_text,
        | CAST(n_tokens AS BIGINT) AS n_tokens,
        | CASE WHEN n_tokens > 0
        |      THEN round(length(replace(text, ' ', '')) / n_tokens, 4) END
        |   AS avg_token_len
        |FROM tok""".stripMargin,
    // t21's token-count CTE; the cumulative weight replays as a plain
    // per-source running sum (DuckDB's window is the single-node
    // rendering of the Spark block-offset cumsum) and the 2·cumw ≥
    // total rule is integer-exact in both engines
    "t49_weighted_median" ->
      """WITH tok AS (
        | SELECT doc_id, source, n_chars,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END
        |    AS BIGINT) AS n_tokens
        | FROM documents),
        |r AS (
        | SELECT *,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY n_chars, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cumw,
        |  sum(n_tokens) OVER (PARTITION BY source) AS total FROM tok)
        |SELECT source, CAST(total AS BIGINT) AS total_tokens,
        | min(n_chars) AS median_len
        |FROM r WHERE cumw * 2 >= total
        |GROUP BY source, total""".stripMargin,
    // the t21 whitespace rule + the t29 regex verbatim; BIGINT-sum
    // quotients are exact-operand doubles in both engines
    "t52_tokenizer_fertility" ->
      """WITH c AS (
        | SELECT lang,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END
        |    AS BIGINT) AS nw,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+')) AS BIGINT) AS nb,
        |  CAST(length(text) AS BIGINT) AS nc
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(nw) AS BIGINT) AS ws_tokens,
        | CAST(sum(nb) AS BIGINT) AS bpe_tokens,
        | CAST(sum(nc) AS BIGINT) AS n_chars,
        | CASE WHEN sum(nw) > 0
        |      THEN CAST(sum(nb) AS BIGINT) / CAST(sum(nw) AS BIGINT) END
        |   AS fertility,
        | CASE WHEN sum(nb) > 0
        |      THEN CAST(sum(nc) AS BIGINT) / CAST(sum(nb) AS BIGINT) END
        |   AS chars_per_bpe
        |FROM c GROUP BY lang""".stripMargin,
    // both ECDFs evaluated on the shared distinct-length grid; the same
    // BIGINT/BIGINT divisions and an order-independent max
    "t53_length_ks" ->
      """WITH g AS (SELECT n_chars, count(*) AS cc FROM documents GROUP BY 1),
        |gc AS (
        | SELECT n_chars, CAST(sum(cc) OVER (ORDER BY n_chars
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
        | FROM g),
        |tot AS (SELECT count(*) AS n_all FROM documents),
        |sn AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |sl AS (SELECT source, n_chars, count(*) AS cs
        |       FROM documents GROUP BY 1, 2),
        |f AS (
        | SELECT sn.source, sn.n_docs, gc.n_chars, gc.cum_c,
        |  CAST(sum(coalesce(sl.cs, 0)) OVER (PARTITION BY sn.source
        |    ORDER BY gc.n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
        | FROM sn CROSS JOIN gc
        |  LEFT JOIN sl ON sl.source = sn.source AND sl.n_chars = gc.n_chars)
        |SELECT source, n_docs,
        | max(abs(cum_s / n_docs - cum_c / n_all)) AS ks_d
        |FROM f, tot GROUP BY 1, 2""".stripMargin,
    // the same bigram/unigram count algebra, ln over exact quotients,
    // 6-dp round, and the identical (pmi DESC, bigram ASC) top-20 order
    "t54_pmi_collocations" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |uni AS (
        | SELECT unnest(w) AS tok FROM tok),
        |uc AS (SELECT tok, count(*) AS cu FROM uni GROUP BY 1),
        |bgx AS (
        | SELECT unnest(list_transform(range(1, len(w)),
        |   i -> concat_ws(' ', w[i], w[i+1]))) AS bg
        | FROM tok WHERE len(w) >= 2),
        |bc AS (SELECT bg, count(*) AS c_bg FROM bgx GROUP BY 1),
        |nu AS (SELECT CAST(sum(cu) AS BIGINT) AS n_u FROM uc),
        |nb AS (SELECT CAST(sum(c_bg) AS BIGINT) AS n_bg FROM bc),
        |sc AS (
        | SELECT b.bg AS bigram, b.c_bg, u1.cu AS c1, u2.cu AS c2,
        |  round(ln((b.c_bg / nb.n_bg) /
        |    ((u1.cu / nu.n_u) * (u2.cu / nu.n_u))), 6) AS pmi
        | FROM bc b
        |  JOIN uc u1 ON u1.tok = string_split(b.bg, ' ')[1]
        |  JOIN uc u2 ON u2.tok = string_split(b.bg, ' ')[2]
        |  , nu, nb
        | WHERE b.c_bg >= 5)
        |SELECT bigram, c_bg, c1, c2, pmi
        |FROM sc ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin,
    "t22_term_frequency" ->
      """SELECT token, count(*) AS n_occurrences,
        | count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        |      FROM documents WHERE length(trim(text)) > 0)
        |GROUP BY token""".stripMargin,
    "t23_stopword_ratio" ->
      """SELECT lang, count(*) AS n_tokens,
        | CAST(sum(CASE WHEN token IN ('the','a','and','of') THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_stopwords,
        | round(CAST(sum(CASE WHEN token IN ('the','a','and','of') THEN 1 ELSE 0 END) AS BIGINT)
        |   / count(*), 4) AS stopword_ratio
        |FROM (SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        |      FROM documents WHERE length(trim(text)) > 0)
        |GROUP BY lang""".stripMargin,
    // same deterministic per-source top-50 rank order and the same
    // covar_pop/var_pop regr_slope algebra; round(...)+0.0 normalizes
    // IEEE -0.0 (the q61 discipline)
    "t41_zipf_slope" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
        |r AS (
        | SELECT source, n, row_number() OVER (PARTITION BY source
        |   ORDER BY n DESC, token ASC) AS rnk
        | FROM c)
        |SELECT source, count(*) AS n_terms,
        | round(regr_slope(ln(n), ln(rnk)), 4) + 0.0 AS zipf_slope
        |FROM r WHERE rnk <= 50
        |GROUP BY 1""".stripMargin,
    // identical deterministic vocab (count DESC, token ASC LIMIT 100),
    // the same long/long→double divisions, ln, and the 6-dp final
    // round; sums over ≤100 double terms differ only in order
    "t39_unigram_kl" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |corpus AS (SELECT token, count(*) AS c_corpus FROM tok GROUP BY 1),
        |vocab AS (SELECT token, c_corpus FROM corpus
        |          ORDER BY c_corpus DESC, token ASC LIMIT 100),
        |vtot AS (SELECT sum(c_corpus) AS corpus_tot FROM vocab),
        |sc AS (
        | SELECT t.source, t.token, count(*) AS c_src
        | FROM tok t JOIN vocab v ON t.token = v.token GROUP BY 1, 2),
        |st AS (SELECT source, sum(c_src) AS src_tot FROM sc GROUP BY 1)
        |SELECT sc.source, count(*) AS n_vocab_terms,
        | CAST(min(st.src_tot) AS BIGINT) AS vocab_tokens,
        | round(sum((sc.c_src / st.src_tot) *
        |   ln((sc.c_src / st.src_tot) / (v.c_corpus / vtot.corpus_tot))), 6)
        |   AS kl
        |FROM sc
        | JOIN vocab v ON sc.token = v.token
        | JOIN st ON sc.source = st.source, vtot
        |GROUP BY 1""".stripMargin,
    "t24_quality_score" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w
        | FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_unique,
        | CASE WHEN len(w) > 0
        |      THEN round(len(list_distinct(w)) / len(w), 4) END AS uniq_ratio,
        | CASE WHEN len(w) > 0
        |      THEN round(least(1.0, len(w) / 100.0) *
        |           (len(list_distinct(w)) / len(w)), 4) END AS quality
        |FROM tok""".stripMargin,
    "t25_fingerprint" ->
      """WITH tok AS (
        | SELECT doc_id, text,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w
        | FROM documents)
        |SELECT doc_id, md5(text) AS exact_md5,
        | md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS bag_md5
        |FROM tok""".stripMargin,
    "t27_tfidf" -> t27OracleSql,
    // ranks on the ROUNDED tfidf from the shared t27 SQL with the
    // identical (tfidf DESC, token ASC) total order the native heap
    // uses — ties on the 6-dp grid break identically in both engines
    "t43_keywords" ->
      s"""SELECT doc_id, rnk, token, tfidf FROM (
         | SELECT doc_id, token, tfidf,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, token ASC) AS rnk
         | FROM (${t27OracleSql}) x)
         |WHERE rnk <= 3""".stripMargin,
    "t28_array_hof" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(list_filter(w, x -> length(x) > 5)) AS BIGINT) AS n_long_tokens,
        | list_contains(w, 'spark') AS has_spark,
        | list_sort(w)[1] AS first_token_sorted
        |FROM tok""".stripMargin,
    "t26_lang_id" -> t26OracleSql,
    // composes t26's oracle VERBATIM; the matrix is one partial-agg
    // groupBy and row_frac is BIGINT/BIGINT divided once, rounded 4 dp
    "t50_lang_confusion" ->
      s"""WITH p AS (${t26OracleSql}),
         |cells AS (
         | SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2),
         |tot AS (
         | SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang
         | FROM cells GROUP BY 1)
         |SELECT cells.lang, lang_pred, n_docs,
         | round(n_docs / n_lang, 4) AS row_frac
         |FROM cells JOIN tot USING (lang)""".stripMargin,
    // the same whitespace tokenizer; per-doc TTR via list_distinct,
    // hapax off the (source, token) counts, round-4 single divisions
    "t58_lexical_diversity" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |perdoc AS (
        | SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  round(CAST(len(list_distinct(w)) AS BIGINT) /
        |        CAST(len(w) AS BIGINT), 6) AS ttr
        | FROM tok),
        |docroll AS (
        | SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  round(avg(ttr), 4) + 0.0 AS mean_ttr
        | FROM perdoc GROUP BY 1),
        |tc AS (
        | SELECT source, unnest(w) AS token FROM tok),
        |vocab AS (
        | SELECT source, count(*) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        | FROM (SELECT source, token, count(*) AS c FROM tc GROUP BY 1, 2)
        | GROUP BY 1)
        |SELECT source, n_docs, tokens_total, vocab, hapax, mean_ttr,
        | round(hapax / vocab, 4) AS hapax_frac
        |FROM docroll JOIN vocab USING (source)""".stripMargin,
    // positioned spans via range(0, len-7) + 1-based slices (t38's
    // alignment), df>=2 flag on DISTINCT docs, coverage deduped on
    // (doc, position) before counting — identical scrub ledger
    "t59_span_scrub" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |base AS (
        | SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens, w
        | FROM tok),
        |occ0 AS (
        | SELECT doc_id, unnest(list_transform(
        |   range(0, CAST(n_tokens - 7 AS INTEGER)),
        |   i -> struct_pack(i := i,
        |     sm := md5(array_to_string(w[i + 1 : i + 8], ' '))))) AS o
        | FROM base WHERE n_tokens >= 8),
        |occ AS (
        | SELECT doc_id, CAST(o.i AS BIGINT) AS i, o.sm AS span_md5
        | FROM occ0),
        |bp AS (
        | SELECT span_md5 FROM (
        |  SELECT span_md5, count(DISTINCT doc_id) AS nd
        |  FROM occ GROUP BY 1) WHERE nd >= 2),
        |cov AS (
        | SELECT DISTINCT doc_id, i + u AS p
        | FROM occ JOIN bp USING (span_md5), range(0, 8) r2(u)),
        |perdoc AS (
        | SELECT doc_id, count(*) AS covered FROM cov GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        | CAST(sum(coalesce(covered, 0)) AS BIGINT) AS tokens_scrubbed,
        | CAST(sum(CASE WHEN covered IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS docs_affected,
        | round(sum(coalesce(covered, 0)) / sum(n_tokens), 4) AS scrub_frac
        |FROM base LEFT JOIN perdoc USING (doc_id)
        |GROUP BY 1""".stripMargin,
    // the same 24-bit md5 bucket boundary rule (SamplingOps.bucketSql
    // nibble rendering), prefix-count chunk ids, and ordered chunk
    // digests via list(token ORDER BY pos)
    "t60_cdc_chunks" -> {
      val b = SamplingOps.bucketSql("o.token")
      s"""WITH tok AS (
         | SELECT doc_id, source,
         |  string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
         | FROM documents WHERE length(trim(text)) > 0),
         |pt AS (
         | SELECT doc_id, source,
         |  unnest(list_transform(range(1, CAST(len(w) + 1 AS INTEGER)),
         |    i -> struct_pack(pos := i - 1, token := w[i]))) AS o
         | FROM tok),
         |flags AS (
         | SELECT doc_id, source, o.token AS token,
         |  CAST(o.pos AS BIGINT) AS pos,
         |  CASE WHEN ($b) % 8 = 0 THEN 1 ELSE 0 END AS bnd
         | FROM pt),
         |assigned AS (
         | SELECT *, coalesce(sum(bnd) OVER (PARTITION BY doc_id
         |   ORDER BY pos ASC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS chunk_idx
         | FROM flags),
         |chunks AS (
         | SELECT doc_id, source, chunk_idx, count(*) AS ctokens,
         |  md5(array_to_string(list(token ORDER BY pos ASC), ' '))
         |    AS chunk_md5
         | FROM assigned GROUP BY 1, 2, 3)
         |SELECT source, count(*) AS n_chunks,
         | CAST(count(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks,
         | round((count(*) - count(DISTINCT chunk_md5)) / count(*), 4)
         |   AS dedup_ratio,
         | round(sum(ctokens) / count(*), 2) AS mean_chunk_tokens
         |FROM chunks GROUP BY 1""".stripMargin
    },
    // the same (c DESC, token ASC) top-K cut and broadcast-join
    // membership accounting
    "t61_oov_rate" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |vocab AS (
        | SELECT token, 1 AS in_vocab FROM (
        |  SELECT token, row_number() OVER (ORDER BY c DESC, token ASC)
        |    AS rn FROM freq)
        | WHERE rn <= 16),
        |st AS (
        | SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2)
        |SELECT source,
        | CAST(sum(n) AS BIGINT) AS tokens_total,
        | CAST(sum(CASE WHEN in_vocab IS NULL THEN n ELSE 0 END) AS BIGINT)
        |   AS oov_tokens,
        | round(sum(CASE WHEN in_vocab IS NULL THEN n ELSE 0 END) / sum(n), 4)
        |   AS oov_rate,
        | count(*) AS n_types,
        | CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS oov_types,
        | round(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) /
        |   count(*), 4) AS oov_type_rate
        |FROM st LEFT JOIN vocab USING (token)
        |GROUP BY 1""".stripMargin,
    // the same deterministic top-50 vocabulary and the exact integer
    // Fisher index (N·Σc² − (Σc)²)/(N·Σc) with one double division
    "t62_token_burstiness" ->
      """WITH nd AS (SELECT count(*) AS n_docs FROM documents),
        |tok AS (
        | SELECT doc_id, unnest(
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END)
        |  AS token
        | FROM documents),
        |vocab AS (
        | SELECT token FROM (
        |  SELECT token, row_number() OVER
        |    (ORDER BY count(*) DESC, token ASC) AS rn
        |  FROM tok GROUP BY token)
        | WHERE rn <= 50),
        |pd AS (
        | SELECT token, doc_id, count(*) AS c
        | FROM tok JOIN vocab USING (token) GROUP BY 1, 2),
        |mo AS (
        | SELECT token, count(*) AS n_docs_present,
        |  CAST(sum(c) AS BIGINT) AS total_count,
        |  CAST(sum(c * c) AS BIGINT) AS sumsq
        | FROM pd GROUP BY 1)
        |SELECT token, n_docs_present, total_count,
        | round((nd.n_docs * sumsq - total_count * total_count)
        |  / CAST(nd.n_docs * total_count AS DOUBLE), 6) AS burstiness
        |FROM mo, nd""".stripMargin,
    // the same word-frequency collapse, 32-char pair cap, and
    // (count DESC, pair ASC) top-20
    "t63_bpe_merge_step" ->
      """WITH tok AS (
        | SELECT unnest(
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END)
        |  AS w
        | FROM documents),
        |words AS (SELECT w, count(*) AS wf FROM tok GROUP BY 1),
        |pairs AS (
        | SELECT substr(w, CAST(r.i AS INT), 2) AS pair, wf, w
        | FROM (SELECT w, wf, least(length(w), 32) AS wl FROM words
        |       WHERE least(length(w), 32) >= 2) x,
        |  range(1, 32) r(i)
        | WHERE r.i <= x.wl - 1)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS n_occurrences,
        | count(DISTINCT w) AS n_words
        |FROM pairs GROUP BY 1
        |ORDER BY n_occurrences DESC, pair ASC
        |LIMIT 20""".stripMargin,
    // the same deterministic rank + three prefix sums over the top-20
    "t64_vocab_coverage" ->
      """WITH tok AS (
        | SELECT unnest(
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END)
        |  AS token
        | FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |totals AS (
        | SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
        |  count(*) AS n_types
        | FROM freq),
        |ranked AS (
        | SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS rn
        | FROM freq),
        |ks(k) AS (VALUES (5), (10), (20))
        |SELECT CAST(ks.k AS BIGINT) AS vocab_k, t.n_types,
        | t.total_tokens,
        | CAST(sum(r.c) AS BIGINT) AS covered,
        | round(sum(r.c) / t.total_tokens, 4) AS coverage
        |FROM ks JOIN ranked r ON r.rn <= ks.k
        | CROSS JOIN totals t
        |GROUP BY 1, 2, 3""".stripMargin,
    // the same 5 unrolled merge supersteps; list_reduce runs the
    // identical left-to-right non-overlapping rewrite fold
    "t66_bpe_train" -> bpeTrainOracle(5),
    // the same chain, applied: per-source stats off the final symbol
    // table
    "t67_bpe_apply" -> bpeApplyOracle(5)
  )

  /** t35 oracle body, shared with t51's wrapper. */
  private def t35OracleSql: String =
      """WITH tok AS (
        | SELECT doc_id, lang,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(trim(text), '[ \t\n\f\r]+') END AS w
        | FROM documents),
        |base AS (
        | SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_unique,
        |  CAST(CASE lang
        |   WHEN 'en' THEN len(list_intersect(list_distinct(w), ['the','a','and','of','is']))
        |   WHEN 'es' THEN len(list_intersect(list_distinct(w), ['el','la','de','que','los']))
        |   WHEN 'de' THEN len(list_intersect(list_distinct(w), ['der','die','das','und','ist']))
        |   WHEN 'fr' THEN len(list_intersect(list_distinct(w), ['le','les','des','et','est']))
        |   WHEN 'zh' THEN len(list_intersect(list_distinct(w), ['的','是','了']))
        |   END AS BIGINT) AS stop_hits,
        |  w
        | FROM tok),
        |bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
        | FROM base WHERE n_tokens >= 2),
        |counts AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
        |stats AS (
        | SELECT doc_id,
        |  CAST(max(n) AS BIGINT) / CAST(sum(n) AS BIGINT) AS tbf,
        |  (CAST(sum(n) AS BIGINT) - count(*)) / CAST(sum(n) AS BIGINT) AS dbf
        | FROM counts GROUP BY 1),
        |j AS (
        | SELECT b.doc_id, b.lang, b.n_tokens, b.n_unique, b.stop_hits,
        |  coalesce(s.tbf, 0.0) AS top_bigram_frac,
        |  coalesce(s.dbf, 0.0) AS dup_bigram_frac
        | FROM base b LEFT JOIN stats s ON b.doc_id = s.doc_id),
        |r AS (
        | SELECT *,
        |  CASE WHEN n_tokens < 16 THEN 'too_short'
        |       WHEN n_tokens > 4096 THEN 'too_long'
        |       WHEN n_unique / n_tokens < 0.375 THEN 'low_diversity'
        |       WHEN top_bigram_frac > 0.0625 THEN 'repetitive_top_bigram'
        |       WHEN dup_bigram_frac > 0.0625 THEN 'repetitive_dup_bigram'
        |       WHEN stop_hits = 0 THEN 'no_stopwords'
        |       ELSE 'keep' END AS reason
        | FROM j)
        |SELECT doc_id, lang, n_tokens,
        | CASE WHEN n_tokens > 0 THEN n_unique / n_tokens END AS uniq_ratio,
        | top_bigram_frac, dup_bigram_frac, stop_hits,
        | reason, reason = 'keep' AS keep
        |FROM r""".stripMargin

  private def t26OracleSql: String =
    """WITH sc AS (
      | SELECT doc_id, lang,
      |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |       ELSE list_distinct(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS wd
      | FROM documents),
      |s AS (
      | SELECT doc_id, lang,
      |  len(list_intersect(wd, ['the','a','and','of','is'])) AS s_en,
      |  len(list_intersect(wd, ['el','la','de','que','los'])) AS s_es,
      |  len(list_intersect(wd, ['der','die','das','und','ist'])) AS s_de,
      |  len(list_intersect(wd, ['le','les','des','et','est'])) AS s_fr,
      |  len(list_intersect(wd, ['的','是','了'])) AS s_zh
      | FROM sc)
      |SELECT doc_id, lang,
      | CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |      WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |      WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |      WHEN s_fr >= s_zh THEN 'fr'
      |      ELSE 'zh' END AS lang_pred,
      | s_en, s_es
      |FROM s""".stripMargin

  private def t36OracleSql: String =
    """WITH tok AS (
      | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
      | FROM documents WHERE length(trim(text)) > 0),
      |bg AS (
      | SELECT doc_id,
      |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
      | FROM tok WHERE len(w) >= 2),
      |b2 AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg),
      |model AS (SELECT bg, count(*) AS c_bg FROM b2 GROUP BY 1),
      |ctx AS (SELECT w1, count(*) AS c_ctx FROM b2 GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      | round(-sum(log2(c_bg / c_ctx)) / count(*), 4) AS avg_neg_log2,
      | round(power(2.0, -sum(log2(c_bg / c_ctx)) / count(*)), 4) AS perplexity
      |FROM b2 JOIN model USING (bg) JOIN ctx USING (w1)
      |GROUP BY doc_id""".stripMargin

  private def t27OracleSql: String =
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS n_docs_with_term FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
        |SELECT doc_id, tf.token, tf.tf, dfreq.n_docs_with_term,
        | round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.n_docs_with_term + 1.0)), 6)
        |   AS tfidf
        |FROM tf JOIN dfreq USING (token) CROSS JOIN n""".stripMargin
}
