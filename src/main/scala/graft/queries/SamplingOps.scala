package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.TopKPerKeyApi

/** Sampling / data-mixture operators — the curation stage of a training
  * pipeline: which rows survive into the training set, and in what
  * proportion per source. Reference analogue: the randomSplit train/test
  * stage (`Data_transform.py:61`), generalized to the corpus-curation
  * shapes a 100 TB pretraining run needs.
  *
  * Determinism contract (same discipline as q65_hash_split): every
  * sampling decision derives from md5(doc_id) — a pure function of the
  * row, independent of partitioning, task order, and engine. That is
  * what makes these oracle-checkable AND what a production pipeline
  * wants anyway: re-running the job on the same snapshot yields the
  * same sample (auditable lineage), and adding a shard never reshuffles
  * previous decisions.
  */
object SamplingOps {

  /** md5-derived integer in [0, 16^6): first 6 hex nibbles. Portable —
    * Spark conv(hex,16,10) ≡ the DuckDB strpos-nibble expansion below. */
  private[queries] def bucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long")

  /** DuckDB rendering of [[bucket]] over column expression `col`
    * (DuckDB has no conv()): nibble-by-nibble hex→int. */
  private[queries] def bucketSql(col: String): String = {
    val nibs = (1 to 6).map(p =>
      s"(strpos('0123456789abcdef', substring(md5(CAST($col AS VARCHAR)), $p, 1)) - 1)")
    nibs.reduce((acc, n) => s"($acc * 16 + $n)")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STRATIFIED QUOTA SAMPLE — exactly min(20, |stratum|) docs per
    // source, chosen by deterministic hash rank (the "take a fixed
    // eval slice per domain" shape). Runs through the native
    // TopKPerKey operator: one shuffle on `source`, bounded per-key
    // heaps, no per-partition full sort — at 100 TB the shuffle ships
    // only (source, doc_id, 32-byte hash) triples and each reducer
    // keeps 20 rows per stratum resident, never the stratum itself.
    "q70_stratified_sample" -> { (s, d) =>
      val ranked = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("h"))
      TopKPerKeyApi.topKPerKey(ranked, Seq("source"),
          Seq(("h", true), ("doc_id", true)), 20, rankName = "rnk")
        .select(col("source"), col("doc_id"), col("rnk"))
    },

    // DATA-MIXTURE REWEIGHTING — resample each source toward an
    // EXPLICIT per-source target quota (the training-mix-config shape:
    // downweight over-represented domains, keep rare ones whole). The
    // quota here derives deterministically from the source name —
    // quota = avg ÷ 2 for sources whose md5 bucket is even, avg × 2
    // for odd (avg = n_tot DIV k) — standing in for the hand-tuned
    // weights a real mixture config supplies. A doc survives iff
    // bucket(doc_id) * n_src < 16^6 * quota, i.e. each source keeps
    // ~quota docs in expectation; quota ≥ n_src degrades to b < 16^6,
    // keeping EVERYTHING (under-quota sources are never subsampled).
    // All-integer arithmetic: bucket < 2^24 and n_src < 2^38 stay
    // exact in 64-bit, so both engines make bitwise-identical keep
    // decisions — no float rate ever computed. Plan shape: two tiny
    // aggregates broadcast back onto the corpus scan (map-side
    // filter), then one partial-agg groupBy — the corpus itself is
    // never shuffled unfiltered.
    "q71_mixture_weights" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      val tot = docs.agg(count(lit(1)).as("n_tot"),
        countDistinct(col("source")).as("k"))
      docs.select(col("source"), col("doc_id"),
          bucket(col("doc_id")).as("b"))
        .join(broadcast(counts), "source")
        .crossJoin(broadcast(tot))
        .withColumn("quota",
          when(bucket(col("source")) % 2 === 0, expr("n_tot DIV k DIV 2"))
            .otherwise(expr("(n_tot DIV k) * 2")))
        .filter(col("b") * col("n_src") < lit(16777216L) * col("quota"))
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_src"),
          max(col("quota")).as("quota"),
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("sum_id"))
    },

    // WEIGHTED RESERVOIR SAMPLE (A-ES, Efraimidis & Spirakis 2006) —
    // k=10 docs per source drawn WITHOUT replacement with inclusion
    // probability proportional to weight (doc length in chars — the
    // "sample proportional to token count" curation shape). The A-ES
    // key u^(1/w) is taken through two monotone transforms to the
    // exponential-race form ln(-ln u) - ln w (SMALLEST wins): same
    // sample, but the key is uniformly scaled over [-17, 1] instead of
    // clustered at 1-epsilon, so a fixed decimal quantization preserves
    // the order. u derives from md5(doc_id) (24-bit bucket, shifted
    // into the OPEN interval (0,1) so ln never sees 0 — Spark's log
    // returns NULL there while DuckDB returns -inf).
    //
    // Why round(key, 6): pow/ln last-ULP divergence between the JVM
    // and libm makes raw-key rank membership knife-edged (the blocker
    // that kept this operator out of r8). The first two steps — the
    // 24-bit bucket and the division by 2^24+1 — are EXACT in both
    // engines (IEEE division is correctly rounded); only the two ln
    // calls can differ, by ~2 ulp ≈ 4e-15 absolute at this magnitude.
    // Quantizing to 1e-6 makes a cross-engine flip need a true key
    // within 4e-15 of a grid boundary (P ≈ 4e-9 per row); quantization
    // ties land on the doc_id tie-break identically in both engines.
    // The 1e-6 key perturbation is orders of magnitude below the key
    // spacing that matters for any non-adversarial weight distribution.
    //
    // Plan shape: map-side key computation on the scan, then the NATIVE
    // TopKPerKey operator — one shuffle of (source, doc_id, w, key)
    // quads, bounded per-key heaps, no per-stratum sort. At 100 TB the
    // reservoir never materializes a stratum; this is the same
    // distributed shape Spark's own takeOrdered uses, generalized
    // per-key.
    "q92_weighted_sample" -> { (s, d) =>
      val w = greatest(col("n_chars"), lit(1L)).cast("double")
      val u = (bucket(col("doc_id")).cast("double") + 1.0d) / 16777217.0d
      val keyed = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).as("w"),
          round(log(-log(u)) - log(w), 6).as("akey"))
      TopKPerKeyApi.topKPerKey(keyed, Seq("source"),
          Seq(("akey", true), ("doc_id", true)), 10, rankName = "rnk")
        .select(col("source"), col("doc_id"), col("w"), col("rnk"))
    },

    // TEMPERATURE (power-law flattening) SAMPLE — the multinomial
    // source-reweighting LLM mixtures use: keep probability ∝
    // n_src^(α−1) with α = 1/2, i.e. p = T/√n_src capped at 1 — big
    // sources are flattened toward √n while small sources pass whole.
    // EXACT cross-engine arithmetic with a transcendental-free keep
    // rule: keep iff b·√n_src < 16^6·T, where b is the md5 bucket
    // (integer, exact as double) and √ is IEEE-754 correctly rounded —
    // so both engines evaluate the identical double comparison, no
    // rounding knife-edge at all (contrast q92's ln-based key, which
    // needs quantization). Plan: one tiny aggregate broadcast back
    // onto the scan (map-side filter), one partial-agg groupBy — the
    // corpus never shuffles unfiltered (q71's discipline).
    "q93_temperature_sample" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      docs.select(col("source"), col("doc_id"),
          bucket(col("doc_id")).as("b"))
        .join(broadcast(counts), "source")
        .filter(col("b").cast("double") * sqrt(col("n_src").cast("double"))
          < lit(16777216.0d * 3.0d))
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_src"),
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("sum_id"))
    },

    // QUALITY-WEIGHTED MIX — the curation policy real pipelines run
    // instead of a hard quality gate: top-tier docs pass whole,
    // mid-tier failures are RETAINED AT A REDUCED RATE (style
    // diversity without letting noise dominate), hard failures drop.
    // Composes t35's first-failing-reason verdict with the
    // deterministic md5 bucket: keep iff bucket(doc_id) % 100 <
    // tier_pct(reason). The tier table is a plan literal; the decision
    // is pure row-local arithmetic, so the only shuffles are t35's own.
    // Oracle wraps the t35 SQL verbatim (the d44 discipline), so the
    // gate algebra cannot drift from its registry twin.
    "q95_quality_weighted_mix" -> { (s, d) =>
      val tier = when(col("reason") === "keep", 100L)
        .when(col("reason").isin("no_stopwords", "low_diversity"), 25L)
        .when(col("reason").isin("repetitive_top_bigram",
          "repetitive_dup_bigram"), 10L)
        .otherwise(0L) // too_short / too_long: hard drops
      graft.queries.TextOps.qualityIndex(s, d) // served (r21)
        .select(col("doc_id"), col("reason"))
        .withColumn("pct", tier)
        .withColumn("sampled", bucket(col("doc_id")) % 100 < col("pct"))
        .groupBy(col("reason"))
        .agg(max(col("pct")).as("pct"),
          count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("sampled"), col("doc_id")).otherwise(0L))
            .as("sum_sampled_id"))
    },

    // TRAINING MANIFEST — the artifact a curation run actually ships:
    // per (split, source), the documents that SURVIVED the full d44
    // clean (quality ∧ dedup ∧ decontamination) with their token
    // budget, split by the q65 deterministic bucket. This is the table
    // a trainer's data loader reads — doc counts for shard planning,
    // token totals for epoch math. Token counts use the text family's
    // exact token rule (shared helper), so the budget can't drift from
    // t21/t35's numbers. One doc_id equi-join of the keep-list onto
    // the (doc_id, source, n_tokens) projection, one (split, source)
    // partial-agg — no new shuffle shape beyond d44's own.
    "q96_training_manifest" -> { (s, d) =>
      val b = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long") % 100
      val kept = graft.queries.DedupOps.verdictIndex(s, d)
        .filter(col("keep")).select(col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(graft.queries.TextOps.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .join(kept, "doc_id")
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "valid").otherwise("test"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("doc_id")).as("sum_id"))
    },

    // DSIR IMPORTANCE WEIGHTS (Data Selection via Importance
    // Resampling, Xie et al. 2023) — score every document by how much
    // more likely its hashed-bigram bag is under a TARGET domain's
    // unigram-over-buckets model than under the raw-pool model:
    //   log w(x) = Σ_b n_b(x) · (ln θ_target[b] − ln θ_raw[b])
    // with 256 md5-derived feature buckets and Laplace-smoothed bucket
    // probabilities. Target here = the `lang = 'en'` slice (standing in
    // for the curated target corpus a real run supplies); raw = the
    // whole pool. High-scoring docs are the ones importance resampling
    // keeps. Plan shape: one tokenize+explode scan feeds THREE
    // partial-agg reductions — per-(doc,bucket) counts, per-bucket raw
    // counts (256 rows), per-bucket target counts (≤256 rows) — then
    // the 256-row log-ratio table broadcasts back onto the per-doc
    // counts for one final doc_id-keyed partial agg. At 100 TB the
    // only corpus-sized shuffle carries (doc_id, bucket) pairs already
    // combined map-side to ≤256 rows per document; the model itself is
    // 256 doubles. Float contract: counts are exact BIGINTs in both
    // engines; each engine computes ln over the SAME two exact ratios
    // (≤2 ulp drift), and the per-doc sum of ≤256 such terms stays
    // ~1e-13 from DuckDB's — far inside the 1e-6 rounding grid (q92's
    // quantization argument).
    "q101_dsir_weights" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val hb = docs
        .withColumn("w", graft.queries.TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(expr("transform(sequence(0, size(w)-2), " +
            "i -> concat_ws(' ', w[i], w[i+1]))")).as("g"))
        .withColumn("b",
          conv(substring(md5(col("g")), 1, 2), 16, 10).cast("long"))
      val rc = hb.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val tc = hb.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val tot = hb.agg(count(lit(1)).as("nr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
      val lr = rc.join(tc, Seq("b"), "left").crossJoin(tot)
        .select(col("b"),
          (log((coalesce(col("ct"), lit(0L)) + lit(1.0d)) /
              (col("nt") + lit(256.0d))) -
            log((col("cr") + lit(1.0d)) / (col("nr") + lit(256.0d))))
            .as("lr"))
      hb.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
        .join(broadcast(lr), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"),
          round(sum(col("n") * col("lr")), 6).as("log_ratio"))
    },

    // DOMAIN CROSS-ENTROPY MATRIX — how well does each source's bigram
    // model predict every other source (the DoReMi-adjacent domain-
    // affinity table a mixture tuner reads: low cross-entropy = similar
    // domains, a hot row = a source whose model transfers broadly)?
    // Same hashed-bigram 256-bucket compression as q101, so the whole
    // matrix computes from one (source, bucket) partial agg: model =
    // Laplace-smoothed bucket distribution per source, eval = MLE
    // bucket distribution, xent(e, m) = −Σ_b p_e(b)·ln p_m(b) over the
    // ≤ |src|·256-row join. The corpus is scanned once; everything
    // after is |src|²-sized. ln over exact-operand quotients ≤2 ulp →
    // round 4 (the t39 argument).
    "q119_domain_xent" -> { (s, d) =>
      val hb = t(s, d, "documents")
        .withColumn("w", graft.queries.TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 2)
        .select(col("source"),
          explode(expr("transform(sequence(0, size(w)-2), " +
            "i -> concat_ws(' ', w[i], w[i+1]))")).as("g"))
        .withColumn("b",
          conv(substring(md5(col("g")), 1, 2), 16, 10).cast("long"))
      val cnt = hb.groupBy(col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val evalSide = cnt.join(tot, "source")
        .select(col("source").as("eval_source"), col("b"),
          col("c").as("ce"), col("n").as("ne"))
      // cross the eval rows with EVERY model source, then left-join the
      // model's bucket counts — a bucket the model never saw must still
      // pay its smoothed log-penalty (a b-keyed join would silently
      // drop those rows and deflate the cross-entropy)
      val models = tot.select(col("source").as("model_source"),
        col("n").as("nm"))
      val modelCounts = cnt.select(col("source").as("model_source"),
        col("b"), col("c").as("cm"))
      evalSide.crossJoin(broadcast(models))
        .join(modelCounts, Seq("model_source", "b"), "left")
        .groupBy(col("eval_source"), col("model_source"))
        .agg(max(col("ne")).as("n_bigrams_eval"),
          round(-sum((col("ce") / col("ne")) *
            log((coalesce(col("cm"), lit(0L)) + lit(1.0d)) /
              (col("nm") + lit(256.0d)))), 4).as("xent_nats"))
    },

    // SIGNAL RANK CORRELATION — the single-number companion to t51's
    // calibration matrix: exact Spearman ρ (Pearson over average-tie
    // ranks) between the two independent quality signals a mixture
    // weight could use — t24's rule-based quality score and t36's LM
    // perplexity — plus the raw Pearson r for contrast. |ρ| near 0
    // says the signals rank documents independently (combining them
    // adds information); |ρ| near 1 says one is redundant. Ranks run
    // through DistributedRank.valueRanks (per-(block) windows + a tiny
    // offset aggregate — never a one-task global sort), and the
    // average-tie rank (lo+hi)/2 is an exact half-integer in both
    // engines, so only the final corr needs the 4-dp round (the q61
    // discipline).
    "q106_signal_rankcorr" -> { (s, d) =>
      val ppl = graft.queries.TextOps.perplexityIndex(s, d) // served (r21)
        .select(col("doc_id"), col("perplexity"))
      val qual = graft.queries.TextOps.queries("t24_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
        .filter(col("quality").isNotNull)
      // feeds two rank passes + the final corr — persist so the two
      // parent signal jobs run once; released by SparkEntry.release()
      val j = graft.Blocks.persist(
        ppl.join(qual, "doc_id").withColumn("g", lit(0)))
      def avgRanks(v: String, blk: Column, out: String): DataFrame =
        graft.operators.DistributedRank.valueRanks(j, "g", v, blk)
          .select(col(v),
            ((col("__cum") * 2 - col("__cnt") + 1) / lit(2.0)).as(out))
      val rp = avgRanks("perplexity", floor(col("perplexity")), "r_ppl")
      val rq = avgRanks("quality", floor(col("quality") * 100), "r_qual")
      j.join(rp, "perplexity").join(rq, "quality")
        .agg(count(lit(1)).as("n_docs"),
          (round(corr(col("r_ppl"), col("r_qual")), 4) + 0.0)
            .as("spearman_rho"),
          (round(corr(col("perplexity"), col("quality")), 4) + 0.0)
            .as("pearson_r"))
    },

    // EPOCH / REPEAT PLAN — the data-constrained scaling step after the
    // manifest: given a training token budget (2× the curated train
    // tokens — the literal standing in for the run config) split
    // uniformly across sources, how many EPOCHS of each source fill
    // its allocation, capped at 4 repeats (past ~4 epochs repeated
    // data stops helping — the Muennighoff et al. 2023 heuristic), and
    // what deficit remains for the mixture to reassign. Composes the
    // q96 manifest (so the plan covers only documents that survived
    // the full d44 clean); all allocation arithmetic is integer
    // (BIGINT div/least), epochs is the single rounded float. The
    // per-source table is mixture-config-sized — every downstream step
    // is a broadcast.
    "q103_epoch_plan" -> { (s, d) =>
      val train = queries("q96_training_manifest")(s, d)
        .filter(col("split") === "train")
        .select(col("source"), col("n_tokens"))
      val tot = train.agg(sum(col("n_tokens")).as("tot"),
        count(lit(1)).as("k"))
      train.crossJoin(broadcast(tot))
        .withColumn("target_tokens", expr("(2 * tot) DIV k"))
        .withColumn("effective_tokens",
          least(col("n_tokens") * 4, col("target_tokens")))
        .withColumn("epochs",
          round(col("effective_tokens") / col("n_tokens"), 4))
        .withColumn("deficit",
          col("target_tokens") - col("effective_tokens"))
        .select(col("source"), col("n_tokens"), col("target_tokens"),
          col("epochs"), col("effective_tokens"), col("deficit"))
    },

    // CURATION FUNNEL — the dataset-card accounting every release
    // publishes: per d44 decision (keep / drop_contaminated /
    // drop_duplicate / drop_<quality-reason>), how many documents and
    // how many tokens left the corpus, and each bucket's share. The
    // numbers people actually ask of a cleaning run ("what did each
    // gate cost?"), derived from the SAME verdict the manifest ships —
    // not a re-implementation of the gates. One doc_id equi-join of
    // the verdict onto the token projection, one decision-keyed
    // partial agg; shares divide by a broadcast 1-row total.
    "q104_curation_funnel" -> { (s, d) =>
      val verdict = graft.queries.DedupOps.verdictIndex(s, d)
        .select(col("doc_id"), col("decision"))
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          size(graft.queries.TextOps.tokens(col("text"))).cast("long")
            .as("n_tokens"))
      val tot = toks.agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))
      verdict.join(toks, "doc_id")
        .groupBy(col("decision"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("decision"), col("n_docs"), col("n_tokens"),
          round(col("n_docs") / col("nd"), 4).as("doc_share"),
          round(col("n_tokens") / col("nt"), 4).as("token_share"))
    },

    // TOKEN-BUDGET CURVE — "what quality cutoff fits my token budget":
    // docs bucketed by t24-quality decile, then cumulative docs/tokens
    // from the best decile down. The corpus pass is one partial-agg
    // groupBy on a derived integer (≤10 groups survive the shuffle);
    // the cumulative window runs over the 10-row AGGREGATE, never the
    // corpus, and the share denominator rides in as a broadcast 1-row
    // total (q104 discipline) — so the plan is one corpus scan + two
    // tiny aggregates at any SF.
    "q108_token_budget_curve" -> { (s, d) =>
      val q = graft.queries.TextOps.queries("t24_quality_score")(s, d)
        .filter(col("quality").isNotNull)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val byDec = q
        .withColumn("decile", least(lit(9L), floor(col("quality") * 10)))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val tot = q.agg(sum(col("n_tokens")).as("nt"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col("decile").desc)
      byDec.crossJoin(broadcast(tot))
        .select(col("decile"), col("n_docs"), col("n_tokens"),
          sum(col("n_docs")).over(wCum).as("cum_docs"),
          sum(col("n_tokens")).over(wCum).as("cum_tokens"),
          round(sum(col("n_tokens")).over(wCum) / col("nt"), 4)
            .as("cum_token_share"))
    },

    // K-ANONYMITY AUDIT — privacy gate for tabular training data: how
    // re-identifiable are rows under the (nation, market-segment)
    // quasi-identifier, at k ∈ {2,5,10,20}? One partial-agg groupBy
    // collapses the table to |QI| group sizes (~125 rows here; bounded
    // by the QI domain, not the row count, at any SF); the k-sweep then
    // explodes ONLY the aggregate. A row is "at risk" if its QI group
    // has fewer than k members — the standard k-anonymity failure set.
    "q109_kanonymity" -> { (s, d) =>
      val g = t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("gsz"))
      g.select(col("gsz"),
          explode(array(lit(2L), lit(5L), lit(10L), lit(20L))).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("gsz")).as("min_group"),
          sum(when(col("gsz") < col("k"), 1L).otherwise(0L))
            .as("groups_below"),
          sum(when(col("gsz") < col("k"), col("gsz")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("gsz")).as("n_rows"))
        .select(col("k"), col("n_groups"), col("min_group"),
          col("groups_below"), col("rows_at_risk"),
          round(col("rows_at_risk") / col("n_rows"), 4).as("risk_pct"))
    },

    // SHARD MANIFEST — deterministic training-shard assignment: shard =
    // md5-bucket(doc_id) mod 16, the write-layout decision a training
    // run makes before materializing tfrecord/parquet shards. Pure
    // row-local hash (q65 discipline): adding documents never moves an
    // existing doc's shard, and both engines replay the assignment
    // bit-for-bit. The balance column audits the thing shard layouts
    // get wrong — token skew across shards (a shard 2× over token
    // budget starves data-parallel ranks). Map-only assignment + one
    // 16-row partial agg; the share denominator broadcasts.
    "q110_shard_manifest" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .withColumn("n_tokens",
          size(graft.queries.TextOps.tokens(col("text"))).cast("long"))
        .withColumn("shard", bucket(col("doc_id")) % 16)
      val tot = docs.agg(sum(col("n_tokens")).as("nt"))
      docs.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("doc_id")).as("sum_id"))
        .crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("sum_id"),
          round(col("n_tokens") / col("nt"), 6).as("token_share"),
          round(col("n_tokens") * 16 / col("nt"), 4).as("balance"))
    },

    // DETERMINISTIC POISSON BOOTSTRAP — metric uncertainty for data
    // pipelines (the online-bootstrap trick: per (doc, replicate), a
    // Poisson(1) pseudo-count stands in for multinomial resampling, so
    // replicates need no shared state and the whole thing is one
    // map-side explode + a 32-row aggregate). Each replicate reports
    // the resampled mean document length; the spread across replicates
    // IS the metric's confidence interval. The Poisson draw inverts the
    // CDF against the 24-bit md5 bucket of (doc_id, replicate) using
    // INTEGER thresholds precomputed driver-side — identical literals
    // in both engines, so every pseudo-count replays exactly (the
    // determinism contract; Poisson fidelity needs only ~7 decimals).
    // At 100 TB: the shuffle carries 32 partial-agg rows, nothing else.
    "q100_bootstrap_ci" -> { (s, d) =>
      val b = conv(substring(md5(concat_ws(":", col("doc_id"), col("r"))),
        1, 6), 16, 10).cast("long")
      val w = poissonThresholds.zipWithIndex
        .foldLeft(Option.empty[Column]) { case (acc, (t, k)) =>
          Some(acc.fold(when(b < t, k.toLong))(_.when(b < t, k.toLong)))
        }.get.otherwise(6L)
      t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .withColumn("r", explode(sequence(lit(1L), lit(32L))))
        .withColumn("w", w)
        .groupBy(col("r"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_chars")).as("sum_chars"))
        .select(col("r").as("replicate"), col("n_eff"), col("sum_chars"),
          round(col("sum_chars") / col("n_eff"), 4).as("mean_chars"))
    },

    // MIXTURE REWEIGHTING STEP (DoReMi-shaped, Xie et al. 2023) — one
    // multiplicative-weights update of the per-source mixture from
    // measured excess loss: score each source's bigram stream under its
    // OWN Laplace-smoothed 256-bucket model (the proxy that has seen
    // the domain) and under the pooled CORPUS model (the reference);
    // the clipped gap max(0, loss_ref − loss_self) is the domain's
    // excess loss, and the next mixture is α_s ∝ exp(excess_s),
    // normalized. Domains the pooled model predicts badly relative to
    // their own model get upweighted — q119's affinity matrix turned
    // into an actionable mixture-config step. Plan shape: ONE corpus
    // tokenize scan into a (source, bucket) partial agg; every model,
    // loss, and weight after that is ≤ |sources|×256 arithmetic, and
    // the normalizer is a broadcast 1-row aggregate. Float contract:
    // losses are Σ of ≤256 (exact-ratio × ln(exact-ratio)) terms —
    // reorder drift ~1e-13 against the 1e-4 grid (the q119 argument);
    // excess is a difference of two ROUNDED values, so exp() sees the
    // identical double in both engines, and only the final α rounds.
    "q134_mixture_step" -> { (s, d) =>
      val hb = t(s, d, "documents")
        .withColumn("w", graft.queries.TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 2)
        .select(col("source"),
          explode(expr("transform(sequence(0, size(w)-2), " +
            "i -> concat_ws(' ', w[i], w[i+1]))")).as("g"))
        .withColumn("b",
          conv(substring(md5(col("g")), 1, 2), 16, 10).cast("long"))
      val cnt = hb.groupBy(col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
      val n = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val corpus = cnt.groupBy(col("b")).agg(sum(col("c")).as("cc"))
      val nAll = corpus.agg(sum(col("cc")).as("nn"))
      val losses = cnt.join(n, "source").join(broadcast(corpus), "b")
        .crossJoin(broadcast(nAll))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_bigrams"),
          round(-sum((col("c") / col("n")) *
            log((col("c") + lit(1.0d)) / (col("n") + lit(256.0d)))), 4)
            .as("loss_self"),
          round(-sum((col("c") / col("n")) *
            log((col("cc") + lit(1.0d)) / (col("nn") + lit(256.0d)))), 4)
            .as("loss_ref"))
      val exc = losses.withColumn("excess",
        greatest(lit(0.0d), col("loss_ref") - col("loss_self")))
      val z = exc.agg(sum(exp(col("excess"))).as("z"))
      exc.crossJoin(broadcast(z))
        .select(col("source"), col("n_bigrams"), col("loss_self"),
          col("loss_ref"), round(col("excess"), 4).as("excess"),
          round(exp(col("excess")) / col("z"), 6).as("alpha_next"))
    })

  /** Cumulative Poisson(1) CDF scaled to the 24-bit bucket space —
    * integer cut points for pseudo-counts 0..5 (6+ beyond the last).
    * Computed once driver-side; rendered as the SAME integer literals
    * into both engines' plans. */
  private val poissonThresholds: Seq[Long] = {
    val pmf = (0 to 5).map(k => math.exp(-1.0) / (1 to k).product)
    pmf.scanLeft(0.0)(_ + _).tail.map(c => math.round(c * 16777216.0))
  }

  lazy val oracle: Map[String, String] = Map(
    "q70_stratified_sample" ->
      """WITH r AS (
        | SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER)
        |   AS rnk
        | FROM documents)
        |SELECT source, doc_id, rnk FROM r WHERE rnk <= 20""".stripMargin,
    "q71_mixture_weights" -> {
      s"""WITH b AS (
         | SELECT source, doc_id, ${bucketSql("doc_id")} AS b
         | FROM documents),
         |c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
         |tt AS (SELECT count(*) AS n_tot, count(DISTINCT source) AS k
         |       FROM documents),
         |q AS (SELECT c.source, c.n_src,
         |  CASE WHEN ${bucketSql("c.source")} % 2 = 0
         |       THEN tt.n_tot // tt.k // 2
         |       ELSE (tt.n_tot // tt.k) * 2 END AS quota
         | FROM c, tt)
         |SELECT b.source, CAST(max(q.n_src) AS BIGINT) AS n_src,
         | CAST(max(q.quota) AS BIGINT) AS quota, count(*) AS n_kept,
         | CAST(sum(b.doc_id) AS BIGINT) AS sum_id
         |FROM b JOIN q USING (source)
         |WHERE b.b * q.n_src < 16777216 * q.quota
         |GROUP BY 1""".stripMargin
    },
    "q92_weighted_sample" ->
      s"""WITH k AS (
         | SELECT source, doc_id,
         |  CAST(greatest(n_chars, 1) AS BIGINT) AS w,
         |  round(ln(-ln((${bucketSql("doc_id")} + 1.0) / 16777217.0))
         |        - ln(CAST(greatest(n_chars, 1) AS DOUBLE)), 6) AS akey
         | FROM documents),
         |r AS (
         | SELECT source, doc_id, w,
         |  CAST(row_number() OVER (PARTITION BY source
         |   ORDER BY akey, doc_id) AS INTEGER) AS rnk
         | FROM k)
         |SELECT source, doc_id, w, rnk FROM r WHERE rnk <= 10""".stripMargin,
    "q93_temperature_sample" ->
      s"""WITH b AS (
         | SELECT source, doc_id, ${bucketSql("doc_id")} AS b
         | FROM documents),
         |c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1)
         |SELECT b.source, CAST(max(c.n_src) AS BIGINT) AS n_src,
         | count(*) AS n_kept, CAST(sum(b.doc_id) AS BIGINT) AS sum_id
         |FROM b JOIN c USING (source)
         |WHERE CAST(b.b AS DOUBLE) * sqrt(CAST(c.n_src AS DOUBLE))
         |  < 50331648.0
         |GROUP BY 1""".stripMargin,
    // wraps the t35 oracle verbatim as a subquery; the identical tier
    // CASE and md5-bucket rule replay the sampling decision exactly
    "q95_quality_weighted_mix" -> {
      val t35 = graft.queries.TextOps.oracle("t35_quality_filter")
      s"""WITH q AS (
         | SELECT doc_id, reason FROM (${t35}) t35),
         |w AS (
         | SELECT doc_id, reason,
         |  CASE WHEN reason = 'keep' THEN 100
         |       WHEN reason IN ('no_stopwords', 'low_diversity') THEN 25
         |       WHEN reason IN ('repetitive_top_bigram',
         |                       'repetitive_dup_bigram') THEN 10
         |       ELSE 0 END AS pct,
         |  ${bucketSql("doc_id")} % 100 AS b
         | FROM q)
         |SELECT reason, CAST(max(pct) AS BIGINT) AS pct,
         | count(*) AS n_docs,
         | CAST(sum(CASE WHEN b < pct THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_sampled,
         | CAST(sum(CASE WHEN b < pct THEN doc_id ELSE 0 END) AS BIGINT)
         |   AS sum_sampled_id
         |FROM w GROUP BY 1""".stripMargin
    },
    // wraps the t36 + t24 oracles verbatim; average-tie ranks replay
    // as avg(row_number) over each value's tie group — exactly the
    // (lo+hi)/2 half-integer the Spark side derives from valueRanks —
    // and only the final corr rounds (the q61 discipline)
    "q106_signal_rankcorr" -> {
      val t36 = graft.queries.TextOps.oracle("t36_lm_perplexity")
      val t24 = graft.queries.TextOps.oracle("t24_quality_score")
      s"""WITH ppl AS (SELECT doc_id, perplexity FROM (${t36}) t36),
         |qual AS (
         | SELECT doc_id, quality FROM (${t24}) t24
         | WHERE quality IS NOT NULL),
         |j AS (
         | SELECT p.doc_id, p.perplexity, q.quality
         | FROM ppl p JOIN qual q USING (doc_id)),
         |r AS (
         | SELECT *,
         |  row_number() OVER (ORDER BY perplexity) AS rn1,
         |  row_number() OVER (ORDER BY quality) AS rn2
         | FROM j),
         |a AS (
         | SELECT *,
         |  avg(rn1) OVER (PARTITION BY perplexity) AS r_ppl,
         |  avg(rn2) OVER (PARTITION BY quality) AS r_qual
         | FROM r)
         |SELECT count(*) AS n_docs,
         | round(corr(r_ppl, r_qual), 4) + 0.0 AS spearman_rho,
         | round(corr(perplexity, quality), 4) + 0.0 AS pearson_r
         |FROM a""".stripMargin
    },
    // wraps the d44 oracle verbatim; the same token rule and share math
    "q104_curation_funnel" -> {
      val d44 = graft.queries.DedupOps.oracle("d44_clean_corpus")
      s"""WITH v AS (SELECT doc_id, decision FROM (${d44}) d44),
         |tk AS (
         | SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'))
         |  END AS n_tokens
         | FROM documents),
         |tot AS (
         | SELECT count(*) AS nd, CAST(sum(n_tokens) AS BIGINT) AS nt
         | FROM tk)
         |SELECT v.decision, count(*) AS n_docs,
         | CAST(sum(tk.n_tokens) AS BIGINT) AS n_tokens,
         | round(count(*) / max(tot.nd), 4) AS doc_share,
         | round(CAST(sum(tk.n_tokens) AS BIGINT) / max(tot.nt), 4)
         |   AS token_share
         |FROM v JOIN tk USING (doc_id), tot
         |GROUP BY 1""".stripMargin
    },
    // wraps the t24 oracle verbatim; the cumulative window replays over
    // the same ≤10-row decile aggregate with the identical DESC order
    "q108_token_budget_curve" -> {
      val t24 = graft.queries.TextOps.oracle("t24_quality_score")
      s"""WITH q AS (
         | SELECT doc_id, n_tokens, quality FROM (${t24}) t24
         | WHERE quality IS NOT NULL),
         |b AS (
         | SELECT CAST(least(9, floor(quality * 10)) AS BIGINT) AS decile,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         | FROM q GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM q)
         |SELECT decile, n_docs, n_tokens,
         | CAST(sum(n_docs) OVER (ORDER BY decile DESC) AS BIGINT)
         |   AS cum_docs,
         | CAST(sum(n_tokens) OVER (ORDER BY decile DESC) AS BIGINT)
         |   AS cum_tokens,
         | round(CAST(sum(n_tokens) OVER (ORDER BY decile DESC) AS BIGINT)
         |   / tot.nt, 4) AS cum_token_share
         |FROM b, tot""".stripMargin
    },
    "q109_kanonymity" ->
      """WITH g AS (
        | SELECT c_nationkey, c_mktsegment, count(*) AS gsz
        | FROM customer GROUP BY 1, 2),
        |x AS (
        | SELECT gsz, k FROM g
        | CROSS JOIN (VALUES (2), (5), (10), (20)) t(k))
        |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_groups,
        | CAST(min(gsz) AS BIGINT) AS min_group,
        | CAST(sum(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT)
        |   AS groups_below,
        | CAST(sum(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT)
        |   AS rows_at_risk,
        | round(CAST(sum(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT)
        |   / CAST(sum(gsz) AS BIGINT), 4) AS risk_pct
        |FROM x GROUP BY 1""".stripMargin,
    "q110_shard_manifest" ->
      s"""WITH tk AS (
         | SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'))
         |  END AS n_tokens,
         |  ${bucketSql("doc_id")} % 16 AS shard
         | FROM documents),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM tk)
         |SELECT shard, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         | CAST(sum(doc_id) AS BIGINT) AS sum_id,
         | round(CAST(sum(n_tokens) AS BIGINT) / tot.nt, 6) AS token_share,
         | round(CAST(sum(n_tokens) AS BIGINT) * 16 / tot.nt, 4) AS balance
         |FROM tk, tot
         |GROUP BY shard, tot.nt""".stripMargin,
    // q101's hashed-bigram bucket CTEs; the model grid crosses every
    // (eval-bucket-row, model source) so unseen buckets pay the same
    // smoothed penalty, exactly like the Spark plan
    "q119_domain_xent" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        | SELECT source,
        |  unnest(list_transform(range(1, len(w)),
        |   i -> w[i] || ' ' || w[i+1])) AS g
        | FROM tok WHERE len(w) >= 2),
        |hb AS (
        | SELECT source,
        |  (strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1) AS b
        | FROM bg),
        |cnt AS (SELECT source, b, count(*) AS c FROM hb GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt
        |        GROUP BY 1),
        |ev AS (
        | SELECT cnt.source AS eval_source, cnt.b, cnt.c AS ce,
        |  tot.n AS ne
        | FROM cnt JOIN tot USING (source)),
        |grid AS (
        | SELECT ev.*, m.source AS model_source, m.n AS nm
        | FROM ev CROSS JOIN tot m),
        |j AS (
        | SELECT g.*, mc.c AS cm
        | FROM grid g LEFT JOIN cnt mc
        |  ON mc.source = g.model_source AND mc.b = g.b)
        |SELECT eval_source, model_source,
        | CAST(max(ne) AS BIGINT) AS n_bigrams_eval,
        | round(-sum((ce / ne) * ln((coalesce(cm, 0) + 1.0)
        |   / (nm + 256.0))), 4) AS xent_nats
        |FROM j GROUP BY 1, 2""".stripMargin,
    // the identical 8-bit md5 bucket, Laplace smoothing, and log-ratio
    // algebra; bigrams via the 1-based range/list_transform rendering
    // of the same token rule
    "q101_dsir_weights" ->
      """WITH tok AS (
        | SELECT doc_id, lang,
        |  string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        | SELECT doc_id, lang,
        |  unnest(list_transform(range(1, len(w)),
        |   i -> w[i] || ' ' || w[i+1])) AS g
        | FROM tok WHERE len(w) >= 2),
        |hb AS (
        | SELECT doc_id, lang,
        |  (strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1) AS b
        | FROM bg),
        |rc AS (SELECT b, count(*) AS cr FROM hb GROUP BY 1),
        |tc AS (SELECT b, count(*) AS ct FROM hb WHERE lang = 'en'
        |       GROUP BY 1),
        |tot AS (
        | SELECT count(*) AS nr,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt FROM hb),
        |lr AS (
        | SELECT rc.b,
        |  ln((coalesce(tc.ct, 0) + 1.0) / (tot.nt + 256.0))
        |   - ln((rc.cr + 1.0) / (tot.nr + 256.0)) AS lr
        | FROM rc LEFT JOIN tc USING (b), tot),
        |db AS (SELECT doc_id, b, count(*) AS n FROM hb GROUP BY 1, 2)
        |SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_bigrams,
        | round(sum(db.n * lr.lr), 6) AS log_ratio
        |FROM db JOIN lr USING (b)
        |GROUP BY 1""".stripMargin,
    // the same 24-bit md5 bucket of (doc_id, replicate) inverted
    // against the SAME precomputed integer CDF cut points — the
    // pseudo-counts replay exactly, so every replicate hash-matches
    "q100_bootstrap_ci" -> {
      val b = bucketSql("CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")
      val cases = poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN b < $t THEN $k" }.mkString(" ")
      s"""WITH x AS (
         | SELECT doc_id, n_chars, r, $b AS b
         | FROM documents CROSS JOIN range(1, 33) t(r)),
         |w AS (SELECT r, n_chars, CASE $cases ELSE 6 END AS w FROM x)
         |SELECT r AS replicate, CAST(sum(w) AS BIGINT) AS n_eff,
         | CAST(sum(w * n_chars) AS BIGINT) AS sum_chars,
         | round(CAST(sum(w * n_chars) AS BIGINT) / CAST(sum(w) AS BIGINT), 4)
         |   AS mean_chars
         |FROM w GROUP BY r""".stripMargin
    },
    // wraps the q96 oracle verbatim (hence the full d44 curation
    // algebra) and applies the identical integer allocation rules
    "q103_epoch_plan" -> {
      s"""WITH m AS (${q96Oracle}),
         |tr AS (SELECT source, n_tokens FROM m WHERE split = 'train'),
         |tot AS (
         | SELECT CAST(sum(n_tokens) AS BIGINT) AS tot, count(*) AS k
         | FROM tr)
         |SELECT tr.source, tr.n_tokens,
         | (2 * tot.tot) // tot.k AS target_tokens,
         | round(least(tr.n_tokens * 4, (2 * tot.tot) // tot.k)
         |   / tr.n_tokens, 4) AS epochs,
         | least(tr.n_tokens * 4, (2 * tot.tot) // tot.k)
         |   AS effective_tokens,
         | (2 * tot.tot) // tot.k
         |   - least(tr.n_tokens * 4, (2 * tot.tot) // tot.k) AS deficit
         |FROM tr, tot""".stripMargin
    },
    // wraps the ENTIRE d44 oracle verbatim (which itself composes
    // t35 + d41 + d38), plus q65's bucket rule and the t45 token rule —
    // the full curation algebra replayed end-to-end in DuckDB
    "q96_training_manifest" -> q96Oracle,
    // q101's tok/bg/hb CTE prefix keyed by source; losses round 4
    // BEFORE the excess difference, exp sees the unrounded clipped gap
    // (identical doubles in both engines), only α rounds at the end
    "q134_mixture_step" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        | SELECT source,
        |  unnest(list_transform(range(1, len(w)),
        |   i -> w[i] || ' ' || w[i+1])) AS g
        | FROM tok WHERE len(w) >= 2),
        |hb AS (
        | SELECT source,
        |  (strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1) AS b
        | FROM bg),
        |cnt AS (SELECT source, b, count(*) AS c FROM hb GROUP BY 1, 2),
        |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |      FROM cnt GROUP BY 1),
        |corpus AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc
        |           FROM cnt GROUP BY 1),
        |na AS (SELECT CAST(sum(cc) AS BIGINT) AS nn FROM corpus),
        |losses AS (
        | SELECT cnt.source, CAST(max(n.n) AS BIGINT) AS n_bigrams,
        |  round(-sum((cnt.c / n.n)
        |    * ln((cnt.c + 1.0) / (n.n + 256.0))), 4) AS loss_self,
        |  round(-sum((cnt.c / n.n)
        |    * ln((corpus.cc + 1.0) / (na.nn + 256.0))), 4) AS loss_ref
        | FROM cnt JOIN n USING (source) JOIN corpus USING (b), na
        | GROUP BY 1),
        |exc AS (
        | SELECT *, greatest(0.0, loss_ref - loss_self) AS e FROM losses),
        |z AS (SELECT sum(exp(e)) AS z FROM exc)
        |SELECT exc.source, exc.n_bigrams, exc.loss_self, exc.loss_ref,
        | round(exc.e, 4) AS excess,
        | round(exp(exc.e) / z.z, 6) AS alpha_next
        |FROM exc, z""".stripMargin)

  /** q96 oracle body, shared with q103's wrapper. */
  private def q96Oracle: String = {
      val d44 = graft.queries.DedupOps.oracle("d44_clean_corpus")
      s"""WITH kept AS (
         | SELECT doc_id FROM (${d44}) d44 WHERE keep),
         |tk AS (
         | SELECT doc_id, source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'))
         |  END AS n_tokens
         | FROM documents),
         |sp AS (
         | SELECT doc_id,
         |  CASE WHEN ${bucketSql("doc_id")} % 100 < 80 THEN 'train'
         |       WHEN ${bucketSql("doc_id")} % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         | FROM documents)
         |SELECT sp.split, tk.source, count(*) AS n_docs,
         | CAST(sum(tk.n_tokens) AS BIGINT) AS n_tokens,
         | CAST(sum(tk.doc_id) AS BIGINT) AS sum_id
         |FROM kept JOIN tk USING (doc_id) JOIN sp ON tk.doc_id = sp.doc_id
         |GROUP BY 1, 2""".stripMargin
  }
}
