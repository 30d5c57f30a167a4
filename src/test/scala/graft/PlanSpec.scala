package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape regression tests (SURVEY.md §8: the plan IS the
  * product at 100 TB). Each assertion pins a property that makes a
  * query scale — pushdown reaching the scan, small sides broadcast,
  * map-only families staying shuffle-free — so a refactor that silently
  * trades one away fails here, not in a cluster bill. String-level
  * checks on the executed plan: crude but stable across Spark patch
  * versions, and exactly what a reviewer greps for in `explain`.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private def plan(name: String): String =
    planOf(SparkEntry.queries(name)(spark, sf0001))

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: both predicates reach the parquet scan; scan reads only needed columns") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushdown in:\n$p")
    assert(p.contains("GreaterThan(l_quantity"), "range predicate must push")
    assert(!p.contains("l_comment"), "untouched wide column must be pruned")
  }

  test("q04: dimension joins broadcast — the fact table is never shuffled for dims") {
    val p = plan("q04_region_revenue")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3,
      s"expected >=3 broadcast joins for region/nation/customer dims in:\n$p")
  }

  test("q13: native TopKPerKey exec, no per-partition sort") {
    val p = plan("q13_window_rank")
    assert(p.contains("TopKPerKey"), "must plan through the custom exec")
    assert(!p.toLowerCase.contains("sort "), s"bounded heap needs no sort:\n$p")
  }

  test("map-only families plan with zero exchanges (t30 chunking, m34 tiling, q73 z-order)") {
    for (q <- Seq("t30_chunking", "m34_payload_tiles", "q73_zorder_key",
        "t44_pattern_scrub")) {
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q must stay map-only (no shuffle), plan was:\n$p")
    }
  }

  test("s33 broadcasts the query side: no shuffle of the corpus for the kNN probe") {
    // r21: s33 is the gt10 tier's build row, so the registry plan is
    // the served checkpoint read; pin the build shape on the tier body.
    val p = planOf(graft.queries.SimilarityOps.gt10Body(spark, sf0001))
    assert(p.contains("Broadcast"), s"query set must broadcast in:\n$p")
    SparkEntry.release(spark)
  }

  test("d35 prunes the lake pre-shuffle via a broadcast left-semi join") {
    val p = plan("d35_incremental_dedup")
    assert(p.contains("LeftSemi"), s"semi prefilter missing in:\n$p")
    assert(p.contains("Broadcast"), s"prefilter must broadcast in:\n$p")
    SparkEntry.release(spark)
  }

  test("d38: benchmark gram set broadcasts — the corpus side is probed map-side, never shuffled unfiltered") {
    val p = plan("d38_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      s"bench grams must broadcast in:\n$p")
  }

  test("d66 bloom decontamination: corpus grams tested map-side via the native probe — no corpus-side join against the benchmark bitmap") {
    val p = plan("d66_bloom_decontam")
    assert(p.contains("bloom_probe"),
      s"bloom membership must run through the native fused BloomProbe in:\n$p")
    // the exact ground-truth arm still broadcasts (d38's shape); the
    // bloom arm itself adds NO join — only doc/source/gram-keyed
    // exchanges may appear
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("doc_id", "source", "g", "gh")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bloom and exact arms must both stay keyed/broadcast:\n$p")
    SparkEntry.release(spark)
  }

  test("d67 bloom sizing sweep: all three arms probe in ONE corpus pass — three native probes, one scan of documents' corpus split") {
    val p = plan("d67_bloom_sizing_sweep")
    assert("bloom_probe".r.findAllMatchIn(p).size >= 3,
      s"the three arms must each probe natively in the same pass:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("doc_id", "g", "gh")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // the sweep must NOT scan the corpus once per ARM: documents
    // appears once for the corpus grams, once for the doc roster, and
    // once for the exact arm's benchmark split (the broadcast side) —
    // the three bitmap builds ran at BUILD time and add nothing here
    assert(p.split("FileScan").length - 1 == 3,
      s"expected grams + roster + benchmark scans only:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    SparkEntry.release(spark)
  }

  test("s71 graph ANN: bounded beam walk — every join keyed by node or query id, no cartesian product") {
    val p = plan("s71_graph_ann")
    assert(!p.contains("CartesianProduct"),
      s"the walk must never materialize a cross product:\n$p")
    // allowed keys: qid (beam windows + anti-join), nid (vector fetch),
    // src/dst (edge walk), vec_id/cid (the composed s47 graph build)
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("qid", "nid", "src", "dst", "vec_id", "cid")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("q70: stratified quota sample plans through the native TopKPerKey exec") {
    val p = plan("q70_stratified_sample")
    assert(p.contains("TopKPerKey"), s"must use the custom exec in:\n$p")
  }

  test("t38: per-source top spans plan through the native TopKPerKey exec, no sort") {
    val p = plan("t38_top_spans_per_source")
    assert(p.contains("TopKPerKey"), s"must use the custom exec in:\n$p")
    assert(!p.toLowerCase.contains("sort "), s"bounded heap needs no sort:\n$p")
  }

  test("t34 bm25: the 1-row stats aggregate broadcasts; the corpus is never shuffled for scoring") {
    val p = plan("t34_bm25")
    assert(p.contains("Broadcast"), s"stats must broadcast in:\n$p")
    // the only exchanges allowed are the stats aggregate's own
    // SinglePartition reduce + its broadcast — no corpus-wide
    // hashpartitioning exchange may appear
    assert(!p.contains("hashpartitioning"),
      s"corpus must not hash-shuffle for bm25 scoring, plan was:\n$p")
    SparkEntry.release(spark)
  }

  test("t35 quality filter: the verdict table is the built t35q tier — no parquet scan, no shuffle in the visible plan") {
    // r21 strengthening of the doc_id-keyed-shuffle pin: t35 is now
    // the BUILD row of the t35q verdict tier, so its heavy derivation
    // (tokenize, bigram explode, two doc_id aggregates, verdict join)
    // runs in eager index-build jobs at plan-construction time and the
    // visible plan is the served checkpoint read. The old assertion
    // (every exchange keyed by doc_id) still holds vacuously; the
    // stronger claim is that nothing scans parquet or shuffles at all.
    val p = plan("t35_quality_filter")
    assert(p.split("Scan parquet").length - 1 == 0,
      s"t35 must read its built tier, not re-scan the corpus:\n$p")
    assert(p.split("Scan ExistingRDD").length - 1 >= 1,
      s"t35 must serve the t35q checkpoint:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no shuffle may remain in t35's visible plan:\n$p")
    SparkEntry.release(spark)
  }

  test("t65 linear probe: scores the served t35q tier map-side — no parquet scan, only the split reduce shuffles") {
    // r21: t65's whole input is the served verdict tier; the frozen
    // probe is a map-side margin over five served doubles, so the only
    // exchange left is the 3-row split aggregate.
    val p = plan("t65_linear_probe")
    assert(p.split("Scan parquet").length - 1 == 0,
      s"t65 must read the served t35q tier, not re-scan the corpus:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("split")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("t36 perplexity: model joins keyed by bigram/context — the token text never widens a shuffle beyond its key") {
    val p = plan("t36_lm_perplexity")
    // the LM must ride the shuffle as equi-join keys (bg, w1) plus the
    // final doc_id reduce — no broadcast of the unbounded model, no
    // SinglePartition collapse of the corpus
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("bg", "w1", "doc_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("t37 dup spans: every shuffle is keyed by the 32-char digest or doc_id, never the token text") {
    val p = plan("t37_dup_span_fraction")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("span_md5", "doc_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("t40 novelty: every shuffle is keyed by the span digest or doc_id, like t37") {
    val p = plan("t40_ngram_novelty")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("span_md5", "doc_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("d42 dedup report: exchanges stay on vertex/cluster/doc keys plus the final source reduce") {
    val p = plan("d42_dedup_report")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(
      Set("doc_id", "cluster_rep", "node", "u", "source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("d64 substring dedup: map-side chunking, every exchange chunk-hash- or source-keyed — never all-pairs") {
    val p = plan("d64_substring_dedup")
    assert(p.contains("cdc_chunks"),
      s"chunking must run through the native expression in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    // r14: the token-level doc_id window exchange is gone — chunks
    // are born map-side, so only the cross-doc (chunk_md5) stages and
    // the (source) rollup shuffle
    assert(exchanges.subsetOf(Set("chunk_md5", "source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // r17: the distinct-doc count is a window over the SAME chunk_md5
    // partition as the rank, not a groupBy + self-join — so the
    // documents table is scanned (and chunked) exactly ONCE and the
    // chunk table crosses the wire exactly once
    assert(p.split("FileScan").length - 1 == 1,
      s"documents must be scanned exactly once in:\n$p")
    assert("Exchange hashpartitioning\\(chunk_md5".r.findAllMatchIn(p).size == 1,
      s"expected exactly one chunk_md5 exchange in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cross-doc matching must ride the chunk_md5 window:\n$p")
    SparkEntry.release(spark)
  }

  test("d53 fuzzy decontam: zero corpus scans — both orientations read the served scored-pair tier") {
    // r21 strengthening of the r20 served-index audit: d53 now SERVES
    // the scored capped candidate tier (sc50 — d33 is its build row),
    // so not just the corpus scan but the ENTIRE candidate machinery
    // (explode, df cap, self-join, array confirm) is absent from the
    // plan, having run once at index-build time. What remains is the
    // pair-table read (both union orientations), the doc-level split
    // filters and the per-train-doc aggregate — no parquet scan, no
    // per-query cache.
    val p = plan("d53_fuzzy_decontam")
    assert(p.split("Scan parquet").length - 1 == 0,
      s"no bare corpus scan may exist in any d53 branch:\n$p")
    assert(p.split("Scan ExistingRDD").length - 1 >= 2,
      s"both orientations must read the served scored-pair tier:\n$p")
    assert(!p.contains("array_intersect"),
      s"the exact confirm must be served, not recomputed:\n$p")
    SparkEntry.release(spark)
  }

  test("d35 incremental dedup: only the pruned-max scan touches parquet — the corpus rides the served posting tier") {
    // r21 shape: d35 serves the exploded posting-list index (the
    // is_new mark is a broadcast-scalar projection over its resident
    // blocks) and scores pairs by inclusion-exclusion COUNTING — the
    // candidate join's per-pair match count is provably the exact
    // full-set intersection (see IncrementalDedup.pairsFrom), so no
    // shingle ARRAY ever moves through a join and no per-query persist
    // exists. The only parquet touch is the max(doc_id) threshold
    // scan, column-pruned to doc_id. That broadcast-scalar subtree is
    // textually duplicated wherever the marked posting stream is
    // referenced (ReuseExchange collapses the copies at runtime), so
    // the pin is: EVERY parquet scan is the doc_id-pruned threshold
    // scan — the corpus text is never read.
    val p = plan("d35_incremental_dedup")
    val scans = p.split("Scan parquet").length - 1
    // the semi-join branch's copy drops even doc_id (is_new is unused
    // there), leaving a zero-column metadata scan — struct<>
    val prunedScans =
      p.split("ReadSchema: struct<doc_id:bigint>").length - 1 +
        p.split("ReadSchema: struct<>").length - 1
    assert(scans >= 1 && scans == prunedScans,
      s"every parquet scan must be a threshold-subtree scan pruned to " +
        s"doc_id or nothing ($scans scans, $prunedScans pruned):\n$p")
    assert(p.split("Scan ExistingRDD").length - 1 >= 3,
      s"candidate + size branches must read the served indexes:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"the threshold scan must prune to doc_id only:\n$p")
    assert(!p.contains("array_intersect"),
      s"the confirm must ride inclusion-exclusion counts, not arrays:\n$p")
    SparkEntry.release(spark)
  }

  test("d65 gear substring dedup: clamped map-side chunking, exchanges chunk-hash- or source-keyed only") {
    val p = plan("d65_gear_substring_dedup")
    assert(p.contains("gear_chunks_clamped"),
      s"chunking must run through the clamped native expression in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("chunk_md5", "source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // r17 single-scan shape, same pins as d64
    assert(p.split("FileScan").length - 1 == 1,
      s"documents must be scanned exactly once in:\n$p")
    assert("Exchange hashpartitioning\\(chunk_md5".r.findAllMatchIn(p).size == 1,
      s"expected exactly one chunk_md5 exchange in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cross-doc matching must ride the chunk_md5 window:\n$p")
    SparkEntry.release(spark)
  }

  test("m51 payload cdc: linear map-side kernel — only the source rollup shuffles, no window, no tile explode") {
    val p = plan("m51_payload_cdc")
    assert(p.contains("cdc_payload_chunks"),
      s"chunking must run through the linear native kernel in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(!p.contains("Window"),
      s"no per-doc window may appear:\n$p")
    SparkEntry.release(spark)
  }

  test("m52 gear cdc: map-side byte-rolling chunker — only the chunk-hash window and source rollup shuffle") {
    val p = plan("m52_gear_cdc")
    assert(p.contains("gear_chunks"),
      s"chunking must run through the native gear kernel in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("chunk_md5", "source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"first-occurrence accounting must ride the chunk_md5 window:\n$p")
    SparkEntry.release(spark)
  }

  test("m36 asset similarity: every shuffle is keyed by the tile digest or asset ids, never payload bytes") {
    val p = plan("m36_asset_similarity")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("doc_id", "tile_md5", "ia", "ib")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("q80 transitions: the log shuffles once by user_id; the probability window runs over the tiny type-pair aggregate") {
    val p = plan("q80_event_transitions")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("user_id", "event_type")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("t41 zipf: every shuffle is keyed by source — count reduce, rank window, and slope aggregate share the clustering") {
    val p = plan("t41_zipf_slope")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q81 winsorize: rank-based bounds broadcast; the value rank is block-distributed, never one sort task per event_type") {
    val p = plan("q81_winsorize")
    assert(p.contains("Broadcast"), s"bounds must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("event_type")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // the corpus-width value window must carry the block key — a bare
    // (event_type, value ASC) spec is the 5-task-per-pass shape
    assert("windowspecdefinition\\(event_type#\\d+, __blk#\\d+L?, value#\\d+ ASC".r
      .findFirstIn(p).isDefined, s"value rank must block-partition:\n$p")
    assert("windowspecdefinition\\(event_type#\\d+, value#\\d+ ASC".r
      .findFirstIn(p).isEmpty,
      s"one-task-per-event_type value sort must not appear:\n$p")
  }

  test("q82 ri audit: all four relationships check through broadcast anti joins") {
    val p = plan("q82_ri_audit")
    assert(p.split("LeftAnti").length - 1 >= 4,
      s"expected 4 anti joins in:\n$p")
    assert(p.contains("Broadcast"), s"parent key sides must broadcast in:\n$p")
  }

  test("d43 signal agreement: cosine runs only over the bounded d28 pair set — shuffles stay on shingle/id keys") {
    val p = plan("d43_signal_agreement")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("sv", "ia", "ib", "doc_id", "vec_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("q83 fuzzy match: candidates come only from equal-brand blocks — every shuffle keyed by the block key") {
    val p = plan("q83_fuzzy_match")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("p_brand", "bb")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q84 incremental rollup: both partials and the merge shuffle only on the rollup key; the cutoff broadcasts") {
    val p = plan("q84_incremental_rollup")
    assert(p.contains("Broadcast"), s"cutoff must broadcast in:\n$p")
    // date_trunc appears as _groupingexpression in the exchange keys
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("hour", "_groupingexpression")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("s46 radius search: query set broadcasts, corpus scans once — zero hash exchanges") {
    val p = plan("s46_radius_search")
    assert(p.contains("Broadcast"), s"query set must broadcast in:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"radius search must be map-only over the corpus:\n$p")
  }

  test("d44 clean corpus: the three-gate composition adds no new shuffle shape — every exchange keyed by doc/cluster/vertex ids") {
    val df = SparkEntry.queries("d44_clean_corpus")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    // gh is d38's gram-hash distinct inside its broadcast build side
    assert(exchanges.subsetOf(Set("doc_id", "cluster_rep", "node", "u", "gh")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // every gate family must actually fire on the corpus — a vacuous
    // composition (all keep, or one gate shadowing the rest) fails here
    val decisions = df.groupBy("decision").count().collect()
      .map(_.getString(0)).toSet
    assert(Set("keep", "drop_duplicate", "drop_contaminated")
      .subsetOf(decisions),
      s"expected all three gate families in $decisions")
    assert(decisions.exists(x => x.startsWith("drop_") &&
      x != "drop_duplicate" && x != "drop_contaminated"),
      s"expected at least one quality-rule drop in $decisions")
    SparkEntry.release(spark)
  }

  test("t48/t49/q99: corpus rank/cumsum windows are block-distributed, never one task per group") {
    for ((q, part, blk) <- Seq(("t48_perplexity_buckets", "lang", "__blk"),
        ("t49_weighted_median", "source", "blk"),
        ("q99_exact_quantiles", "event_type", "__blk"))) {
      val p = plan(q)
      // the per-row window must partition by (group, block): the block
      // col appears as a PARTITION column (followed by a comma), not
      // merely as the tiny offset aggregate's ORDER col (followed by
      // ASC) — a bare one-task-per-group corpus window dies at 100 TB
      assert((s"windowspecdefinition\\($part#\\d+, $blk#\\d+L?,").r
        .findFirstIn(p).isDefined,
        s"$q corpus window must include the block partition key:\n$p")
    }
    SparkEntry.release(spark)
  }

  test("s52 filtered ANN: label rides in the candidate join key and the top-3 uses the native heap") {
    val p = plan("s52_filtered_ann")
    assert(p.contains("Broadcast"), s"query side must broadcast:\n$p")
    assert(p.contains("TopKPerKey"), "top-3 must use the native bounded heap")
    // post-hoc filtering would keep label out of the join condition
    assert("BroadcastHashJoin \\[[^\\]]*label#\\d+".r.findFirstIn(p).isDefined,
      s"label must be part of the equi-join keys:\n$p")
    SparkEntry.release(spark)
  }

  test("d51 semdedup: every exchange keys on cell/vec ids — pairwise work stays cell-bounded") {
    val p = plan("d51_semdedup")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("cid", "cidb", "vec_id", "ib")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("q85 sorted-neighborhood: equi-join on (brand, rank) — bounded 20x fan-out, shuffles keyed by the block key") {
    val p = plan("q85_fuzzy_neighborhood")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("p_brand", "bb")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // the neighborhood rank must be the DISTRIBUTED rendering: its
    // row_number window partitions by (p_brand, __blk), never by bare
    // p_brand (one sort task per brand — 25 forever on part)
    assert("windowspecdefinition\\(p_brand#\\d+, __blk#\\d+, p_name".r
      .findFirstIn(p).isDefined, s"rank must block-partition:\n$p")
    assert("windowspecdefinition\\(p_brand#\\d+, p_name".r
      .findFirstIn(p).isEmpty,
      s"one-task-per-brand rank sort must not appear:\n$p")
  }

  test("q85 pairs are a subset of the q83 exact baseline, with full recall on small blocks") {
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sf0001)
        .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q83_fuzzy_match")
    val neigh = pairs("q85_fuzzy_neighborhood")
    assert(neigh.subsetOf(exact),
      "every neighborhood pair must also be an exact-block pair")
    // sf0.001 blocks (~8 parts) fit inside the w=20 window entirely
    assert(neigh == exact,
      s"expected full recall at sf0.001: ${neigh.size} vs ${exact.size}")
  }

  test("q83 is bucket-count invariant: the triangle decomposition returns the same rows at any S") {
    def rows(buckets: Option[String]) = {
      buckets.foreach(b => spark.conf.set("spark.graft.fuzzy.buckets", b))
      try SparkEntry.queries("q83_fuzzy_match")(spark, sf0001)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      finally buckets.foreach(_ =>
        spark.conf.unset("spark.graft.fuzzy.buckets"))
    }
    val default = rows(None)
    assert(default.nonEmpty)
    // S=1 degenerates to the plain block square (one cell per brand);
    // S=3 exercises uneven replication — both must return the exact
    // same pair set (pairs don't care which cell they land in)
    assert(rows(Some("1")) == default, "S=1 must equal the default")
    assert(rows(Some("3")) == default, "S=3 must equal the default")
    SparkEntry.release(spark)
  }

  test("q86 mad outliers: both median passes broadcast; every corpus rank window is block-distributed") {
    val p = plan("q86_mad_outliers")
    assert(p.contains("Broadcast"), s"median/MAD must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("event_type")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // both rank-median passes (value, then adev) must carry the block
    // key in their cumsum windows — a bare (event_type, v ASC) spec
    // would sort the whole corpus in 5 tasks
    for (v <- Seq("value", "adev")) {
      assert(s"windowspecdefinition\\(event_type#\\d+, __blk#\\d+L?, $v#\\d+ ASC".r
        .findFirstIn(p).isDefined, s"$v rank must block-partition:\n$p")
      assert(s"windowspecdefinition\\(event_type#\\d+, $v#\\d+ ASC".r
        .findFirstIn(p).isEmpty,
        s"one-task-per-event_type $v sort must not appear:\n$p")
    }
  }

  test("m37 payload entropy: zero exchanges — the 16-symbol histogram is computed map-side, no nibble explode") {
    val p = plan("m37_payload_entropy")
    assert(!p.contains("Exchange"),
      s"m37 must stay map-only (no shuffle), plan was:\n$p")
    assert(!p.toLowerCase.contains("explode"),
      s"no per-nibble row expansion allowed:\n$p")
  }

  test("m38 tile entropy: zero exchanges — tiles explode map-side, histograms stay in-row") {
    val p = plan("m38_tile_entropy")
    assert(!p.contains("Exchange"),
      s"m38 must stay map-only (no shuffle), plan was:\n$p")
  }

  test("q91 table profile: all 11 measures fuse into ONE scan of the fact table") {
    val p = plan("q91_table_profile")
    assert(p.split("FileScan").length - 1 == 1,
      s"profiling must not re-scan per column:\n$p")
  }

  test("t45 vocab growth: the cumulative window is block-distributed, never one task per source") {
    val p = plan("t45_vocab_growth")
    assert("windowspecdefinition\\(source#\\d+, blk#\\d+L?, ckpt#\\d+L? ASC".r
      .findFirstIn(p).isDefined, s"cumsum must block-partition:\n$p")
    assert("windowspecdefinition\\(source#\\d+, ckpt#\\d+L? ASC".r
      .findFirstIn(p).isEmpty,
      s"one-task-per-source cumsum must not appear:\n$p")
  }

  test("q94 attribution: one user-keyed exchange, event-type filter pushed to the scan") {
    val p = plan("q94_last_touch_attribution")
    assert(p.contains("PushedFilters: [In(event_type"),
      s"the two-type slice must reach the scan:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllMatchIn(p).size == 1,
      s"the log must shuffle exactly once, keyed by user:\n$p")
    assert(!p.contains("Join"), s"attribution is a window, not a join:\n$p")
  }

  test("t47 boilerplate: top-20 via distributed TakeOrdered, broadcast back — no global sort") {
    val p = plan("t47_boilerplate_density")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a distributed TakeOrdered:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 20-row top table must broadcast:\n$p")
    assert(!p.contains("Sort [n#"), s"no global sort of the gram counts:\n$p")
  }

  test("m40 drift: ONE corpus scan — the fleet total reads the persisted per-source table") {
    val p = plan("m40_source_drift")
    assert(p.split("InMemoryTableScan").length - 1 >= 2,
      s"both branches must read the cached per-source rollup:\n$p")
    // every parquet-scan mention sits inside an InMemoryRelation build
    // plan (printed once per cached branch) — no UNCACHED corpus scan:
    // a bare scan branch would make parquet mentions exceed cache blocks
    assert(p.split("Scan parquet").length <= p.split("InMemoryRelation").length,
      s"an uncached corpus scan slipped into a branch:\n$p")
    SparkEntry.release(spark)
  }

  test("q90 KMV sketch: k-smallest selection through the native TopKPerKey exec, no per-group sort") {
    val p = plan("q90_kmv_distinct")
    assert(p.contains("TopKPerKey"), s"must plan through the custom exec:\n$p")
    assert(!p.toLowerCase.contains("sort "), s"bounded heap needs no sort:\n$p")
  }

  test("s50 two-stage rerank: both funnel stages rank through the native TopKPerKey exec") {
    val p = plan("s50_two_stage_rerank")
    assert(p.split("TopKPerKey").length - 1 >= 2,
      s"both stages must use the bounded heap:\n$p")
    SparkEntry.release(spark)
  }

  test("s49 cell stats: one cid aggregate; the 1-row total broadcasts") {
    val p = plan("s49_ivf_cell_stats")
    assert(p.contains("Broadcast"), s"total must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("cid", "vec_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("q87 period-over-period: orders shuffle once on the week key; the lag window runs over the tiny weekly aggregate") {
    val p = plan("q87_period_over_period")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("week", "_groupingexpression")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(p.split("Exchange SinglePartition").length - 1 <= 1,
      s"only the weeks-aggregate lag window may single-partition:\n$p")
  }

  test("t43 keywords: ranked through the native TopKPerKey bounded-heap exec") {
    val p = plan("t43_keywords")
    assert(p.contains("TopKPerKey"), s"must plan through the custom exec:\n$p")
    // t43 persists the doc-frequency stage — drop it so later plan
    // tests never see an InMemoryRelation in place of an exchange
    SparkEntry.release(spark)
  }

  test("q88 streaks: rank-difference islands stay partitioned by user_id — no global sort") {
    val p = plan("q88_activity_streaks")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("user_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort in the streak build:\n$p")
  }

  test("s47 knn graph: cell-bounded candidates, ranked through the native TopKPerKey exec") {
    val p = plan("s47_knn_graph")
    assert(p.contains("TopKPerKey"), s"must plan through the custom exec:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("vec_id", "cid", "ncid")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    // s47 persists its cell assignment — release like the d41/d42/m36
    // tests so later plan-shape assertions stay order-independent
    SparkEntry.release(spark)
  }

  test("q74 scd2: the event log shuffles ONCE by user_id — both windows reuse the same clustering") {
    val p = plan("q74_scd2_intervals")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges === List("user_id"),
      s"expected exactly one user_id exchange, got $exchanges in:\n$p")
  }

  test("q75/q76 event analytics: every shuffle is keyed by user_id or the final cohort cell") {
    for ((q, allowed) <- Seq(
      "q75_funnel_stages" -> Set("user_id"),
      "q76_cohort_retention" -> Set("user_id", "cohort_week"))) {
      val p = plan(q)
      val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(exchanges.subsetOf(allowed),
        s"$q: unexpected shuffle keys $exchanges in:\n$p")
    }
  }

  test("q78 sessionize: the event log shuffles ONCE by user_id — flag window, cumsum window, and session aggregate all reuse the clustering") {
    val p = plan("q78_sessionize")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges === List("user_id"),
      s"expected exactly one user_id exchange, got $exchanges in:\n$p")
  }

  test("q79 merge upsert: every shuffle is keyed by user_id; the cutoff stat broadcasts") {
    val p = plan("q79_merge_upsert")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("user_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(p.contains("Broadcast"), s"cutoff must broadcast in:\n$p")
  }

  test("t39 kl drift: vocab selects through distributed top-k and broadcasts; token stream shuffles only on its natural keys") {
    val p = plan("t39_unigram_kl")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab must select via distributed top-k, not a global sort:\n$p")
    assert(p.contains("Broadcast"), s"vocab/corpus-total must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("token", "source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("d41 canonical keep-list: every exchange is keyed by a vertex/cluster id — no global sort, no unkeyed shuffle") {
    val p = plan("d41_canonical_docs")
    // node/u are the star-CC label-resolution join keys (the CC body
    // itself is materialized behind localCheckpoint); doc_id/cluster_rep
    // are the keep-list's own joins
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("doc_id", "cluster_rep", "node", "u")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort in the keep-list build:\n$p")
    SparkEntry.release(spark)
  }

  test("s44 hybrid rrf: both arms take their top-50 through distributed TakeOrderedAndProject") {
    val p = plan("s44_hybrid_rrf")
    assert(p.split("TakeOrderedAndProject").length - 1 >= 2,
      s"both ranking arms must use distributed top-k, plan was:\n$p")
    SparkEntry.release(spark)
  }

  test("t31 packing: block-offset table broadcasts; no global single-partition window over the corpus") {
    val df = SparkEntry.queries("t31_seq_packing")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), s"offsets must broadcast in:\n$p")
    // the only SinglePartition exchange allowed is the tiny block-totals
    // side (#blocks rows), which feeds a Window then the broadcast —
    // the corpus-side window must partition by blk
    assert(p.contains("hashpartitioning(blk"),
      s"corpus window must partition by block in:\n$p")
  }

  test("m42 batch packing: per-asset cumsum windows partition by (size_class, blk); offsets broadcast") {
    val p = plan("m42_batch_packing")
    assert(p.contains("hashpartitioning(size_class"),
      s"asset-side window must partition by (class, block) in:\n$p")
    assert(p.contains("Broadcast"), s"offsets must broadcast in:\n$p")
  }

  test("q102 skew report: top-10 through TakeOrdered; per-key rank windows partition by block") {
    val p = plan("q102_skew_report")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must use the bounded heap in:\n$p")
    assert(p.contains("hashpartitioning(__blk"),
      s"per-key rank must partition by block in:\n$p")
  }

  test("q101 DSIR: the bucket model broadcasts back onto per-doc counts — the corpus never joins shuffled") {
    val p = plan("q101_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"log-ratio table must broadcast in:\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"per-doc counts must shuffle on doc_id in:\n$p")
  }

  test("q105 retention cohorts: the event log shuffles only on user_id and the final cohort cell") {
    val p = plan("q105_retention_cohorts")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    // `cw` is the cohort week pre-alias (the distinct-count rewrite
    // keys its two aggregate exchanges by the cell + user)
    assert(exchanges.subsetOf(Set("user_id", "cw")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("t52 fertility: map-only per doc into the single per-lang reduce") {
    val p = plan("t52_tokenizer_fertility")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges === Set("lang"),
      s"expected only the lang partial-agg exchange, got $exchanges in:\n$p")
  }

  test("t53 KS drift: the corpus shuffles only on its natural grid keys; the source-count side broadcasts") {
    val p = plan("t53_length_ks")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("source", "n_chars")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(p.contains("Broadcast"),
      s"the per-source count table must broadcast in:\n$p")
  }

  test("q111 anomalies: per-type moments broadcast back onto hourly rows — the rollup never re-shuffles for the join") {
    val p = plan("q111_hourly_anomalies")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-row moment table must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("event_type")),
      s"only event_type-keyed shuffles expected, got $exchanges in:\n$p")
  }

  test("t56 gopher rules: pure map — zero exchanges, one documents scan") {
    val p = plan("t56_gopher_rules")
    assert(!p.contains("Exchange"), s"rule screen must not shuffle:\n$p")
  }

  test("q110 shard manifest: map-side assignment into a 16-row partial agg; the token total broadcasts") {
    val p = plan("q110_shard_manifest")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("shard")),
      s"only the shard partial-agg shuffle expected, got $exchanges in:\n$p")
    assert(p.contains("Broadcast"),
      s"the 1-row token total must broadcast in:\n$p")
  }

  test("q116 watermark audit: running max partitions by block; the prefix table broadcasts") {
    val p = plan("q116_watermark_audit")
    assert(p.contains("hashpartitioning(__blk"),
      s"corpus running-max window must partition by block in:\n$p")
    assert(p.contains("Broadcast"),
      s"the #blocks prefix table must broadcast in:\n$p")
  }

  test("q114 ab z-test: one user-keyed shuffle, then 2-row and 1-row aggregates") {
    val p = plan("q114_ab_ztest")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("user_id", "arm")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("s60 mips: queries and the norm bound broadcast; scoring joins are never shuffled; top-k is the native heap") {
    val p = plan("s60_mips_topk")
    assert(p.contains("TopKPerKey"), s"must plan the bounded-heap exec in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side scoring must not sort-merge:\n$p")
    assert(p.split("BroadcastNestedLoopJoin|BroadcastHashJoin").length - 1 >= 2,
      s"query set + norm bound must broadcast in:\n$p")
  }

  test("t59 span scrub: every shuffle is digest-, doc- or source-keyed — no unkeyed repartition of the span stream") {
    val p = plan("t59_span_scrub")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("span_md5", "doc_id", "p", "source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    SparkEntry.release(spark)
  }

  test("q123 trend test: the pair join runs over the daily aggregate, keyed by event type — never the corpus") {
    val p = plan("q123_trend_test")
    // both join inputs must be aggregates: the HashAggregate pair
    // below the join proves the corpus reduced to (type, day) first
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0 || p.contains("BroadcastHashJoin"),
      s"pair join missing in:\n$p")
    assert(p.split("HashAggregate").length - 1 >= 4,
      s"daily aggregation must precede the pair join in:\n$p")
  }

  test("s62 pq sweep: codebooks are literals — three map-only arms, no shuffle except the 1-row aggs") {
    val p = plan("s62_pq_budget_sweep")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no keyed shuffle expected (1-row aggs go through single partition):\n$p")
    SparkEntry.release(spark)
  }

  test("q128 interarrival: the corpus lag window partitions by (type, block), never by type alone") {
    val p = plan("q128_interarrival")
    assert(p.contains("hashpartitioning(event_type") &&
      p.contains("blk"),
      s"within-block window must partition on the hour block in:\n$p")
  }

  test("t61 oov: vocab membership is a broadcast join over a TakeOrdered top-k — no second corpus shuffle") {
    val p = plan("t61_oov_rate")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-K must be a distributed partial take in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"membership must broadcast in:\n$p")
  }

  test("t60 cdc: chunking is map-side (cdc_chunks expression) — only the source rollup shuffles") {
    val p = plan("t60_cdc_chunks")
    assert(p.contains("cdc_chunks"),
      s"chunking must run through the native expression in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    // the r13 form exchanged EVERY TOKEN ROW on doc_id for the
    // prefix-sum window; the map-side kernel eliminated that — only
    // the (source[, chunk_md5]) rollup keys may shuffle now
    assert(exchanges.subsetOf(Set("source")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(!p.contains("Window"),
      s"no prefix-sum window may remain in:\n$p")
  }

  test("q133 contribution cap: the kept set runs through the native bounded heap, never a per-user sort") {
    val p = plan("q133_user_event_cap")
    assert(p.contains("TopKPerKey"),
      s"cap must use the native heap operator in:\n$p")
    assert(!p.contains("Sort ["),
      s"no per-user sort may appear in:\n$p")
  }

  test("q135 heavy hitters: the sketch grid and the exact twin shuffle only on their own keys; top-20 is a distributed take") {
    val p = plan("q135_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a distributed partial take in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1024-cell grid must broadcast onto the probes in:\n$p")
  }

  // r21: s65/s67 are BUILD rows of the s65r/s67r recall tiers, so the
  // registry plan is the served checkpoint read; pin the BUILD shape
  // on the tier body, the full search the tier build runs.
  test("s65 sq8 recall: the approx arm scores map-side against broadcast queries and ranks in the native heap") {
    val p = planOf(graft.queries.SimilarityOps.sq8RecallBody(spark, sf0001))
    assert(p.contains("TopKPerKey"),
      s"top-10 must be the native heap in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 10 queries must broadcast in:\n$p")
    SparkEntry.release(spark)
  }

  test("s67 hamming recall: the Hamming arm broadcasts the queries and ranks in the native heap") {
    val p = planOf(
      graft.queries.SimilarityOps.hammingRecallBody(spark, sf0001))
    assert(p.contains("TopKPerKey"),
      s"top-10 must be the native heap in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 10 queries must broadcast in:\n$p")
    SparkEntry.release(spark)
  }

  test("q142 basket lift: the pair stage shuffles by order key and the dims broadcast; top-20 is a distributed take") {
    val p = plan("q142_basket_lift")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a distributed partial take in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("ok", "okb", "brand", "brand_a", "brand_b")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("t63 BPE merge step: corpus collapses to the word table first and top-20 is a distributed take") {
    val p = plan("t63_bpe_merge_step")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a distributed partial take in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("w", "pair")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("t62 burstiness: every shuffle is token- or doc-keyed and the vocab broadcasts back") {
    val p = plan("t62_token_burstiness")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("token", "doc_id")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 50-token vocab must broadcast in:\n$p")
  }

  test("q143 EWMA: one corpus aggregate, then the calendar-bounded join over the tiny daily frame") {
    val p = plan("q143_ewma_forecast")
    // the corpus shuffles once for the (type, day) aggregate; the
    // self-join of that aggregate broadcasts one side (AQE or static)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"daily-frame self-join must broadcast in:\n$p")
  }

  test("q156: every shuffle is partkey-keyed and the part dim broadcasts") {
    val p = plan("q156_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("l_partkey", "pk", "p_brand")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q158: one orderkey exchange feeds profile, join and filter; orders and supplier dims broadcast") {
    // r21 strengthening: the old two-consumer persist is gone (an
    // AQE-compiled InMemoryRelation hides partitioning and forced two
    // re-shuffles); both consumers now share ONE canonical l_orderkey
    // exchange, so the only shuffle keys left are the orderkey
    // clustering and the final supplier rollup.
    val p = plan("q158_sole_late_supplier")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"orders and supplier dims must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("l_orderkey", "s_suppkey")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q159: part screen and supplier dim broadcast; the one fact shuffle is (part, supplier)-keyed") {
    val p = plan("q159_excess_stock")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"part screen and supplier dim must both broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("l_partkey", "pk", "s_suppkey", "sk")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q160: the quarter predicate reaches the scan; max and supplier dim broadcast") {
    val p = plan("q160_top_quarter_supplier")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"quarter slice must push to the scan in:\n$p")
    // Catalyst turns the = max(view) equality into a broadcast EQUI
    // join on the revenue value itself (not a nested-loop) — both the
    // 1-row max and the supplier dim broadcast-hash
    assert(p.split("BroadcastHashJoin").length - 1 >= 2
      && !p.contains("CartesianProduct"),
      s"1-row max and supplier dim must broadcast-hash in:\n$p")
  }

  test("q161: the churn NOT EXISTS plans as one anti join; nation dim broadcasts") {
    val p = plan("q161_churned_customers")
    assert(p.contains("LeftAnti"), s"windowed NOT EXISTS must be anti join in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation dim must broadcast in:\n$p")
  }

  test("q162: nation supplier list broadcasts into the fact scan; the value agg shuffles on partkey") {
    val p = plan("q162_important_parts")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"nation and supplier-list joins must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("l_partkey")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q163: the overlap count never materializes a pair and the sweep window is block-decomposed") {
    val p = plan("q163_inflight_overlap")
    assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      s"the pair count must stay a sweep, not a theta self-join, in:\n$p")
    // the corpus-sized sweep partitions by (sk, __blk); a window whose
    // spec is (sk, t ...) would be the one-task-per-supplier rendering
    assert("windowspecdefinition\\(sk#\\d+L?, __blk#\\d+".r
      .findFirstIn(p).isDefined,
      s"sweep window must partition by (sk, year block) in:\n$p")
    assert("windowspecdefinition\\(sk#\\d+L?, t#\\d+".r
      .findFirstIn(p).isEmpty,
      s"corpus sweep must not partition by supplier alone in:\n$p")
  }

  test("q164: the correlated EXISTS plans as one semi join and the quarter filter reaches the orders scan") {
    val p = plan("q164_priority_late_orders")
    assert(p.contains("LeftSemi"),
      s"EXISTS must decorrelate to a semi join in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"quarter predicate must push to the orders scan in:\n$p")
    assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      s"the date residual must ride the equi semi join in:\n$p")
  }

  test("q165: the whole disjunction runs in ONE broadcast-join scan pass — no per-band re-read") {
    val p = plan("q165_disjunctive_bands")
    assert(p.split("lineitem\\.parquet").length - 1 <= 1,
      s"the three bands must share a single lineitem scan in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim must broadcast in:\n$p")
    assert(!p.contains("Union"),
      s"band split must be conditional agg + stack, not a scan union:\n$p")
  }

  test("q166: the fact collapses per-custkey BEFORE the customer outer join; priority filter reaches the scan") {
    val p = plan("q166_order_count_distribution")
    assert(p.contains("LeftOuter"),
      s"zero-order customers need the outer join in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority)")
      || p.contains("EqualTo(o_orderpriority"),
      s"priority predicate must push to the orders scan in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("o_custkey", "c_custkey", "c_count")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q167: supplier-nation map broadcasts and prunes lineitem before the fact shuffles") {
    val p = plan("q167_nation_trade_flows")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"supplier-nation and customer-nation maps must broadcast in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("l_orderkey", "o_orderkey",
      "o_custkey", "c_custkey", "supp_nation")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q168: promo share is one fact pass — year slice pushed, part broadcast, one month shuffle") {
    val p = plan("q168_promo_share")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"year slice must push to the scan in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim must broadcast in:\n$p")
    assert(p.split("lineitem\\.parquet").length - 1 <= 1,
      s"numerator and denominator must share one scan in:\n$p")
    // the month key aggregates as an inline _groupingexpression —
    // either name is the same single month-keyed shuffle
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("ship_month", "_groupingexpression")),
      s"unexpected shuffle keys $exchanges in:\n$p")
    assert(exchanges.size === 1, s"one shuffle only, got $exchanges in:\n$p")
  }

  test("q169: region membership and target flag both ride broadcast maps; semi join keeps the fact narrow") {
    val p = plan("q169_market_share")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"supplier-flag and region-nation maps must broadcast in:\n$p")
    assert(p.contains("LeftSemi"),
      s"region membership must be a semi join in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no product in:\n$p")
  }

  test("q170: both fact predicates push to their scans and the top-20 rides a distributed partial take") {
    val p = plan("q170_returned_top_customers")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be a distributed partial take in:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag must push to the lineitem scan in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"half-year slice must push to the orders scan in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"nation dim must broadcast in:\n$p")
  }

  test("q171: segment set broadcasts as a semi join, both date predicates push, top-10 is a partial take") {
    val p = plan("q171_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-10 cut must be a distributed partial take in:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"),
      s"ship-date predicate must push to the lineitem scan in:\n$p")
    assert(p.contains("LessThan(o_orderdate"),
      s"order-date predicate must push to the orders scan in:\n$p")
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"),
      s"segment membership must ride a broadcast semi join in:\n$p")
  }

  test("q172: region/supplier maps broadcast; the only fact shuffles are orderkey/custkey-sided") {
    val p = plan("q172_local_supplier_volume")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"region-nation and supplier maps must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      s"same-nation residual must ride the equi join in:\n$p")
    val exchanges = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("l_orderkey", "o_orderkey",
      "o_custkey", "c_custkey", "n_name")),
      s"unexpected shuffle keys $exchanges in:\n$p")
  }

  test("q173: all three Q6 range predicates reach the parquet scan; no join; 4-column ReadSchema") {
    // six pushed filters overflow the default 100-char metadata render
    // and the later predicates would vanish behind "..." — widen it
    // for this pin only
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val p = try plan("q173_forecast_revenue")
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert(p.contains("GreaterThanOrEqual(l_shipdate")
      && p.contains("LessThan(l_shipdate"),
      s"ship-year band must push to the scan in:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount")
      && p.contains("LessThanOrEqual(l_discount"),
      s"discount band must push to the scan in:\n$p")
    assert(p.contains("LessThan(l_quantity"),
      s"quantity cap must push to the scan in:\n$p")
    assert(!p.contains("Join"), s"Q6 is a pure scan-agg — no join in:\n$p")
    // the scan must read ONLY the four touched columns
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = readSchema.split(",").map(_.split(":").head.trim).toSet
    assert(cols === Set("l_quantity", "l_extendedprice", "l_discount",
      "l_shipdate"), s"scan must be pruned to the 4 touched columns, " +
      s"got $cols in:\n$p")
  }

  test("m50 phash: candidates come only from the band equi-join — no product anywhere") {
    val p = plan("m50_phash_neardup")
    assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidate generation must stay an equi-join in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"band join missing in:\n$p")
  }
}
