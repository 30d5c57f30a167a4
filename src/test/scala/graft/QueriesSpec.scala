package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs on sf0.001; spot-checks against golden
  * values computed independently (DuckDB) from the fixed corpus. */
class QueriesSpec extends AnyFunSuite with SparkTestBase {
  import graft.queries.BuiltIndexMemo

  /** Checkpoint RDD ids of this session's published tiers of `kinds`. */
  private def pinnedOf(kinds: Set[String]): Set[Int] =
    BuiltIndexMemo.pinned(spark).collect { case (k, id) if kinds(k) => id }
      .toSet
  private val graphTiers = Set("nnd0", "nnd1")
  private val dedupTiers =
    Set("sh3", "exh", "ex50", "sc50", "nd08", "d41k", "d44v")
  private val textTiers = Set("t36p", "sp8", "t35q")
  private val evalTiers =
    Set("gt10", "s37p", "s40p", "s42p", "s43p", "s65r", "s67r")

  test("every query in the registry has either an oracle or a documented rows-only reason") {
    val rowsOnly = SparkEntry.rowsOnly // single source of truth; Verify warns on drift at runtime
    val declared = SparkEntry.queries.keySet
    val withOracle = SparkEntry.oracleSql.keySet
    assert(withOracle.subsetOf(declared))
    assert(declared -- withOracle == rowsOnly,
      "every new query needs an oracleSql entry or an explicit rows-only listing here")
  }

  test("all queries execute on sf0.001 and return a schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q08 distinct counts match golden values") {
    val row = SparkEntry.queries("q08_distinct_counts")(spark, sf0001).head()
    assert(row.getLong(row.fieldIndex("n_orders")) === 1473L)
    assert(row.getLong(row.fieldIndex("n_parts")) === 200L)
    assert(row.getLong(row.fieldIndex("n_supps")) === 10L)
    assert(row.getLong(row.fieldIndex("n_flags")) === 3L)
    assert(row.getLong(row.fieldIndex("n_rows")) === 6000L)
  }

  test("q07 top order matches golden value with deterministic tie-break") {
    val top = SparkEntry.queries("q07_topk_orders")(spark, sf0001).head()
    assert(top.getLong(top.fieldIndex("o_orderkey")) === 988L)
    assert(top.getDouble(top.fieldIndex("o_totalprice")) === 499705.05)
  }

  test("q01 group counts sum to the filtered lineitem row count") {
    import org.apache.spark.sql.functions._
    val total = SparkEntry.queries("q01_pricing_summary")(spark, sf0001)
      .agg(sum(col("count_order"))).head().getLong(0)
    val expected = Tables.t(spark, sf0001, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .count()
    assert(total === expected)
    assert(total > 5000L)
  }

  test("s40 trained-IVF nprobe=2 recall@3 beats a useful floor vs brute force") {
    import org.apache.spark.sql.functions._
    def top3(name: String): Set[(String, String)] =
      SparkEntry.queries(name)(spark, sf0001)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
        .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val brute = top3("s33_knn_bruteforce") // exact top-5, cut to top-3
    val ivf = top3("s40_ivf_trained")
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"s40 recall@3 was $recall")
    // s40 warms the shared-index memo — drop it so later plan-shape
    // tests never see an InMemoryRelation in place of an exchange
    SparkEntry.release(spark)
  }

  test("s71 graph-ANN beam search recall@3 beats a useful floor vs brute force") {
    import org.apache.spark.sql.functions._
    def top3(name: String): Set[(String, String)] =
      SparkEntry.queries(name)(spark, sf0001)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
        .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val brute = top3("s33_knn_bruteforce")
    val graph = top3("s71_graph_ann")
    // deterministic fixture: measured 0.933 at sf0.001 (0.967 at
    // sf0.1) for the 2-hop beam over the 3-out-degree s47 graph
    val recall = (brute & graph).size.toDouble / brute.size
    assert(recall >= 0.8, s"s71 recall@3 was $recall")
    SparkEntry.release(spark)
  }

  test("graph-index lifecycle: release keeps the pinned NN-descent index, releaseIndexes drops it, memo-hit == fresh rebuild") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // s73 builds layer 0 on miss; the built index must survive release()
    val served = rows("s73_graph_ann_nndescent")
    SparkEntry.release(spark)
    val pinned = pinnedOf(graphTiers)
    assert(pinned.nonEmpty, "release() must keep the built graph index")
    assert(pinned.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "pinned index blocks must still be resident after release()")
    // nothing else this library persisted may survive the release
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned,
      "release() must unpersist everything except the pinned index")
    // serving from the memo must equal a fresh build row-for-row
    val servedFromMemo = rows("s73_graph_ann_nndescent")
    SparkEntry.releaseIndexes(spark)
    assert(pinnedOf(graphTiers).isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseIndexes() must drop the pins and every block")
    val rebuilt = rows("s73_graph_ann_nndescent")
    assert(servedFromMemo == served && rebuilt == served,
      "memo-hit and fresh-rebuild results must be identical")
    // s72 is the build query: running it must REFRESH the pin, not hit it
    SparkEntry.queries("s72_nndescent_knn_graph")(spark, sf0001).count()
    val pinnedBefore = pinnedOf(graphTiers)
    SparkEntry.queries("s72_nndescent_knn_graph")(spark, sf0001).count()
    val pinnedAfter = pinnedOf(graphTiers)
    assert((pinnedBefore & pinnedAfter).isEmpty,
      "s72 must rebuild (new checkpoint RDD), never serve a memo hit")
    SparkEntry.releaseIndexes(spark)
  }

  test("graph-index dir walk: switching sf dirs evicts the old pin and replaces it") {
    SparkEntry.releaseIndexes(spark)
    // an sp8 text tier beside the graph: the dir switch below runs
    // through the graph family only, yet must evict BOTH old-dir pins
    SparkEntry.queries("t40_ngram_novelty")(spark, sf0001).count()
    val sp8Pin = BuiltIndexMemo.pinned(spark)("sp8")
    SparkEntry.queries("s73_graph_ann_nndescent")(spark, sf0001).count()
    val pinned1 = pinnedOf(graphTiers)
    assert(pinned1.nonEmpty)
    // a session holds one dir's tiers at a time: the sf0.01 build
    // evicts (and, at release, uncheckpoints) every sf0.001 entry
    SparkEntry.queries("s73_graph_ann_nndescent")(spark,
      "/root/testdata/sf0.01").count()
    val pinned2 = pinnedOf(graphTiers)
    assert(pinned2.nonEmpty && (pinned1 & pinned2).isEmpty,
      "old dir's index must be evicted, new dir's pinned")
    assert(!BuiltIndexMemo.pinned(spark).contains("sp8"),
      "a dir switch must evict the old dir's tiers of every family")
    SparkEntry.release(spark)
    assert(!(pinned1 + sp8Pin).exists(
      spark.sparkContext.getPersistentRDDs.keySet),
      "evicted index blocks must not stay resident")
    SparkEntry.releaseIndexes(spark)
  }

  test("one session's release keeps another live session's tiers: its serving rows still resolve") {
    // RDD storage is per SparkContext, so a release that unpersists by
    // RDD id reaches every session's blocks: it must leave the other
    // session's checkpointed tiers resident, or that session's next
    // serving row reads blocks that cannot be recomputed
    val b = spark.newSession()
    def rows(s: org.apache.spark.sql.SparkSession, name: String) =
      SparkEntry.queries(name)(s, sf0001).collect().map(_.toString).sorted.toSeq
    SparkEntry.releaseIndexes(spark)
    try {
      SparkEntry.queries("d28_neardup_jaccard")(b, sf0001).count()
      val bPins = BuiltIndexMemo.pinned(b).values.toSet
      assert(bPins.nonEmpty)
      SparkEntry.queries("q01_pricing_summary")(spark, sf0001).count()
      SparkEntry.release(spark)
      assert(bPins.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
        "another session's tiers must survive this session's release")
      val served = rows(b, "d31_dedup_clusters")
      SparkEntry.releaseIndexes(b)
      assert(rows(b, "d31_dedup_clusters") == served,
        "served rows must equal a fresh rebuild")
    } finally SparkEntry.releaseIndexes(b)
  }

  test("identical index stages share one cache entry: s50 after s49 materializes no second cell assignment") {
    // s49 and s50 both build the persisted IVF cell assignment; within
    // one session and without a release, the second build must be
    // served from the first one's cache, not cached again
    SparkEntry.releaseIndexes(spark)
    try {
      SparkEntry.queries("s49_ivf_cell_stats")(spark, sf0001).count()
      val afterS49 = spark.sparkContext.getPersistentRDDs.keySet
      assert(afterS49.nonEmpty, "s49 persists its cell assignment")
      SparkEntry.queries("s50_two_stage_rerank")(spark, sf0001).count()
      assert(spark.sparkContext.getPersistentRDDs.keySet == afterS49,
        "s50 must reuse s49's cached cell assignment")
    } finally SparkEntry.release(spark)
  }

  test("fitted centroids follow a same-path rewrite of the embeddings: s40 equals s40 on a fresh path") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    def rows(d: String) = SparkEntry.queries("s40_ivf_trained")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val base = Files.createTempDirectory("rewrite")
    val rewritten = base.resolve("rewritten")
    copyTree(java.nio.file.Paths.get(sf0001), rewritten)
    val d = rewritten.toString
    try {
      val before = rows(d)
      // rewrite embeddings.parquet in place: even vec_ids only
      val staged = base.resolve("staged").toString
      spark.read.parquet(s"$d/embeddings.parquet")
        .filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
        .coalesce(1).write.parquet(staged)
      Files.delete(rewritten.resolve("embeddings.parquet"))
      copyTree(java.nio.file.Paths.get(staged), rewritten.resolve("embeddings.parquet"))
      SparkEntry.releaseIndexes(spark)
      val after = rows(d)
      val afterOracle = SparkEntry.oracleSql("s40_ivf_trained")
      val fresh = base.resolve("fresh")
      copyTree(rewritten, fresh)
      SparkEntry.releaseIndexes(spark)
      assert(after != before, "the rewrite must change s40's rows")
      assert(after == rows(fresh.toString),
        "s40 after a same-path rewrite must equal s40 on a fresh path")
      assert(afterOracle == SparkEntry.oracleSql("s40_ivf_trained"),
        "the oracle's centroids must come from the rewritten corpus")
    } finally SparkEntry.releaseIndexes(spark)
  }

  test("every built-index tier is declared once through BuiltIndexMemo.get, and no table override is left in src/main") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
      .toSeq
    // a table override would fork the lifecycle: every tier get would
    // need a bypass branch, since an entry is valid only for its files
    for (word <- Seq("withShared", "isShared", "persistOnBypass"))
      assert(sources.filter(_._2.contains(word)).map(_._1).isEmpty, word)
    val calls = sources.map(f => "BuiltIndexMemo\\.get\\(".r
      .findAllMatchIn(f._2).size).sum
    val kinds = sources.flatMap(f =>
      "BuiltIndexMemo\\.get\\(\\s*\\w+,\\s*\\w+,\\s*\"(\\w+)\"".r
        .findAllMatchIn(f._2).map(_.group(1)))
    assert(kinds.size == calls, "every tier must name its kind as a literal")
    // each kind declared once: a reused kind would alias two tiers
    val all = graphTiers ++ dedupTiers ++ textTiers ++ evalTiers + "m43k" + "reef"
    assert(all.size == 21 && kinds.sorted == all.toSeq.sorted, kinds.sorted)
  }

  test("StressBench runs the registry's walk and NN-descent: it writes neither and checkpoints nothing itself") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
      .toMap
    // its checkpoints are the ones GraphWalk and nndescentGraph take,
    // and every checkpoint in src/main is taken and released by one of
    // two owners: Blocks for a call's blocks, BuiltIndexMemo for tiers
    val checkpointing = sources.filter(f =>
      "localCheckpoint\\(|GraftBridge\\.uncheckpoint\\(".r
        .findFirstIn(f._2).isDefined).keySet
    assert(checkpointing == Set("Blocks.scala", "BuiltIndexMemo.scala"),
      checkpointing)
    // the walk step's anti-join against the visited set is written
    // once, and so is the NN-descent init mix
    val walkSteps = sources.filter(f => "Seq\\(\"qid\", \"nid\"\\),\\s*\"left_anti\""
      .r.findFirstIn(f._2).isDefined).keySet
    assert(walkSteps == Set("GraphWalk.scala"), walkSteps)
    val initMixes = sources.filter(_._2.contains("1103515245L")).keySet
    assert(initMixes == Set("SimilarityOps.scala"), initMixes)
  }

  test("src/main reads files only through Tables.read, apart from StressBench's own generated inputs") {
    import scala.jdk.CollectionConverters._
    // code lines only: comments may name the reader
    val reads = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("//") && !l.trim.startsWith("*") &&
              "\\.read\\b(?!\\s*\\()".r.findFirstIn(l).isDefined =>
            (p.getFileName.toString, i, l.trim)
        }
      }.toSeq
    val tables = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/Tables.scala")).asScala
    val helper = tables.indexWhere(_.contains("private[graft] def read("))
    val helperEnd = tables.indexWhere(_ == "  }", helper)
    assert(helper >= 0 && helperEnd > helper, "Tables.read not found")
    // StressBench writes these itself and times reads of them
    val generated = Set("documents", "embeddings", "fact2", "dim2")
    val stray = reads.filterNot {
      case ("Tables.scala", i, _) => i > helper && i < helperEnd
      case ("StressBench.scala", _, l) =>
        "spark\\.read\\.parquet\\(s\"\\$\\w+/(\\w+)\\.parquet\"\\)".r
          .findFirstMatchIn(l).exists(m => generated(m.group(1)))
      case _ => false
    }
    assert(stray.isEmpty, stray.mkString("\n"))
    assert(reads.count(_._1 == "Tables.scala") == 2, "Tables.read's hit and miss reads")
  }

  test("shingle-index lifecycle: release keeps the pin, d28 rebuilds and defers the old generation, releaseIndexes drops all") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // d33 serves: builds the index on miss; it must survive release()
    val served = rows("d33_neardup_capped")
    SparkEntry.release(spark)
    val pinned = pinnedOf(dedupTiers)
    assert(pinned.nonEmpty, "release() must keep the built shingle index")
    assert(pinned.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "pinned shingle blocks must still be resident after release()")
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned,
      "release() must unpersist everything except the pinned index")
    // serving from the memo must equal a fresh build row-for-row
    val servedFromMemo = rows("d33_neardup_capped")
    SparkEntry.releaseIndexes(spark)
    assert(pinnedOf(dedupTiers).isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseIndexes() must drop the pins and every block")
    val rebuilt = rows("d33_neardup_capped")
    assert(servedFromMemo == served && rebuilt == served,
      "memo-hit and fresh-rebuild results must be identical")
    // d33 is itself the build row of the capped tiers (r21): a second
    // run must refresh ex50/sc50 (new checkpoint RDDs somewhere in the
    // pin set), never serve them as hits
    val d33Pins1 = pinnedOf(dedupTiers)
    SparkEntry.queries("d33_neardup_capped")(spark, sf0001).count()
    val d33Pins2 = pinnedOf(dedupTiers)
    assert((d33Pins2 -- d33Pins1).nonEmpty,
      "d33 must rebuild its capped tiers, never serve them as hits")
    // d28 is the build row of the LOWER tiers (shingles, postings,
    // pairs): it must REFRESH those pins, never hit them, and the
    // replaced generation is DEFERRED (kept resident for in-flight
    // readers) until the next release() reclaims it. Start from a
    // clean memo so the d33-owned capped tiers (which d28 does NOT
    // rebuild — that is d33's job) don't sit in the intersection.
    SparkEntry.releaseIndexes(spark)
    SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001).count()
    val pinnedBefore = pinnedOf(dedupTiers)
    SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001).count()
    val pinnedAfter = pinnedOf(dedupTiers)
    assert((pinnedBefore & pinnedAfter).isEmpty,
      "d28 must rebuild (new checkpoint RDD), never serve a memo hit")
    assert(pinnedBefore.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "the superseded generation must stay resident (deferred) until release")
    SparkEntry.release(spark)
    assert(!pinnedBefore.exists(spark.sparkContext.getPersistentRDDs.keySet),
      "release() must reclaim the deferred superseded generation")
    assert(pinnedAfter.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "the fresh build must remain pinned through release()")
    SparkEntry.releaseIndexes(spark)
  }

  test("near-dup pair index lifecycle: composers serve the built edge list, d28 refreshes it, memo-hit ≡ fresh rebuild") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // d31 serves: a miss builds BOTH tiers (shingle index + pair index)
    val served = rows("d31_dedup_clusters")
    SparkEntry.release(spark)
    val pinned = pinnedOf(dedupTiers)
    assert(pinned.size >= 2,
      "both the shingle index and the pair index must be pinned")
    // serving from the memo must equal a fresh build row-for-row
    val servedFromMemo = rows("d31_dedup_clusters")
    SparkEntry.releaseIndexes(spark)
    val rebuilt = rows("d31_dedup_clusters")
    assert(servedFromMemo == served && rebuilt == served,
      "memo-hit and fresh-rebuild cluster results must be identical")
    // d28 is the build row: running it must REFRESH both tiers (new
    // checkpoint RDDs), never serve a hit, and its rows must equal the
    // edge list a fresh session derives
    val viaServe = rows("d28_neardup_jaccard")
    val pinnedBefore = pinnedOf(dedupTiers)
    SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001).count()
    val pinnedAfter = pinnedOf(dedupTiers)
    assert((pinnedBefore & pinnedAfter).isEmpty,
      "d28 must rebuild both indexes, never serve a memo hit")
    SparkEntry.releaseIndexes(spark)
    assert(rows("d28_neardup_jaccard") == viaServe,
      "rebuilt pair rows must equal the previously published edge list")
    SparkEntry.releaseIndexes(spark)
  }

  test("keep-list + verdict tiers: build rows refresh their own tier over served lower tiers; serving ≡ rebuild") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // q104 serves the verdict tier: a miss builds the full hierarchy
    // (shingles → pairs → keep-list → verdict), all pinned
    val served = rows("q104_curation_funnel")
    SparkEntry.release(spark)
    assert(pinnedOf(dedupTiers).size >= 4,
      "all four dedup tiers (sh3/nd08/d41k/d44v) must be pinned")
    // serving ≡ fresh rebuild row-for-row
    val servedFromMemo = rows("q104_curation_funnel")
    SparkEntry.releaseIndexes(spark)
    val rebuilt = rows("q104_curation_funnel")
    assert(servedFromMemo == served && rebuilt == served,
      "memo-hit and fresh-rebuild funnel rows must be identical")
    // d44 is the verdict tier's build row: consecutive runs must swap
    // ONLY its own tier's checkpoint while the served lower tiers'
    // pins stay put
    rows("d44_clean_corpus")
    val p1 = pinnedOf(dedupTiers)
    rows("d44_clean_corpus")
    val p2 = pinnedOf(dedupTiers)
    assert((p1 & p2).nonEmpty && p1 != p2,
      "d44 must refresh its own tier while serving the lower tiers")
    // d41 likewise for the keep-list tier
    val p3 = pinnedOf(dedupTiers)
    rows("d41_canonical_docs")
    val p4 = pinnedOf(dedupTiers)
    assert((p3 & p4).nonEmpty && p3 != p4,
      "d41 must refresh its own tier while serving the lower tiers")
    SparkEntry.releaseIndexes(spark)
  }

  test("sp8 span-digest tier: t40/t38 serve the built stream, t37 rebuilds it, memo-hit ≡ fresh rebuild") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // t40 builds the stream on miss; the tier must survive release()
    val served = rows("t40_ngram_novelty")
    SparkEntry.release(spark)
    assert(pinnedOf(textTiers).nonEmpty,
      "release() must keep the built span tier")
    // serving ≡ fresh rebuild row-for-row, for both serving consumers
    val servedAgain = rows("t40_ngram_novelty")
    val t38Served = rows("t38_top_spans_per_source")
    SparkEntry.releaseIndexes(spark)
    assert(pinnedOf(textTiers).isEmpty,
      "releaseIndexes() must drop the span-tier pin")
    val rebuilt = rows("t40_ngram_novelty")
    val t38Rebuilt = rows("t38_top_spans_per_source")
    assert(servedAgain == served && rebuilt == served,
      "memo-hit and fresh-rebuild t40 rows must be identical")
    assert(t38Served == t38Rebuilt,
      "served and rebuilt t38 rows must be identical")
    // t37 is the build row: consecutive runs must refresh the pin
    rows("t37_dup_span_fraction")
    val p1 = pinnedOf(textTiers)
    rows("t37_dup_span_fraction")
    val p2 = pinnedOf(textTiers)
    assert(p1.nonEmpty && (p1 & p2).isEmpty,
      "t37 must rebuild the span tier, never serve a memo hit")
    SparkEntry.releaseIndexes(spark)
  }

  test("t35q verdict tier: t65/q95 serve the built signal table, t35 rebuilds it, memo-hit ≡ fresh rebuild") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // t65 builds the tier on miss; it must survive release()
    val served = rows("t65_linear_probe")
    SparkEntry.release(spark)
    assert(pinnedOf(textTiers).nonEmpty,
      "release() must keep the built verdict tier")
    val servedAgain = rows("t65_linear_probe")
    val q95Served = rows("q95_quality_weighted_mix")
    SparkEntry.releaseIndexes(spark)
    val rebuilt = rows("t65_linear_probe")
    val q95Rebuilt = rows("q95_quality_weighted_mix")
    assert(servedAgain == served && rebuilt == served,
      "memo-hit and fresh-rebuild t65 rows must be identical")
    assert(q95Served == q95Rebuilt,
      "served and rebuilt q95 rows must be identical")
    // t35 is the build row: consecutive runs must refresh the pin
    rows("t35_quality_filter")
    val p1 = pinnedOf(textTiers)
    rows("t35_quality_filter")
    val p2 = pinnedOf(textTiers)
    assert(p1.nonEmpty && (p1 & p2).isEmpty,
      "t35 must rebuild the verdict tier, never serve a memo hit")
    SparkEntry.releaseIndexes(spark)
  }

  test("eval tiers: s48/s69 serve the built ground-truth/probe/recall tables, the build rows refresh them, serving ≡ rebuild") {
    SparkEntry.releaseIndexes(spark) // start clean
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
    // s48 builds gt10 + all four probe tiers on miss; pins survive release()
    val served48 = rows("s48_index_recall_matrix")
    SparkEntry.release(spark)
    assert(pinnedOf(evalTiers).size >= 5,
      "gt10 + four probe tiers must be pinned after s48")
    val s48Again = rows("s48_index_recall_matrix")
    // s69 serves the two recall tiers (building them on miss)
    val served69 = rows("s69_codec_frontier")
    SparkEntry.releaseIndexes(spark)
    assert(pinnedOf(evalTiers).isEmpty,
      "releaseIndexes() must drop every eval-tier pin")
    val rebuilt48 = rows("s48_index_recall_matrix")
    val rebuilt69 = rows("s69_codec_frontier")
    assert(s48Again == served48 && rebuilt48 == served48,
      "memo-hit and fresh-rebuild s48 rows must be identical")
    assert(rebuilt69 == served69,
      "served and rebuilt s69 rows must be identical")
    // the build rows refresh their own tiers, never serve hits
    rows("s33_knn_bruteforce"); rows("s37_ivf_ann")
    val p1 = pinnedOf(evalTiers)
    rows("s33_knn_bruteforce"); rows("s37_ivf_ann")
    val p2 = pinnedOf(evalTiers)
    assert(p1.size == p2.size && p1 != p2 && (p1 & p2).nonEmpty,
      "s33/s37 must swap their own tier checkpoints while other pins stay")
    SparkEntry.releaseIndexes(spark)
  }

  test("s73 graph-ANN over the NN-descent graph: end-to-end scalable build+search keeps the recall floor") {
    import org.apache.spark.sql.functions._
    def top3(name: String): Set[(String, String)] =
      SparkEntry.queries(name)(spark, sf0001)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
        .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val brute = top3("s33_knn_bruteforce")
    val graph = top3("s73_graph_ann_nndescent")
    // measured 0.933 at sf0.001 — identical to s71's walk over the
    // cell-built graph, with a build that survives 1B vectors
    val recall = (brute & graph).size.toDouble / brute.size
    assert(recall >= 0.8, s"s73 recall@3 was $recall")
    SparkEntry.release(spark)
  }

  test("s74 HNSW entry-tier search: entry-seeded recall holds its documented floor on the structureless corpus") {
    import org.apache.spark.sql.functions._
    def top3(name: String): Set[(String, String)] =
      SparkEntry.queries(name)(spark, sf0001)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
        .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val brute = top3("s33_knn_bruteforce")
    val entry = top3("s74_hnsw_entry_search")
    // measured 0.467 at sf0.001 (0.4 at sf0.1): greedy navigation on
    // UNIFORM-RANDOM embeddings provably degrades — the same walk
    // reads 0.867 on structured vectors (StressBench hnsw_entry row).
    // The floor pins that the entry election + descent machinery
    // works; s73 (own-node seeding) is the corpus-member path.
    val recall = (brute & entry).size.toDouble / brute.size
    assert(recall >= 0.35, s"s74 recall@3 was $recall")
    // an entry-seeded walk must never answer with the query itself
    assert(SparkEntry.queries("s74_hnsw_entry_search")(spark, sf0001)
      .filter(col("qid") === col("neighbor_id")).count() == 0L)
    SparkEntry.release(spark)
  }

  test("s74's entry search reaches recall@3 >= 0.7 on navigable hash vectors, both layers built by nndescentGraph") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val sim = queries.SimilarityOps
    graft.functions.VectorFunctions.register(spark)
    // StressBench's structured 8-dim hash vectors, from a local frame:
    // a range-sourced one trips the constraint-propagation fault that
    // StressBench switches off around its graph rows
    val n = 2000L
    val nodes = (0L until n).toDF("nid")
      .withColumn("nemb", transform(sequence(lit(1), lit(8)),
        i => pmod(xxhash64(col("nid") * 31 + i), lit(1000)) / 500.0 - 1.0))
      .persist()
    val vecs0 = nodes.select(col("nid").as("vec_id"), col("nemb").as("emb"))
    val vecs1 = sim.entryLayer(vecs0)
    val g0 = sim.nndescentGraph(vecs0)
    val g1 = sim.nndescentGraph(vecs1)
    val q = nodes.filter(col("nid") < 10)
      .select(col("nid").as("qid"), col("nemb").as("qemb"))
    val nodes1 = vecs1.select(col("vec_id").as("nid"), col("emb").as("nemb"))
    val visited = graft.operators.GraphWalk.entrySearch(q, nodes, g0, nodes1,
      g1, sim.hnswStride, sim.graphAnnDefaultBeam, sim.graphAnnDefaultHops,
      sim.hnswDescentHops)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    def top3(scored: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top3(nodes.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), round(graft.functions.VectorFunctions
        .cosineSim(col("qemb"), col("nemb")), 6).as("cosine")))
    val recall = (exact & top3(visited)).size.toDouble / exact.size
    // measured 0.9 (27 of 30) at n = 2000, the floor StressBench's
    // 10k hnsw_entry row gates; s74's corpus reads 0.467 because its
    // embeddings are uniform-random
    assert(exact.size == 30 && recall >= 0.7, s"entry-search recall@3 was $recall")
    Seq(visited, g0, g1).foreach(org.apache.spark.sql.GraftBridge.uncheckpoint(_))
    nodes.unpersist()
  }

  test("s71 beam/hop knobs: explicit defaults reproduce the oracle walk, a wider beam keeps the recall floor, bad values refuse") {
    import org.apache.spark.sql.functions._
    def run(): Set[(Long, Int, Long)] =
      SparkEntry.queries("s71_graph_ann")(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dflt = run()
    SparkEntry.release(spark)
    try {
      // explicitly setting the documented defaults must be a no-op —
      // the oracle covers exactly this walk
      spark.conf.set("spark.graft.graphann.beam", "4")
      spark.conf.set("spark.graft.graphann.hops", "2")
      assert(run() == dflt, "explicit defaults must reproduce the default walk")
      SparkEntry.release(spark)
      // widened beam: more scored nodes may only improve the walk —
      // the recall floor the default passes must hold
      spark.conf.set("spark.graft.graphann.beam", "8")
      val wide = run()
      assert(wide.map(t => (t._1, t._3)).size == wide.size)
      def top3(s: Set[(Long, Int, Long)]) =
        s.filter(_._2 <= 3).map(t => (t._1, t._3))
      val brute = SparkEntry.queries("s33_knn_bruteforce")(spark, sf0001)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & top3(wide)).size.toDouble / brute.size
      assert(recall >= 0.8, s"s71 beam=8 recall@3 was $recall")
      SparkEntry.release(spark)
      spark.conf.set("spark.graft.graphann.beam", "0")
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("s71_graph_ann")(spark, sf0001)
      }
      assert(e.getMessage.contains("spark.graft.graphann.beam"))
      spark.conf.set("spark.graft.graphann.beam", "4")
      spark.conf.set("spark.graft.graphann.hops", "9")
      val e2 = intercept[IllegalArgumentException] {
        SparkEntry.queries("s71_graph_ann")(spark, sf0001)
      }
      assert(e2.getMessage.contains("spark.graft.graphann.hops"))
    } finally {
      spark.conf.unset("spark.graft.graphann.beam")
      spark.conf.unset("spark.graft.graphann.hops")
      SparkEntry.release(spark)
    }
  }

  test("s72 NN-descent converges: recall@3 vs exact all-pairs >= 0.8, >= 10x the init graph, complete and degree-bounded") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(spark)
    // exact all-node top-3 ground truth (n=500 → 250k pairs; fine in
    // a test, and the whole point of s72 is never doing this at scale)
    val e = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val pairs = e.select(col("vec_id").as("src"), col("emb").as("a"))
      .crossJoin(e.select(col("vec_id").as("dst"), col("emb").as("b")))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(graft.functions.VectorFunctions
          .cosineSim(col("a"), col("b")), 6).as("cosine"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst").asc)
    val exact = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = e.count()
    val built = SparkEntry.queries("s72_nndescent_knn_graph")(spark, sf0001)
      .collect()
    // completeness + bounded out-degree: every node gets 1..K ranked
    // neighbors (the build must never drop a node or exceed K)
    val byNode = built.groupBy(_.getLong(0))
    assert(byNode.keySet.size.toLong == n, "s72 graph must cover every node")
    val K = queries.SimilarityOps.nndescentK
    assert(byNode.values.forall(rows => rows.length <= K
        && rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length)),
      s"per-node ranks must be contiguous 1..<=K=$K")
    val builtTop3 = built.filter(_.getInt(1) <= 3)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & builtTop3).size.toDouble / exact.size
    // deterministic fixture: measured 0.8747 at sf0.001 (0.6132 at
    // sf0.1 — structureless embeddings, NN-descent's hardest regime)
    assert(recall >= 0.8, s"s72 recall@3 was $recall")
    // convergence: the hash-mix init edge set (same formula as the
    // query) contains almost none of the true top-3 — the supersteps
    // must earn the recall, not the init (measured init containment
    // ~0.02; a ring init plateaus at 0.03 FINAL recall, the reason
    // the init is a hash mix)
    val initEdges = (for {
      i <- 0L until n; j <- 1 to K
      d = (i * 1103515245L + 12345L + j * 2654435761L) % n if d != i
    } yield (i, d)).toSet
    val initContainment = (exact & initEdges).size.toDouble / exact.size
    assert(recall >= 10 * initContainment,
      s"s72 recall $recall must be >= 10x init containment $initContainment")
    SparkEntry.release(spark)
  }

  test("s48 recall matrix covers all four index variants with per-variant floors") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("s48_index_recall_matrix")(spark, sf0001)
      .groupBy(col("variant"))
      .agg(avg(col("recall_at_3")).as("mean_recall"),
        count(lit(1)).as("n_queries"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("s37", "s40", "s42", "s43"), rows.keySet.toString)
    // per-arm floors at the measured sf0.001 values minus slack (all
    // arms are deterministic: fixed corpus, seeded fits) — the PQ arms
    // are genuinely lossy on this tiny corpus, the matrix is exactly
    // the table that makes that visible
    for ((v, floor) <- Seq("s37" -> 0.6, "s40" -> 0.4, "s42" -> 0.15,
        "s43" -> 0.25))
      assert(rows(v)._1 >= floor, s"$v mean recall ${rows(v)._1} < $floor")
    // the residual refinement must actually refine: s43 re-expresses
    // codes relative to cell centroids and may not lose recall vs s42
    assert(rows("s43")._1 >= rows("s42")._1,
      s"residual PQ ${rows("s43")._1} fell below plain PQ ${rows("s42")._1}")
    SparkEntry.release(spark)
  }

  test("t44 pattern scrub: every regex family fires and totals reconcile") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("t44_pattern_scrub")(spark, sf0001)
    val agg = rows.agg(sum(col("n_customer")), sum(col("n_value")),
      sum(col("n_phrase")), sum(col("n_redactions"))).head()
    // a scrub family that never fires is dead configuration
    assert(agg.getLong(0) > 0, "customer family must fire")
    assert(agg.getLong(1) > 0, "value family must fire")
    assert(agg.getLong(2) > 0, "phrase family must fire")
    assert(agg.getLong(3) == agg.getLong(0) + agg.getLong(1) + agg.getLong(2))
    // redaction shrinks or preserves length ("[X]" is never longer
    // than the shortest pattern match)
    val bad = rows.join(
      SparkEntry.queries("t21_token_stats")(spark, sf0001)
        .select(col("doc_id"), col("n_chars_text")),
      "doc_id")
      .filter(col("redacted_len") > col("n_chars_text")).count()
    assert(bad == 0, s"$bad docs grew under redaction")
  }

  test("t35 quality filter: every rule fires on the corpus and keep matches reason") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("t35_quality_filter")(spark, sf0001)
      .select(col("reason"), col("keep")).collect()
    val reasons = rows.map(_.getString(0)).toSet
    // thresholds were picked against the corpus distributions — a rule
    // that never fires is dead code, a corpus with no keeps is a
    // miscalibrated gate (too_long genuinely can't fire on ≤99-token docs)
    assert(Set("keep", "too_short", "low_diversity", "repetitive_top_bigram",
      "repetitive_dup_bigram", "no_stopwords").subsetOf(reasons), reasons.toString)
    assert(rows.forall(r => r.getBoolean(1) == (r.getString(0) == "keep")))
  }

  test("every declared-quadratic query is fenced, and every fence is declared") {
    // Direction 1: each member of SparkEntry.fenced actually enforces
    // the guard — under maxRows=1 the query must refuse to build.
    SparkEntry.fenced.foreach { name =>
      spark.conf.set("spark.graft.exact.maxRows", "1")
      try {
        val ex = intercept[IllegalArgumentException] {
          SparkEntry.queries(name)(spark, sf0001).count()
        }
        assert(ex.getMessage.contains("maxRows"), s"$name threw for another reason")
      } finally spark.conf.unset("spark.graft.exact.maxRows")
    }
    // Direction 2: the declared set and the guard call sites in the
    // query sources stay in sync — a new super-linear operator that
    // adds a guard must also declare itself, and a guard cannot be
    // removed while its query stays declared. (A quadratic stage added
    // with NO guard at all is caught by review + the bench, but any
    // guard that exists is provably wired and enumerated.)
    import scala.jdk.CollectionConverters._
    val srcDir = java.nio.file.Paths.get("src/main/scala/graft")
    val guardSites = java.nio.file.Files.walk(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => java.nio.file.Files.readString(p))
      .map(s => "conf\\.get\\(\"spark\\.graft\\.exact\\.maxRows\"".r
        .findAllMatchIn(s).size)
      .sum
    assert(guardSites == SparkEntry.fenced.size,
      s"$guardSites maxRows guard call sites vs ${SparkEntry.fenced.size} declared fenced queries")
    // fenced queries are still first-class registry members with oracles
    assert(SparkEntry.fenced.subsetOf(SparkEntry.oracleSql.keySet))
  }

  test("every declared-degenerate query is fenced, and every degeneracy fence is declared") {
    // Direction 1: each member of SparkEntry.degeneracyFenced enforces
    // its sampled-degeneracy guard — under maxDegenerateFrac=-1 any
    // corpus (even a perfectly healthy one, fraction >= 0) must refuse.
    SparkEntry.degeneracyFenced.foreach { name =>
      spark.conf.set("spark.graft.cdc.maxDegenerateFrac", "-1")
      try {
        val ex = intercept[IllegalArgumentException] {
          SparkEntry.queries(name)(spark, sf0001).count()
        }
        assert(ex.getMessage.contains("maxDegenerateFrac"),
          s"$name threw for another reason: ${ex.getMessage}")
      } finally spark.conf.unset("spark.graft.cdc.maxDegenerateFrac")
    }
    // Direction 2: declared set == guard call sites, same discipline
    // as the maxRows fence above.
    import scala.jdk.CollectionConverters._
    val srcDir = java.nio.file.Paths.get("src/main/scala/graft")
    val guardSites = java.nio.file.Files.walk(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => java.nio.file.Files.readString(p))
      .map(s => "conf\\.get\\(\"spark\\.graft\\.cdc\\.maxDegenerateFrac\"".r
        .findAllMatchIn(s).size)
      .sum
    assert(guardSites == SparkEntry.degeneracyFenced.size,
      s"$guardSites maxDegenerateFrac guard call sites vs " +
        s"${SparkEntry.degeneracyFenced.size} declared degeneracy-fenced queries")
    assert(SparkEntry.degeneracyFenced.subsetOf(SparkEntry.oracleSql.keySet))
  }

  test("m52's fence fires on a zero-run corpus and routes to m53, which accepts it") {
    // the StressBench hazard shape in miniature: documents whose text
    // is mostly NUL padding — the stateless gear rule would emit ~1
    // chunk per zero byte here, so the build-time probe must refuse
    val dir = java.nio.file.Files.createTempDirectory("zerorun").toString
    import spark.implicits._
    val pad = "\u0000" * 4096
    (1L to 8L).map(i => (i, s"doc$i$pad", "padsrc", "en", 4100L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.queries("m52_gear_cdc")(spark, dir).count()
    }
    assert(ex.getMessage.contains("m53_gear_cdc_clamped"),
      s"fence must route to the clamped tier: ${ex.getMessage}")
    // the clamped production tier handles the same corpus: bytes/16
    // chunk ceiling means ~257 chunks per 4103-byte doc, not ~4096
    val m53 = SparkEntry.queries("m53_gear_cdc_clamped")(spark, dir)
      .select(org.apache.spark.sql.functions.col("n_chunks")).head().getLong(0)
    assert(m53 > 0 && m53 <= 8L * (4200 / 16),
      s"clamped tier must cap chunk volume at bytes/16, got $m53")
    SparkEntry.release(spark)
  }

  test("queries are deterministic across two runs (hash-stable for the driver)") {
    val sample = Seq("q01_pricing_summary", "q14_running_total",
      "t25_fingerprint", "s33_knn_bruteforce", "d28_neardup_jaccard")
    sample.foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf0001).collect().map(_.toString).sorted
      val b = fn(spark, sf0001).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"$name not deterministic")
    }
  }
}
