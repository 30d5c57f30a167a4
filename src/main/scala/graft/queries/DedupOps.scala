package graft.queries

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Deduplication operators over `documents` (BASELINE.json north-star
  * family): exact hash dedup, exact n-gram Jaccard near-dup,
  * SimHash fingerprints, MinHash+LSH near-dup.
  *
  * Scale design (100 TB posture):
  *  - exact dedup is a single hash-aggregate on a digest — the digest
  *    (not the document body) is the shuffle key, so shuffle volume is
  *    O(docs × 32 bytes), not O(corpus bytes);
  *  - the Jaccard join generates candidate pairs ONLY for docs sharing a
  *    shingle (equi-join on shingle), never the O(n²) cross product;
  *    at 100 TB you additionally cap frequent shingles (stop-shingle
  *    removal) — here the corpus is small enough not to need it;
  *  - SimHash reduces each doc to one i64; near-dup search becomes
  *    bit-twiddling, and banding the 64 bits into 4×16-bit keys gives a
  *    shuffle-friendly LSH (d28 emits the signature + band keys);
  *  - MinHashLSH (d29) is the seeded, banded probabilistic variant —
  *    `approxSimilarityJoin` shuffles on band buckets. Not expressible
  *    in the DuckDB oracle (seeded hash families) → rows-only there,
  *    recall-checked against the exact d27 pairs in scalatest.
  */
object DedupOps {

  /** Whitespace tokens of trim(text); [] for blank text. Explicit
    * class, not \s: Java's \s includes U+000B, RE2's (DuckDB) does not,
    * so \s on both sides diverges on a vertical-tab document. */
  private def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "[ \\t\\n\\f\\r]+"))

  /** Distinct word-3-gram shingles (0-based Spark array indexing). */
  private def shingleCol: Column =
    array_distinct(expr(
      "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))

  /** doc_id + distinct 3-gram shingle set for docs with ≥3 tokens.
    * The corpus lands in one small parquet file → one input split; at
    * real scale the table is thousands of splits. Repartition to the
    * session's parallelism so the tokenize/shingle/join work actually
    * fans out instead of running on one core. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), shingleCol.as("shingles"))

  /** The BUILT 3-gram shingle table (r20, kind "sh3", VERDICT r19
    * item 2) — the [[BuiltIndexMemo]] lifecycle the NN-descent graph
    * family proved at r19, applied to the stage every
    * shingle-family query (d28/d30/d33/d35/d36/d46/d52/d53/d54/d56,
    * the d40/d45 edge helper, d61's 3-gram arm) used to rebuild from
    * the corpus scan per invocation: tokenize → ≥3-word filter →
    * distinct 3-gram assembly. The table is a derived CORPUS artifact
    * — at 100 TB a pipeline materializes it once next to the documents
    * and every dedup/decontam job reads it, exactly the
    * build-once/serve-many split the memo encodes. d28 (the family's
    * base near-dup query) is the designated BUILD row: it rebuilds
    * unconditionally, so its bench row keeps measuring tokenize +
    * shingle + its own join work while every other family member
    * measures serving. An entry is ≤ one row per qualifying doc (id +
    * distinct shingle array). The eager localCheckpoint runs a job at
    * plan-construction time — the same documented eagerness exception
    * as the graph tier (SparkEntry.queries doc). */
  private def shingleIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "sh3", rebuild)(shingles(s, d))

  /** The memoized near-dup PAIR index (r20, kind "nd08", second tier
    * over [[shingleIndex]]):
    * the confirmed Jaccard-≥0.8 edge list — the d-family's exact analog
    * of the s72 NN-descent edge table. Every clustering/reporting
    * composer (d31/d34/d37/d41→d42/d44/d48/d55/q96/q103/q104, d43,
    * d54, d56) consumes this table and used to re-derive it per
    * invocation: explode + self equi-join + inclusion-exclusion
    * confirm over the (already served) shingle index, ~1–1.5 s of
    * identical work per row at sf0.1. At 100 TB the pair list is the
    * FIRST artifact a dedup pipeline materializes (the edge table
    * clustering, canonicalization and every audit read) — build once,
    * serve many. d28 stays the designated BUILD row: it rebuilds the
    * shingle index AND the pair table unconditionally, so its bench
    * row keeps measuring tokenize + shingle + candidate join + confirm
    * while the composers measure clustering/reporting over a built
    * edge list. The table is tiny (one row per confirmed pair), so the
    * checkpoint cost is a barrier, not storage. */
  private def pairsIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "nd08", rebuild) {
      // d28's rebuild refreshes the whole lower chain in order:
      // shingles first, then the posting list over the fresh
      // shingles, then the pairs over both — one rebuild each.
      val sh = shingleIndex(s, d, rebuild)
      val ex = postingsIndex(s, d, rebuild)
      neardupPairsFrom(sh, ex)
    }

  /** Shared df cap of the rare-anchor candidate pipeline (d33's
    * stop-shingle discipline; d53 and every d61 arm run the same cap,
    * so d53 and d61's 3-gram arm can serve [[cappedPostingsIndex]]). */
  private[graft] val NeardupMaxDf = 50

  /** The memoized EXPLODED POSTING LIST (r21, kind "exh"): one row per
    * (doc_id, xxhash64(shingle)) — the inverted-index stream every
    * candidate-generation query used to re-derive from the shingle
    * table per invocation (explode + hash, ~1.5–2 s of identical work
    * at sf0.1 in each of d28/d33/d35/d46/d52/d53/d61's 3-gram arm and
    * the d40/d45 edge helper). At 100 TB the posting list is the
    * canonical dedup artifact — the inverted index is materialized
    * once next to the shingle table and every candidate join reads it.
    * d28 stays the family's build row (its rebuild refreshes shingles
    * → postings → pairs, so its bench row still measures tokenize +
    * shingle + explode/hash + candidate join + confirm); every other
    * consumer serves. */
  private def postingsBody(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("shingles")).as("sstr"))
      .select(col("doc_id"), xxhash64(col("sstr")).as("sv"))

  private def postingsIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    // the build SERVES the shingle tier (build-on-miss): when d28
    // rebuilds it has already refreshed shingles one line above, so
    // this reads the new generation without double-building it
    BuiltIndexMemo.get(s, d, "exh", rebuild)(postingsBody(shingleIndex(s, d)))

  /** The memoized CAPPED posting list (r21, kind "ex50"): the postings
    * restricted to shingles with df ≤ [[NeardupMaxDf]] — the
    * boilerplate-proof candidate-generation stream. d33 (the query
    * that owns the cap discipline) is the build row: its bench row
    * measures the df aggregate + cap join + its own candidate
    * self-join + exact confirm over the served posting list; d53's
    * decontamination and d61's 3-gram arm serve. At 100 TB this is
    * the second materialization a capped dedup pipeline ships (the
    * "rare-anchor index"). */
  private def cappedPostingsBody(ex: DataFrame): DataFrame = {
    val rare = ex.groupBy(col("sv"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= NeardupMaxDf)
      .select(col("sv"))
    ex.join(rare, "sv")
  }

  private def cappedPostingsIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "ex50", rebuild)(
      cappedPostingsBody(postingsIndex(s, d)))

  /** The memoized SCORED capped candidate table (r21, kind "sc50"):
    * every capped candidate pair (shares ≥ 1 df ≤ [[NeardupMaxDf]]
    * shingle) with its EXACT full-set Jaccard, UNROUNDED and
    * UNTHRESHOLDED — d33's confirm output before its ≥ 0.8 filter.
    * This is the artifact a capped dedup pass materializes at 100 TB:
    * score once, let every consumer threshold/orient/aggregate it.
    * d33 is the build row (its bench row measures the cap build, the
    * candidate self-join and the exact array confirm); d53's
    * decontamination and d61's 3-gram arm serve. Consumers must treat
    * `jac` as exact-operand IEEE (round only at their published edge,
    * as d33/d53/d61 all do). */
  private def scoredCappedBody(s: SparkSession, d: String,
      rebuild: Boolean): DataFrame = {
    val sh = shingleIndex(s, d)
    scoredBody(sh, cappedPostingsIndex(s, d, rebuild))
  }

  /** Every pair sharing a posting of `exc` (doc_id, sv), with its exact
    * full-set Jaccard over `sh` (doc_id, shingles): the sc50 body, and
    * d61's 2-/5-gram arms over their own capped postings. */
  private def scoredBody(sh: DataFrame, exc: DataFrame): DataFrame = {
    val cands = exc.select(col("doc_id").as("ia"), col("sv"))
      .join(exc.select(col("doc_id").as("ib"), col("sv").as("svb")),
        col("sv") === col("svb") && col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
    cands
      .join(sh.select(col("doc_id").as("ia"), col("shingles").as("sa")),
        "ia")
      .join(sh.select(col("doc_id").as("ib"), col("shingles").as("sb")),
        "ib")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("ia"), col("ib"), (col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter"))).as("jac"))
  }

  private def scoredCappedIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "sc50", rebuild)(scoredCappedBody(s, d, rebuild))

  /** The memoized CANONICAL KEEP-LIST index (r20, kind "d41k") — the
    * third artifact tier of the dedup pipeline: shingles (d28 builds)
    * → confirmed pairs (d28 builds) → connected components + one
    * canonical survivor per cluster (THIS table; d41 is the build
    * row). Nine registry rows consume it (d42/d44/d48/d49/d50/d55/
    * d57/d58/d59 — every dataset-card/report/split query reads the
    * keep-list, never re-clusters), which at 100 TB is precisely how
    * a pipeline runs: the keep-list is written once next to the
    * corpus and every downstream job joins it by doc_id. Each build
    * row measures its OWN tier's build over served lower tiers: d28
    * = tokenize+shingle+pairs, d41 = CC + canonicalization over the
    * served pair index, d44 = gates + verdict over the served
    * keep-list. */
  private[graft] def labelsIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "d41k", rebuild)(labelsBody(s, d))

  /** The memoized CLEAN-CORPUS VERDICT index (r20, kind "d44v") — the
    * final artifact tier: per-document keep/drop decision with a
    * first-failing-gate reason. d44 is the build row; its build folds
    * decontamination (d38, over `documents`) over the served keep-list
    * ([[labelsIndex]]) and quality tier (`TextOps.qualityIndex`) —
    * each build row measures its own tier. The manifest/funnel/
    * epoch-plan consumers (q96/q103/q104) serve this table, exactly
    * the "derived from the SAME verdict the manifest ships" contract
    * their doc comments state: at 100 TB the
    * verdict is materialized once per curation run and every
    * dataset-card and trainer-manifest job reads it. */
  private[graft] def verdictIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "d44v", rebuild)(verdictBody(s, d))

  private def verdictBody(s: SparkSession, d: String): DataFrame = {
    val dedup = labelsIndex(s, d)
      .select(col("doc_id"), col("keep").as("dd_keep"))
    // served t35q: t35 is its build row, so the rows are t35's
    val quality = graft.queries.TextOps.qualityIndex(s, d)
      .select(col("doc_id"), col("reason").as("q_reason"))
    val contam = queries("d38_decontamination")(s, d)
      .select(col("doc_id"), lit(true).as("contaminated"))
    val decision =
      when(col("contaminated"), "drop_contaminated")
        .when(!col("dd_keep"), "drop_duplicate")
        .when(col("q_reason") =!= "keep",
          concat(lit("drop_"), col("q_reason")))
        .otherwise("keep")
    quality.join(dedup, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), decision.as("decision"),
        (decision === "keep").as("keep"))
  }

  private def labelsBody(s: SparkSession, d: String): DataFrame = {
    val edges = pairsIndex(s, d)
      .select(col("ia"), col("ib"))
    val comps = graft.operators.DedupClustering.connectedComponentsStar(edges)
      .withColumnRenamed("cluster_id", "cid")
    // labeled feeds TWO branches (the size aggregate and the final
    // join) — persist it so the documents scan + component join run
    // once per action, not twice; released by SparkEntry.release().
    val labeled = t(s, d, "documents").select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cid"), col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = labeled.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_rep")
      .select(col("doc_id"), col("cluster_rep"),
        (col("doc_id") === col("cluster_rep")).as("keep"),
        col("cluster_size"))
  }

  /** d28's pair derivation over a given shingle table and its
    * exploded posting stream (the served [[postingsIndex]]): shingle
    * equi-join candidates →
    * inclusion-exclusion Jaccard ≥ 0.8. */
  private def neardupPairsFrom(sh: DataFrame, ex: DataFrame): DataFrame = {
    // join on xxhash64(shingle), not the shingle string: the shuffle
    // ships and compares 8-byte keys instead of ~20-byte strings
    // (64-bit collision odds across a 100 TB shingle set are ~1e-11 —
    // far below the FP noise floor the rounded oracle tolerates).
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val exA = ex.select(col("doc_id").as("ia"), col("sv"))
    val exB = ex.select(col("doc_id").as("ib"), col("sv").as("svb"))
    val pairs = exA
      .join(exB, col("sv") === col("svb") && col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
      .withColumn("jac",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.8)
      .select(col("ia"), col("ib"), round(col("jac"), 4).as("jaccard"))
  }

  /** Distinct word-5-grams per doc — the decontamination unit shared
    * by d38 (exact join) and d66/d67 (broadcast bloom): benchmark
    * queries are matched at 5-gram granularity so a contaminated doc
    * is caught even when it embeds a benchmark item inside other
    * text. Deliberately NOT repartitioned (unlike [[shingles]]):
    * the r17 scan-parallelism check was run — an up-front spread of
    * the single-split test corpus measured a WASH at sf0.1 (d66
    * 1.6–1.8 s either way, A/B'd) because the native BloomProbe made
    * the per-gram work too cheap to amortize a corpus-text shuffle,
    * and at real scale the table arrives already split, where an
    * unconditional repartition is pure shuffle waste. */
  private[graft] def fiveGrams(df: DataFrame): DataFrame = df
    .withColumn("w", tokens(col("text")))
    .filter(size(col("w")) >= 5)
    .select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(0, size(w)-5), i -> " +
        "concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))")))
      .as("g"))

  /** d66's bloom geometry, shared with the streaming twin
    * ([[graft.streaming.EventStreams.bloomDecontamStream]]) so the
    * batch and stream probes provably hash one way: m = 2²¹ bits,
    * k = 3 positions per key, each a 24-bit md5 hex slice mod m
    * (2²⁴ ≡ 0 mod 2²¹ — no modulo bias). Compile-time constants so the
    * DuckDB oracle replays membership bit-for-bit. */
  private[graft] val BloomBits: Int = 1 << 21

  private[graft] def bloomPos(i: Int, g: Column): Column =
    bloomPosM(BloomBits, i, g)

  /** All-k membership probe against a bitmap shipped as an
    * array<bigint> literal: getbit on the word at pos/64 — pure
    * codegen'd column functions, no join, no UDF. */
  private[graft] def bloomHit(bm: Column)(g: Column): Column =
    bloomHitM(BloomBits, bm)(g)

  /** The d38/d66 benchmark key set (distinct 5-grams of the held-out
    * split) — package-visible so the streaming twin's test builds its
    * bitmap from the IDENTICAL key set. */
  private[graft] def benchmarkGrams(s: SparkSession, d: String): DataFrame =
    fiveGrams(t(s, d, "documents").filter(col("doc_id") % 7 === 0))
      .select(col("g")).distinct()

  /** d67's parameterized variants of the d66 geometry: position i of
    * key g in an m-bit bloom (m a power of two ≤ 2²⁴ so the 24-bit md5
    * slice mods without bias), and the m-bit bitmap builder. d66's
    * fixed-m helpers above stay the production pair; these exist so
    * the sizing sweep provably runs the same construction at every
    * arm. */
  private[graft] def bloomPosM(mBits: Int, i: Int, g: Column): Column = {
    require(mBits > 0 && (mBits & (mBits - 1)) == 0 && mBits <= (1 << 24),
      s"mBits must be a power of two <= 2^24, got $mBits")
    conv(substring(md5(g), 1 + 6 * i, 6), 16, 10).cast("long") % mBits
  }

  private[graft] def bloomHitM(mBits: Int, bm: Column)(g: Column): Column =
    (0 until 3).map { i =>
      val p = bloomPosM(mBits, i, g)
      getbit(element_at(bm, shiftright(p, 6).cast("int") + 1),
        (p % 64).cast("int")) === 1
    }.reduce(_ && _)

  /** The PRODUCTION probe — the native fused
    * [[graft.functions.BloomProbe]] expression (one thread-local md5 +
    * three raw-byte slices + three bit tests per key) instead of
    * [[bloomHitM]]'s three conv/substring/md5/getbit column chains.
    * Membership is bit-identical (the slices are the same 24-bit
    * values — fuzz-pinned against bloomHitM in VectorFunctionsSpec),
    * so every oracle is untouched. */
  private[graft] def bloomProbe(bits: Array[Long])(g: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.BloomProbe(
      org.apache.spark.sql.GraftBridge.expression(g), bits))

  private[graft] def bloomBitmapM(mBits: Int, bench: DataFrame,
      key: String): Array[Long] = {
    val positions = bench
      .select(explode(array((0 until 3).map(i =>
        bloomPosM(mBits, i, col(key))): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val bitmap = new Array[Long](mBits / 64)
    positions.foreach(p => bitmap((p >> 6).toInt) |= (1L << (p & 63).toInt))
    bitmap
  }

  /** Fold a benchmark key column into the driver-side bloom bitmap —
    * ONE bounded job (distinct positions ≤ [[BloomBits]] by
    * construction, never corpus-sized; the s40 trained-quantizer
    * posture). */
  private[graft] def bloomBitmap(bench: DataFrame, key: String): Array[Long] =
    bloomBitmapM(BloomBits, bench, key)

  /** Multi-arm bitmap build in ONE bounded job (ADVICE r17): d67's
    * sweep previously ran [[bloomBitmapM]] once per arm, and with the
    * benchmark-gram frame unpersisted each collect re-ran the whole
    * fiveGrams + distinct pass. Every arm is a power of two ≤ 2²⁴ and
    * the 24-bit md5 slice IS the m = 2²⁴ position, so pos_m =
    * slice & (m−1) — collect the distinct RAW slices once (≤ min(3·
    * |bench|, 2²⁴) values) and derive every arm driver-side by
    * masking. Set arithmetic makes this exact: distinct-then-mask ≡
    * mask-then-distinct, so each arm's bitmap is bit-identical to its
    * own bloomBitmapM build (spec-pinned in DedupSpec) and no oracle
    * moves. */
  private[graft] def bloomBitmapsM(ms: Seq[Int], bench: DataFrame,
      key: String): Map[Int, Array[Long]] = {
    ms.foreach(m => require(m > 0 && (m & (m - 1)) == 0 && m <= (1 << 24),
      s"every arm must be a power of two <= 2^24, got $m"))
    val slices = bench
      .select(explode(array((0 until 3).map(i =>
        bloomPosM(1 << 24, i, col(key))): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    ms.map { m =>
      val bitmap = new Array[Long](m / 64)
      slices.foreach { s0 =>
        val p = s0 & (m - 1)
        bitmap((p >> 6).toInt) |= (1L << (p & 63).toInt)
      }
      m -> bitmap
    }.toMap
  }

  /** d61's parameterized variant of [[shingles]]: distinct word-n-gram
    * sets for any n (the 3-gram family ops keep their own fixed
    * builder above). */
  private def shinglesN(s: SparkSession, d: String, n: Int): DataFrame = {
    val words = (0 until n).map(k => s"w[i+$k]").mkString(", ")
    t(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), array_distinct(expr(
        s"transform(sequence(0, size(w)-$n), i -> concat_ws(' ', $words))"))
        .as("shingles"))
  }

  /** d61 oracle: one d33-shaped CTE chain per shingle size, 1-row
    * aggregates UNION ALL'd — generated by the same loop bounds the
    * Spark arms use. Shingle identity is the string itself (the d33
    * note: hashing is an impl detail of the join key). */
  private def d61Oracle: String = {
    val arms = Seq(2, 3, 5).map { n =>
      val words = (0 until n).map(k => s"w[i+$k]").mkString(", ")
      s"""tok$n AS (
         | SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
         | FROM documents WHERE length(trim(text)) > 0),
         |sh$n AS (
         | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-$n+2),
         |   i -> concat_ws(' ', $words))) AS shingles
         | FROM tok$n WHERE len(w) >= $n),
         |ex$n AS (SELECT doc_id, unnest(shingles) AS s FROM sh$n),
         |rare$n AS (SELECT s FROM ex$n GROUP BY s HAVING count(*) <= 50),
         |exc$n AS (SELECT ex$n.doc_id, ex$n.s
         |          FROM ex$n JOIN rare$n USING (s)),
         |cand$n AS (
         | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         | FROM exc$n a JOIN exc$n b ON a.s = b.s AND a.doc_id < b.doc_id),
         |conf$n AS (
         | SELECT len(list_intersect(sa.shingles, sb.shingles))
         |   / (len(sa.shingles) + len(sb.shingles)
         |      - len(list_intersect(sa.shingles, sb.shingles))) AS jac
         | FROM cand$n JOIN sh$n sa ON ia = sa.doc_id
         |  JOIN sh$n sb ON ib = sb.doc_id),
         |agg$n AS (
         | SELECT count(*) AS n_candidates,
         |  CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_confirmed,
         |  CAST(sum(CASE WHEN jac >= 0.8
         |    THEN CAST(round(jac * 10000) AS BIGINT) END) AS BIGINT) AS sj
         | FROM conf$n)""".stripMargin
    }.mkString(",\n")
    val rows = Seq(2, 3, 5).map { n =>
      s"""SELECT CAST($n AS BIGINT) AS shingle_n,
         | (SELECT count(*) FROM sh$n) AS n_docs,
         | (SELECT count(*) FROM ex$n) AS n_instances,
         | (SELECT count(DISTINCT s) FROM ex$n) AS n_distinct_shingles,
         | (SELECT count(*) FROM rare$n) AS n_rare_shingles,
         | agg$n.n_candidates, agg$n.n_confirmed,
         | round(agg$n.sj / CAST(agg$n.n_confirmed * 10000 AS DOUBLE), 6)
         |   AS mean_confirmed_jac
         |FROM agg$n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $arms\n$rows"
  }

  /** d36's permutation field: a prime modulus just above 2^29 keeps
    * every a·x + b strictly below 2^60, so the affine-permutation
    * arithmetic is EXACT 64-bit integer math in both engines (no
    * overflow, no FP). Coefficients are seeded driver literals entering
    * both plans — the s35 discipline that makes seeded LSH
    * oracle-checkable. */
  private val MinhashP = 1000000007L
  private val minhashPerms: (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(42)
    (Array.fill(24)(rng.nextInt(1000000006).toLong + 1L),
      Array.fill(24)(rng.nextInt(1000000007).toLong))
  }

  /** 24 portable minhash values per doc (shared d36/d54): explode the
    * shingle sets, hash each shingle into the permutation field via a
    * 48-bit md5 prefix, take the min of each seeded affine permutation.
    * One partial-agg groupBy on doc_id — the 24 mins combine map-side. */
  private def minhashSigs(sh: DataFrame): DataFrame = {
    val p = MinhashP
    val (as, bs) = minhashPerms
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sstr"))
      .withColumn("x",
        conv(substring(md5(col("sstr")), 1, 12), 16, 10).cast("long") % p)
    val mins = (0 until 24).map(i =>
      min((lit(as(i)) * col("x") + lit(bs(i))) % p).as(s"mh$i"))
    ex.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Candidate pairs from re-banding a [[minhashSigs]] frame at
    * `rowsPerBand` rows per band (24 / rowsPerBand bands): md5 band
    * keys, banded self-equi-join on (band index, key), canonical
    * ia < ib, distinct. */
  private def bandedCandidates(sigs: DataFrame, rowsPerBand: Int): DataFrame = {
    val nBands = 24 / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("bi"),
        md5(concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}").cast("string")): _*)).as("bkey"))
    }
    val banded = sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bk"))
    banded.select(col("doc_id").as("ia"), col("bk"))
      .join(banded.select(col("doc_id").as("ib"), col("bk").as("bkb")),
        col("bk") === col("bkb") && col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
  }

  /** The d28-shaped near-dup edge list at jaccard ≥ 0.5 feeding the
    * triangle queries (d40/d45): canonical (ia < ib), persisted —
    * the edge list feeds every branch of a triangle join; released by
    * SparkEntry.release(). */
  private def neardupEdges05(s: SparkSession, d: String): DataFrame = {
    // serves the memoized shingle index (r20) and the exploded posting
    // tier (r21) — blocks already checkpoint-resident
    val sh = shingleIndex(s, d)
    val ex = postingsIndex(s, d)
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    ex.select(col("doc_id").as("ia"), col("sv"))
      .join(ex.select(col("doc_id").as("ib"), col("sv").as("svb")),
        col("sv") === col("svb") && col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.5)
      .select(col("ia"), col("ib"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group on content digest, keep min doc_id per group.
    "d27_dedup_exact" -> { (s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
    },

    // EXACT CROSS-DOCUMENT SUBSTRING DEDUP — the Lee et al.
    // ("Deduplicating Training Data Makes Language Models Better")
    // operator at chunk granularity: t37/t38 MEASURE duplicated spans,
    // t60 cuts content-defined chunks, this marks what an exact
    // substring-dedup pass REMOVES. Chunks are t60's FastCDC-at-token-
    // granularity cuts (boundary after any token whose hash bucket
    // ≡ 0 mod 8 — content-anchored, so an early insertion cannot shift
    // later chunk identity), keyed CROSS-DOC by chunk md5. A chunk
    // hash seen in more than one DOCUMENT keeps exactly one canonical
    // copy — the globally first occurrence by (doc_id, chunk_idx) —
    // and every other occurrence is a removable span; per source this
    // reports chunk/token totals and the removable-token fraction: the
    // number that says what exact dedup buys BEFORE rewriting the
    // corpus. Within-doc repeats of a chunk no other doc shares are
    // NOT removable — this is the cross-document operator. Shuffles:
    // ONE (chunk_md5) exchange carrying all three window computations
    // → (source) rollup. Everything is chunk-hash-keyed, never
    // all-pairs, and both window keys (doc_id, chunk_md5) are
    // corpus-cardinality — the safe kind at 100 TB.
    "d64_substring_dedup" -> { (s, d) =>
      // r14: chunking runs through the codegen'd cdc_chunks expression
      // — one map-side pass per document, no token-level doc_id
      // exchange (see t60); posexplode's position IS the chunk_idx
      // the canonical pick orders by. Identical chunk table, same
      // oracle.
      // r17: the distinct-doc count rides the SAME chunk_md5 window as
      // the rank — max(dense_rank over doc_id) ≡ countDistinct(doc_id)
      // per hash — instead of a second groupBy + equi-join that
      // re-chunked the corpus from a second FileScan. One scan, one
      // exchange: dense_rank's (doc_id) sort is a prefix of
      // row_number's (doc_id, chunk_idx), and the unordered max needs
      // only the clustering, so Spark adds no extra sort or shuffle.
      graft.functions.VectorFunctions.register(s)
      val chunks = t(s, d, "documents")
        .withColumn("chs",
          graft.functions.VectorFunctions.cdcChunks(col("text")))
        .filter(size(col("chs")) > 0)
        .select(col("doc_id"), col("source"),
          posexplode(col("chs")).as(Seq("chunk_idx", "ch")))
        .select(col("doc_id"), col("source"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("ch.ctokens").as("ctokens"),
          col("ch.chunk_md5").as("chunk_md5"))
      val byHash = Window.partitionBy(col("chunk_md5"))
      val ranked = chunks
        .withColumn("rk", row_number().over(
          byHash.orderBy(col("doc_id").asc, col("chunk_idx").asc)))
        .withColumn("dr", dense_rank().over(
          byHash.orderBy(col("doc_id").asc)))
        .withColumn("n_docs", max(col("dr")).over(byHash))
      val removable = col("n_docs") > 1 && col("rk") > 1
      ranked
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("ctokens")).as("tokens_total"),
          sum(when(removable, 1L).otherwise(0L)).as("removable_chunks"),
          sum(when(removable, col("ctokens")).otherwise(0L))
            .as("removable_tokens"))
        .select(col("source"), col("n_chunks"), col("tokens_total"),
          col("removable_chunks"), col("removable_tokens"),
          round(col("removable_tokens") / col("tokens_total"), 4)
            .as("removable_token_frac"))
    },

    // BYTE-LEVEL cross-document substring dedup (Lee et al. at storage
    // granularity): d64's cross-doc-only rule applied to the CLAMPED
    // gear-CDC chunk table (m53's production chunking) instead of the
    // token-granular cdc_chunks. A chunk hash spanning >1 document
    // keeps its globally first occurrence; every other occurrence —
    // including the canonical doc's own extra copies — is removable
    // BYTES. Within-doc-only repeats are NOT removable (that's what
    // separates this from m53's store accounting, where every repeat
    // is a dedup hit). Same scale posture as d64: chunking is one
    // map-side codegen'd pass, the only shuffles are ONE
    // chunk_md5-keyed exchange (rank + distinct-doc count as window
    // functions over the same partition — the r17 single-scan shape)
    // and the source rollup; the clamp guarantees chunk rows stay
    // ≤ bytes/16 even on zero-run-heavy payloads. Oracle composes the
    // shared recursive cut-walk CTE with d64's rule verbatim.
    "d65_gear_substring_dedup" -> { (s, d) =>
      graft.functions.VectorFunctions.register(s)
      val chunks = t(s, d, "documents")
        .withColumn("payload", encode(col("text"), "utf-8"))
        .filter(length(col("payload")) > 0)
        .select(col("doc_id"), col("source"),
          posexplode(graft.functions.VectorFunctions
            .gearChunksClamped(col("payload"), 16, 4096))
            .as(Seq("chunk_idx", "ch")))
        .select(col("doc_id"), col("source"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("ch.cbytes").as("cbytes"),
          col("ch.chunk_md5").as("chunk_md5"))
      val byHash = Window.partitionBy(col("chunk_md5"))
      val ranked = chunks
        .withColumn("rk", row_number().over(
          byHash.orderBy(col("doc_id").asc, col("chunk_idx").asc)))
        .withColumn("dr", dense_rank().over(
          byHash.orderBy(col("doc_id").asc)))
        .withColumn("n_docs", max(col("dr")).over(byHash))
      val removable = col("n_docs") > 1 && col("rk") > 1
      ranked
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("cbytes")).as("bytes_total"),
          sum(when(removable, 1L).otherwise(0L)).as("removable_chunks"),
          sum(when(removable, col("cbytes")).otherwise(0L))
            .as("removable_bytes"))
        .select(col("source"), col("n_chunks"), col("bytes_total"),
          col("removable_chunks"), col("removable_bytes"),
          round(col("removable_bytes") / col("bytes_total"), 4)
            .as("removable_byte_frac"))
    },

    // Exact near-dup: word-3-gram Jaccard ≥ 0.8 via shingle equi-join
    // (candidate pairs share ≥1 shingle; intersection counted by the
    // join, union by inclusion-exclusion). The family's designated
    // BUILD row (r20): always rebuilds the shingle index AND the pair
    // index (never a memo hit — this bench row keeps measuring
    // tokenize + shingle + candidate join + confirm), and the rebuild
    // refreshes what the serving family reads. Composers
    // (d31/d34/d37/d41/d44/d54/d56/d59) take [[pairsIndex]] — they
    // measure clustering/reporting over a built edge list, not a
    // re-derivation of it.
    "d28_neardup_jaccard" -> { (s, d) =>
      pairsIndex(s, d, rebuild = true)
    },

    // THRESHOLD SENSITIVITY SWEEP — the calibration table a dedup run
    // publishes before picking its Jaccard cutoff: pair count and
    // docs-dropped count at τ ∈ {0.5 … 0.9} from ONE pass over the
    // d28 candidate machinery (score every candidate pair once, then
    // five conditional aggregates — never five scans). The knee of
    // this curve is how τ=0.8 gets justified instead of asserted. The
    // candidate stage is d28's shingle equi-join — linear in shared-
    // shingle pairs, no new shuffle shape; the τ grid rides in as a
    // 5-row broadcast.
    "d52_threshold_sweep" -> { (s, d) =>
      val sh = shingleIndex(s, d) // served, checkpoint-resident (r20)
      val ex = postingsIndex(s, d) // served posting tier (r21)
      val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
      val pairs = ex.select(col("doc_id").as("ia"), col("sv"))
        .join(ex.select(col("doc_id").as("ib"), col("sv").as("svb")),
          col("sv") === col("svb") && col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("inter"))
      val scored = pairs
        .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
        .withColumn("jac",
          col("inter") / (col("na") + col("nb") - col("inter")))
      // explicit double literals (never 0.5 + k·0.1 — FP accumulation
      // would drift off the exact parse of "0.6"/"0.7" the oracle uses)
      val taus = s.range(1).select(explode(array(
        Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)).as("tau"))
      scored.crossJoin(broadcast(taus))
        .groupBy(col("tau"))
        .agg(sum(when(col("jac") >= col("tau"), 1L).otherwise(0L))
            .as("n_pairs"),
          countDistinct(when(col("jac") >= col("tau"), col("ib")))
            .as("n_docs_dropped"))
    },

    // TRIANGLE enumeration on the near-dup graph — the third graph
    // primitive beside CC (d31/d34) and PageRank (d37): triangles are
    // the clustering-coefficient / community-density signal a dedup
    // pipeline uses to tell tight dup-cliques from chains of marginal
    // matches. Edges = d28's shingle-join pairs at jaccard >= 0.5
    // (binary-exact threshold). Enumeration is the classic two-path +
    // closure join (Suri & Vassilvitskii's MapReduce pattern): edges
    // are stored once with ia < ib, so each triangle a<b<c is emitted
    // exactly once — path (a,b)+(b,c) closed by edge (a,c). Both joins
    // are equi-joins on vertex ids; the edge list persists once and
    // feeds all three branches. At 100 TB the refinement is degree-
    // ordering instead of id-ordering (bounds the path fan-out by
    // degeneracy) — implemented as d45_triangles_ordered below, same
    // oracle; id-ordering here stays as the oracle-transparent shape.
    "d40_triangles" -> { (s, d) =>
      graft.operators.Triangles.idOrdered(neardupEdges05(s, d))
    },

    // The SAME triangle set through the degree-ordered production
    // variant (graft.operators.Triangles.degreeOrdered): vertices rank
    // by (degree, id), edges orient low→high, so the two-path fan-out
    // is bounded by graph DEGENERACY instead of hub degree — the
    // refinement d40's scaladoc names for 100 TB (a planted hub costs
    // id-order quadratically; StressBench measures the gap). Output
    // rows are identical (a < b < c by id), so d40's oracle is shared
    // verbatim.
    "d45_triangles_ordered" -> { (s, d) =>
      graft.operators.Triangles.degreeOrdered(neardupEdges05(s, d))
    },

    // CONTAINMENT near-dup — the asymmetric companion to d28's
    // Jaccard: C(A,B) = |A∩B| / min(|A|,|B|) flags a SMALLER document
    // embedded in a larger one (quotes, excerpts, prepended-header
    // copies) that symmetric Jaccard structurally misses — a 30-shingle
    // doc fully contained in a 300-shingle doc scores J ≈ 0.1 but
    // C = 1.0. Training pipelines drop or down-weight these as partial
    // duplicates. The plan is EXACTLY d28's candidate shape (shingle
    // hash equi-join → pair counts → size lookups), only the final
    // normalization differs — so the 100 TB posture is d28's, and the
    // d33 stop-shingle cap composes the same way if boilerplate widens
    // the join. Exact integer division, one 4-dp final round.
    "d46_containment" -> { (s, d) =>
      val sh = shingleIndex(s, d) // served, checkpoint-resident (r20)
      val ex = postingsIndex(s, d) // served posting tier (r21)
      val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
      ex.select(col("doc_id").as("ia"), col("sv"))
        .join(ex.select(col("doc_id").as("ib"), col("sv").as("svb")),
          col("sv") === col("svb") && col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
        .withColumn("containment",
          col("inter") / least(col("na"), col("nb")))
        .filter(col("containment") >= 0.9)
        .select(col("ia"), col("ib"), col("inter").cast("long").as("inter"),
          round(col("containment"), 4).as("containment"))
    },

    // d28 with STOP-SHINGLE capping — the 100 TB hardening: a shingle
    // appearing in more than `maxDf` docs generates O(df²) candidate
    // pairs on its own (boilerplate headers/footers are the classic
    // poison), so it is dropped from candidate GENERATION; the exact
    // Jaccard confirm still runs on the FULL shingle sets, so scores
    // are exact — capping can only lose pairs whose every shared
    // shingle is ubiquitous, which at jaccard ≥ 0.8 means boilerplate
    // twins, not content dups. StressBench: under planted boilerplate
    // the uncapped join explodes quadratically; this stays linear.
    "d33_neardup_capped" -> { (s, d) =>
      // d33 is the BUILD row of the capped-pipeline tiers (r21): its
      // row measures the df aggregate + cap join (ex50), the candidate
      // self-join and the exact full-set array confirm (sc50) over the
      // SERVED posting list; the published rows are the ≥ 0.8 slice.
      scoredCappedIndex(s, d, rebuild = true)
        .filter(col("jac") >= 0.8)
        .select(col("ia"), col("ib"), round(col("jac"), 4).as("jaccard"))
    },

    // Near-dup CLUSTERING: connected components over the d28 edge list
    // (min-label propagation — graft.operators.DedupClustering), so one
    // canonical doc survives per duplicate cluster. Oracle: transitive
    // closure via DuckDB recursive CTE.
    "d31_dedup_clusters" -> { (s, d) =>
      val edges = pairsIndex(s, d).select(col("ia"), col("ib"))
      graft.operators.DedupClustering.connectedComponents(edges)
    },

    // Same clustering contract as d31, but via alternating large-star/
    // small-star rounds (Kiveris et al.) — O(log n) rounds regardless
    // of component diameter where d31's label propagation needs
    // O(diameter) supersteps. This is the registry's scale-safe CC
    // path: a transitive 10k-long dup chain converges in ~14 rounds
    // here vs 10k there (StressBench `cc` scenario measures both).
    // Shares d31's recursive-CTE oracle verbatim.
    "d34_dedup_clusters_star" -> { (s, d) =>
      val edges = pairsIndex(s, d).select(col("ia"), col("ib"))
      graft.operators.DedupClustering.connectedComponentsStar(edges)
    },

    // CANONICAL KEEP-LIST — the end-to-end dedup OUTPUT a pipeline
    // actually ships: near-dup edges (d28) → connected components (the
    // scale-safe star variant, d34) → one canonical survivor per
    // cluster. The component label IS the min member id, so keep ≡
    // (doc_id = cluster_rep) with no extra argmin pass; docs outside
    // every edge are their own singleton cluster via the left join.
    // Composes three green pieces with no new shuffle shape: beyond
    // the d28 edge build, exchanges are keyed by doc_id (component
    // join) and cluster_rep (size aggregate).
    "d41_canonical_docs" -> { (s, d) => labelsIndex(s, d, rebuild = true) },

    // SIGNAL AGREEMENT — the multi-signal dedup AUDIT: for every
    // lexical near-dup pair (d28, jaccard ≥ 0.8), the pair's embedding
    // cosine — do the two duplicate signals agree? A pipeline runs
    // this before trusting either signal alone (low-cosine lexical
    // dups flag template noise; the inverse flags paraphrase dups the
    // lexical pass misses). Cosine is computed ONLY for the already-
    // bounded pair set — never all-pairs — via two vec_id equi-joins,
    // so the embedding table streams through keyed by id.
    "d43_signal_agreement" -> { (s, d) =>
      graft.functions.VectorFunctions.register(s)
      val pairs = pairsIndex(s, d)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      pairs
        .join(e.select(col("vec_id").as("ia"), col("emb").as("ea")), "ia")
        .join(e.select(col("vec_id").as("ib"), col("emb").as("eb")), "ib")
        .select(col("ia"), col("ib"), col("jaccard"),
          round(graft.functions.VectorFunctions.cosineSim(
            col("ea"), col("eb")), 4).as("cosine"))
    },

    // END-TO-END CORPUS CLEANING — the flagship composition: the final
    // keep/drop decision a pretraining data pipeline materializes,
    // folding the quality gate (t35), the near-dup keep-list (d41) and
    // benchmark decontamination (d38) into one verdict per document
    // with a first-failing-rule reason, precedence contaminated >
    // duplicate > quality. All three inputs are green registry
    // entries; the joins are doc_id equi-joins, so the composition
    // adds no new shuffle shape. (Bench-side docs, id % 7 = 0, are
    // d38's benchmark and cannot be flagged contaminated by
    // construction — they face the other two gates like any doc.)
    "d44_clean_corpus" -> { (s, d) => verdictIndex(s, d, rebuild = true) },

    // DEDUP REPORT — the per-source dataset-card table a cleaning run
    // publishes: document counts, kept counts, duplicate rate, and the
    // largest dup cluster touching each source. Composes d41's
    // keep-list with the documents metadata (one doc_id equi-join —
    // AQE broadcasts the 4-column keep-list when it fits) and reduces
    // by source; dup_rate is exact long arithmetic divided once,
    // rounded at 4 dp.
    "d42_dedup_report" -> { (s, d) =>
      val keep = labelsIndex(s, d)
      t(s, d, "documents").select(col("doc_id"), col("source"))
        .join(keep, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          max(col("cluster_size")).as("max_cluster_size"))
        .withColumn("dup_rate",
          round((col("n_docs") - col("n_kept")) / col("n_docs"), 4))
    },

    // PER-SOURCE CONTAMINATION REPORT — d38's dataset-card rollup: of
    // each source's corpus-side documents, how many carry benchmark
    // 5-grams and at what rate. The report a release publishes next to
    // d42's dup rates. One doc_id left join of the (small) d38 hit
    // list onto the corpus metadata + a source reduce; exact integers,
    // one 4-dp final round.
    "d47_contamination_report" -> { (s, d) =>
      val contam = queries("d38_decontamination")(s, d)
        .select(col("doc_id"), lit(1L).as("c"))
      t(s, d, "documents").filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"))
        .join(contam, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("c").isNotNull, 1L).otherwise(0L))
            .as("n_contaminated"))
        .withColumn("contam_rate",
          round(col("n_contaminated") / col("n_docs"), 4))
    },

    // CLUSTER-SIZE HISTOGRAM — the dup-mass distribution behind d42's
    // per-source rates: clusters bucketed by floor(log2(size)), with
    // cluster and document counts per bucket (bucket 0 = singletons —
    // the unique mass; high buckets = boilerplate explosions worth
    // inspecting before dropping). The log2 is computed EXACTLY as
    // length(bin(n)) - 1 — integer arithmetic in both engines, where
    // ln(n)/ln(2) floors WRONG on exact powers of two (ln(8)/ln(2) =
    // 2.9999999999999996). One reduce over d41's per-cluster rows.
    "d48_cluster_sizes" -> { (s, d) =>
      labelsIndex(s, d)
        .filter(col("keep"))
        .select((length(bin(col("cluster_size"))) - 1).cast("long")
            .as("log2_size"),
          col("cluster_size"))
        .groupBy(col("log2_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"))
    },

    // Incremental near-dup: the daily-ingest shape — pairs touching the
    // "new batch" (top 10% of doc_ids) against the whole corpus. The
    // corpus side's exploded shingles are pruned by a broadcast semi-
    // join on the new batch's distinct shingle hashes BEFORE any
    // shuffle (operators.IncrementalDedup; bloom variant + shuffle-cut
    // evidence in StressBench), so shuffle volume scales with the new
    // batch, not the lake. The max(doc_id) threshold stays in-plan via
    // a broadcast cross join — no collect.
    "d35_incremental_dedup" -> { (s, d) =>
      val mx = t(s, d, "documents").agg(max(col("doc_id")).as("mx"))
      // exact integer arithmetic (doc_id*10 >= mx*9 ≡ doc_id >= 0.9*mx)
      // so the boundary doc classifies identically in both engines even
      // when mx is a multiple of 10 — a double 0.9*mx can land a ULP
      // above the exact product and flip the comparison. The exploded
      // stream comes from the SERVED posting tier (r21) — the is_new
      // mark is a broadcast-scalar projection over resident blocks, so
      // the per-invocation tokenize+explode+persist is gone; the exact
      // confirm reads the served shingle index.
      val exM = postingsIndex(s, d).crossJoin(broadcast(mx))
        .withColumn("is_new", col("doc_id") * 10 >= col("mx") * 9)
        .select(col("doc_id"), col("is_new"), col("sv"))
      graft.operators.IncrementalDedup.pairsFrom(exM,
        shingleIndex(s, d), 0.8, "semi")
    },

    // Fixed-point PageRank over the near-dup graph (rank canonical
    // docs inside dup neighborhoods). 10 fixed iterations of PURE
    // 64-bit integer arithmetic (ranks scaled 1e12, truncating div) —
    // integer sums commute where float sums don't, so an ITERATIVE
    // numeric algorithm hash-matches the oracle bit for bit (the
    // DuckDB side unrolls the same 10 iterations as chained CTEs).
    "d37_pagerank" -> { (s, d) =>
      val edges = pairsIndex(s, d).select(col("ia"), col("ib"))
      graft.operators.GraphRank.pagerankFixedPoint(edges, iters = 10)
    },

    // SimHash: 64-bit per-doc fingerprint from xxhash64(token) bit
    // votes, plus 4×16-bit band keys for bucketed near-dup search.
    // No DuckDB oracle (xxhash64 is Spark-specific) → rows-only +
    // scalatest invariants.
    "d29_simhash" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .withColumn("h", xxhash64(col("tok")))
      val votes = (0 until 64).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"b$b")
      }
      val sig = (0 until 64).map { b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
      tok.groupBy(col("doc_id"))
        .agg(votes.head, votes.tail: _*)
        .withColumn("simhash", sig)
        .select(col("doc_id"), col("simhash"),
          shiftright(col("simhash"), 48).bitwiseAND(lit(0xffffL)).as("band0"),
          shiftright(col("simhash"), 32).bitwiseAND(lit(0xffffL)).as("band1"),
          shiftright(col("simhash"), 16).bitwiseAND(lit(0xffffL)).as("band2"),
          col("simhash").bitwiseAND(lit(0xffffL)).as("band3"))
    },

    // SimHash near-dup SEARCH — the consumer d29's fingerprint exists
    // for: band the signature into 16-bit keys, equi-join on (band,
    // value) so the shuffle partitions by band key (never all-pairs),
    // then confirm candidates with bit_count(xor) <= 6. Unlike d29
    // (engine-specific xxhash64, rows-only) this uses a PORTABLE
    // 48-bit signature built from md5 nibbles — bit b of a token's
    // hash is bit (b%4) of hex digit b/4 — so DuckDB reproduces the
    // identical fingerprint and the whole search is hash-checked.
    "d32_simhash_hamming" -> { (s, d) =>
      val tok = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      // ONE custom TypedImperativeAggregate (48-slot vote buffer,
      // partial-merged map-side) instead of 12 nibble columns + 48
      // sum(CASE) aggregates — bit-identical layout, so the DuckDB
      // oracle is untouched. Signature table feeds band keying AND both
      // sides of the confirm join — persist at the documented reuse
      // point (as d28 does).
      val sigs = tok.groupBy(col("doc_id"))
        .agg(graft.functions.SimHash48Agg.simhash48(col("tok")).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val banded = sigs.select(col("doc_id"), col("sig"),
        explode(array(
          struct(lit(0).as("bi"),
            shiftright(col("sig"), 32).bitwiseAND(lit(0xffffL)).as("bv")),
          struct(lit(1).as("bi"),
            shiftright(col("sig"), 16).bitwiseAND(lit(0xffffL)).as("bv")),
          struct(lit(2).as("bi"),
            col("sig").bitwiseAND(lit(0xffffL)).as("bv")))).as("b"))
      banded.select(col("doc_id").as("ia"), col("sig").as("sa"), col("b"))
        .join(banded.select(col("doc_id").as("ib"), col("sig").as("sb"),
          col("b").as("bb")),
          col("b") === col("bb") && col("ia") < col("ib"))
        .select(col("ia"), col("ib"), col("sa"), col("sb")).distinct()
        .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
        .filter(col("hamming") <= 6)
        .select(col("ia"), col("ib"), col("hamming"))
    },

    // PORTABLE banded MinHash — the oracle-checkable rendering of d30:
    // 24 seeded affine permutations h_i(x) = (a_i·x + b_i) mod p over a
    // portable 48-bit shingle hash (md5 prefix — Spark `conv`, DuckDB
    // nibble arithmetic), banded 6×4, candidates from the (band,
    // md5-of-band-signature) equi-join, exact Jaccard confirm on full
    // shingle sets. The permutation coefficients are driver literals in
    // BOTH engines' plans (the s35 discipline), so unlike MLlib's
    // MinHashLSH (engine-private seeds → d30 stays rows-only) this one
    // hash-matches end to end. All arithmetic stays < 2^60 (a,x < 2^30)
    // so BIGINT math is exact in both engines. Scale: the shuffle keys
    // are (band, 16-byte key) — never all-pairs; banding recall at
    // j=0.8 is 1-(1-0.8⁴)⁶ ≈ 0.956, and candidates the bands miss are
    // misses in the oracle too (it replays the same bands).
    "d36_minhash_banded" -> { (s, d) =>
      val sh = shingleIndex(s, d) // served, checkpoint-resident (r20)
      val cands = bandedCandidates(minhashSigs(sh), rowsPerBand = 4)
      cands
        .join(sh.select(col("doc_id").as("ia"), col("shingles").as("sa")), "ia")
        .join(sh.select(col("doc_id").as("ib"), col("shingles").as("sb")), "ib")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jac", col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")))
        .filter(col("jac") >= 0.8)
        .select(col("ia"), col("ib"), round(col("jac"), 4).as("jaccard"))
    },

    // LSH BAND-CONFIGURATION SWEEP — the operating curve that justifies
    // d36's (r=4, b=6) banding instead of asserting it: ONE 24-value
    // signature pass, re-banded at r ∈ {2, 4, 6, 8} rows per band
    // (b = 24/r bands), and for each config the candidate-pair count
    // (the cost: pairs that reach the exact confirm) and the confirmed
    // ≥ 0.8 count, with recall against the complete d28 exact pair set
    // (complete because any pair with Jaccard > 0 shares a shingle).
    // Smaller r → higher recall, more false candidates; larger r → the
    // reverse. Signatures and shingle sets persist once across all four
    // arms; each arm's only quadratic work is its banded equi-join —
    // bounded by actual band collisions, never all-pairs. At 100 TB
    // this is an EVAL op: run it on a bounded sample to pick (r, b),
    // then run d36 at the chosen config on the full corpus.
    "d54_band_sweep" -> { (s, d) =>
      val sh = shingleIndex(s, d) // served, checkpoint-resident (r20)
      val sigs = minhashSigs(sh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = pairsIndex(s, d)
        .agg(count(lit(1)).as("n_exact"))
      val arms = Seq(2, 4, 6, 8).map { r =>
        bandedCandidates(sigs, rowsPerBand = r)
          .join(sh.select(col("doc_id").as("ia"), col("shingles").as("sa")),
            "ia")
          .join(sh.select(col("doc_id").as("ib"), col("shingles").as("sb")),
            "ib")
          .withColumn("jac", size(array_intersect(col("sa"), col("sb"))) /
            (size(col("sa")) + size(col("sb")) -
              size(array_intersect(col("sa"), col("sb")))))
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("jac") >= 0.8, 1L).otherwise(0L))
              .as("n_confirmed"))
          .select(lit(r).as("rows_per_band"), lit(24 / r).as("n_bands"),
            col("n_candidates"), col("n_confirmed"))
      }
      arms.reduce(_ unionByName _)
        .crossJoin(broadcast(exact))
        .withColumn("recall", round(col("n_confirmed") / col("n_exact"), 4))
        .drop("n_exact")
    },

    // SHINGLE-SIZE SWEEP — the OTHER near-dup knob beside d54's
    // banding: the same rare-anchor candidate pipeline (d33's df ≤ 50
    // cap) run at word-n-gram sizes n ∈ {2, 3, 5}, reporting per arm
    // the candidate cost and the confirmed ≥ 0.8 pairs. Shorter
    // shingles collide more (cost explodes), longer ones fragment
    // (anchors go rare, candidates vanish) — on this corpus the
    // confirmed set holds constant across n while candidates span
    // 104k → 37, which is exactly the trade the sweep exists to show.
    // The df cap makes every arm's self-join rarity-bounded, and the
    // cap bites HARDER as the corpus grows (common shingles cross the
    // threshold), so arm cost does not scale with corpus²; the mean
    // confirmed Jaccard aggregates 4-dp-rounded values in integer
    // units so the FP summation order can't leak into the hash.
    // At 100 TB this is an EVAL op on a bounded sample (the d54
    // posture): pick n, then run the chosen config corpus-wide.
    // LIFECYCLE: each arm's 1-row aggregate is materialized EAGERLY
    // (head() on a provably 1-row frame — the scale-safe collect
    // posture) inside the arm's own [[graft.Blocks]] scope, so its
    // persists are released as soon as that row exists and no arm's
    // cache outlives its use (the r11 eviction-pressure finding). The
    // three arms submit as CONCURRENT jobs (Spark's scheduler
    // interleaves them exactly as the old lazy union did), so the eager
    // lifecycle costs no wall-clock vs the r11 single-action form.
    // LAZINESS (r17): the whole sweep sits behind a DeferredRowsPlan
    // leaf — building the DataFrame is plan-only (explain/schema/driver
    // warm-up run no jobs); the first ACTION fires the thunk on the
    // driver, which runs the three arms and memoizes the 3 result rows.
    // Each arm body sits inside scala.concurrent.blocking so the
    // global pool spawns threads for the blocking head() calls — on
    // hosts with < 3 pool threads the arms would otherwise serialize.
    "d61_shingle_size_sweep" -> { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val d61Schema = StructType(
        Seq("shingle_n", "n_docs", "n_instances", "n_distinct_shingles",
          "n_rare_shingles", "n_candidates", "n_confirmed")
          .map(StructField(_, LongType, nullable = true)) :+
          StructField("mean_confirmed_jac", DoubleType, nullable = true))
      graft.plans.DeferredRows.ofRows(s, d61Schema) { () =>
      import scala.concurrent.{Await, ExecutionContext, Future, blocking}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = Seq(2, 3, 5).map { n =>
        Future { blocking { graft.Blocks.scoped { b =>
        // the 3-gram arm is exactly the family's shingle index
        // ([[shinglesN]] at n = 3 ≡ [[shingles]]) — serve it, its
        // exploded posting tier, and the df ≤ 50 capped tier (the arm
        // runs the same [[NeardupMaxDf]] cap) from the memo (r20/r21);
        // the 2-/5-gram arms run the same bodies over their own
        // shingles, persisted in the arm's scope. Served frames are
        // pinned tiers and never enter the scope.
        val served = n == 3
        val sh =
          if (served) shingleIndex(s, d) else b.persist(shinglesN(s, d, n))
        val ex =
          if (served) postingsIndex(s, d) else b.persist(postingsBody(sh))
        val stats0 = ex.agg(count(lit(1)).as("n_instances"),
          countDistinct(col("sv")).as("n_distinct_shingles"))
        val exc =
          if (served) cappedPostingsIndex(s, d)
          else b.persist(cappedPostingsBody(ex))
        // the capped stream's distinct sv set IS the rare set, so the
        // rare count reads the (possibly served) capped tier directly
        val nRare = exc.select(col("sv")).distinct()
          .agg(count(lit(1)).as("n_rare_shingles"))
        // the 3-gram arm's scored candidates are exactly the sc50 tier
        // (same cap, same exact full-set Jaccard, unthresholded) — the
        // d61-only arms score their own capped postings the same way
        val scored =
          if (served) scoredCappedIndex(s, d) else scoredBody(sh, exc)
        val agg = scored
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("jac") >= 0.8, 1L).otherwise(0L))
              .as("n_confirmed"),
            sum(when(col("jac") >= 0.8,
              expr("CAST(round(jac * 10000) AS BIGINT)"))).as("sj"))
        val docs = sh.agg(count(lit(1)).as("n_docs"))
        val armDf = docs.crossJoin(stats0).crossJoin(nRare).crossJoin(agg)
          .select(lit(n.toLong).as("shingle_n"), col("n_docs"),
            col("n_instances"), col("n_distinct_shingles"),
            col("n_rare_shingles"), col("n_candidates"),
            col("n_confirmed"),
            round(col("sj") / (col("n_confirmed") * lit(10000L))
              .cast("double"), 6).as("mean_confirmed_jac"))
        armDf.head()
      } } } }
      futures.map(Await.result(_, Duration.Inf))
      }
    },

    // MINHASH ESTIMATOR CALIBRATION — d54's companion: where d54 tunes
    // the BANDING, this audits the ESTIMATOR itself. For every
    // confirmed near-dup pair (d28, exact Jaccard ≥ 0.8), the fraction
    // of the 24 shared minhash slots that agree — the signature's own
    // Jaccard estimate — beside the exact value. With 24 hashes the
    // estimator's σ ≈ √(J(1−J)/24) ≈ 0.08 at J = 0.8; a pair whose
    // estimate sits far outside that envelope means the signature (not
    // the banding) is miscalibrated for that document shape. Signatures
    // join ONLY onto the already-bounded confirmed pair set, keyed by
    // doc id — the corpus-wide work is d28's own plus one signature
    // pass. n_agree/24 is an exact-operand IEEE quotient in both
    // engines, so est and err ship unrounded.
    "d56_minhash_calibration" -> { (s, d) =>
      val pairs = pairsIndex(s, d)
      val sigs = minhashSigs(shingleIndex(s, d))
      val aCols = col("doc_id").as("ia") +:
        (0 until 24).map(i => col(s"mh$i").as(s"a$i"))
      val bCols = col("doc_id").as("ib") +:
        (0 until 24).map(i => col(s"mh$i").as(s"b$i"))
      val agree = (0 until 24)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      pairs
        .join(sigs.select(aCols: _*), "ia")
        .join(sigs.select(bCols: _*), "ib")
        .withColumn("n_agree", agree)
        .select(col("ia"), col("ib"), col("jaccard"), col("n_agree"),
          (col("n_agree") / lit(24)).as("sig_est"),
          abs(col("n_agree") / lit(24) - col("jaccard")).as("abs_err"))
    },

    // MinHash + LSH banding near-dup (probabilistic, seeded): shingle
    // sets → HashingTF index space → MinHashLSH approxSimilarityJoin.
    // distCol is the exact Jaccard distance on the hashed sets; LSH only
    // prunes candidates. Rows-only vs the oracle; recall vs d28 is
    // asserted in scalatest.
    "d30_minhash_lsh" -> { (s, d) =>
      val sh = shingleIndex(s, d) // served, checkpoint-resident (r20)
      val tf = new HashingTF().setInputCol("shingles").setOutputCol("tfv")
        .setNumFeatures(1 << 18).setBinary(true)
      val vecs = tf.transform(sh)
      // 8 OR-amplified tables: for the ≥0.7-similarity pairs this join
      // targets, per-table collision P == jaccard, so miss probability
      // is (1-0.7)^8 ≈ 7e-5 — 16 tables doubled the join cost for no
      // measurable recall.
      val mh = new MinHashLSH().setInputCol("tfv").setOutputCol("sig")
        .setNumHashTables(8).setSeed(42)
      val model = mh.fit(vecs)
      model.approxSimilarityJoin(vecs, vecs, 0.3, "jaccard_dist")
        .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
        .select(col("datasetA.doc_id").as("ia"),
          col("datasetB.doc_id").as("ib"),
          round(lit(1.0) - col("jaccard_dist"), 4).as("est_jaccard"))
    },

    // BENCHMARK DECONTAMINATION — the eval-leak scan every training
    // corpus needs: a training doc is contaminated if it shares any
    // word-5-gram with the benchmark set (here: doc_id % 7 == 0 stands
    // in for the eval suite; in production it is a separate small
    // table). The asymmetry is the whole design: the benchmark side is
    // MBs where the corpus is TBs, so its distinct 5-gram hashes
    // BROADCAST and the corpus-side match is a map-side hash probe —
    // the 100 TB corpus is never shuffled; the only exchange is the
    // per-doc hit count over the (tiny) surviving matches. Both sides
    // push their doc_id % 7 filter into the parquet scan.
    // TRAIN/EVAL SPLIT LEAKAGE AUDIT — near-dup clusters (d41) that
    // SPAN the deterministic q65 split boundary: exact dedup keeps one
    // doc per cluster, but if a kept train doc's near-duplicate lands
    // in valid/test, eval answers leak into training anyway. This is
    // the audit a pipeline runs BEFORE publishing a split manifest
    // (the standard fix: split by cluster_rep, not doc_id — this row
    // quantifies why). Composes d41's labeled clusters with q65's
    // portable md5 bucket rule; one cluster_rep partial-agg over the
    // multi-member clusters, so the only new shuffle is keyed by
    // cluster — the d42 discipline.
    "d49_split_leakage" -> { (s, d) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long") % 100
      labelsIndex(s, d)
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
        .filter(col("cluster_size") > 1)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test"))
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "valid", 1L).otherwise(0L)).as("n_valid"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .filter(col("n_train") > 0 &&
          (col("n_valid") > 0 || col("n_test") > 0))
    },

    // SHARD LEAKAGE — d49's audit applied to the q110 write layout:
    // near-dup clusters split across training shards defeat
    // shard-local dedup and make per-shard loss statistics lie (the
    // same copy counted as "seen" in two ranks' streams). One row per
    // multi-member cluster that spans >1 shard, carrying the shard
    // fan-out — the input to a cluster-keyed shard assignment (the
    // d50 fix pattern, applied to shards instead of splits). Only
    // shuffle beyond d41's own: the cluster_rep partial agg.
    "d58_shard_leakage" -> { (s, d) =>
      labelsIndex(s, d)
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
        .filter(col("cluster_size") > 1)
        .withColumn("shard",
          graft.queries.SamplingOps.bucket(col("doc_id")) % 16)
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("shard")).as("n_shards"),
          min(col("shard")).as("min_shard"),
          max(col("shard")).as("max_shard"))
        .filter(col("n_shards") > 1)
    },

    // CLUSTER-KEYED SPLIT — the FIX for the leak d49 quantifies: split
    // membership derives from bucket(cluster_rep), not bucket(doc_id),
    // so every member of a near-dup cluster lands in the SAME split by
    // construction and train/eval leakage through near-duplicates is
    // structurally zero (DedupSpec asserts it). Emits the per-split
    // summary a manifest builder consumes; the only shuffle beyond
    // d41's own is the final split partial-agg.
    "d50_cluster_split" -> { (s, d) =>
      val bucket = conv(
        substring(md5(col("cluster_rep").cast("string")), 1, 6),
        16, 10).cast("long") % 100
      labelsIndex(s, d)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_rep")).as("n_clusters"),
          sum(col("doc_id")).as("sum_id"))
    },

    // SOFT DEDUP — the downweighting alternative to dropping: keep
    // every duplicate but weight it 1/cluster_size, so each dup
    // cluster contributes exactly one document's worth of probability
    // mass to the training mix (the repetition-penalty framing of
    // dedup). The table compares, per source, the three budgets a
    // curator chooses between: raw, hard (d41 keep-list), and soft
    // (weighted) — showing how much of the hard-dedup loss soft dedup
    // returns. One doc_id equi-join of the d41 labels onto the token
    // projection, then a per-source partial agg; the per-row weight is
    // an exact-operand division, summed then rounded (4 dp absorbs FP
    // summation order).
    "d57_soft_dedup" -> { (s, d) =>
      val lab = labelsIndex(s, d)
        .select(col("doc_id"), col("keep"), col("cluster_size"))
      val toks = t(s, d, "documents").select(col("doc_id"), col("source"),
        size(graft.queries.TextOps.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      lab.join(toks, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("hard_docs"),
          sum(when(col("keep"), col("n_tokens")).otherwise(0L))
            .as("hard_tokens"),
          round(sum(lit(1.0) / col("cluster_size")), 4).as("soft_docs"),
          round(sum(col("n_tokens") / col("cluster_size")), 4)
            .as("soft_tokens"))
    },

    "d38_decontamination" -> { (s, d) =>
      val docs = t(s, d, "documents")
      // join on the 8-byte hash, not the ~30-byte gram string (d28
      // discipline; collision odds are below the oracle's noise floor)
      val bench = fiveGrams(docs.filter(col("doc_id") % 7 === 0))
        .select(xxhash64(col("g")).as("gh")).distinct()
      fiveGrams(docs.filter(col("doc_id") % 7 =!= 0))
        .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        .join(broadcast(bench), "gh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("hits"))
    },

    // BROADCAST-BLOOM DECONTAMINATION — the shape that survives a
    // benchmark set too big to broadcast exactly: fold the benchmark
    // 5-grams into a FIXED-SIZE bit array (m = 2²¹ bits / 256 KiB,
    // k = 3 probes — both compile-time constants so the DuckDB oracle
    // replays membership bit-for-bit), ship the bitmap into the plan
    // (a long[] referenced straight from generated code), and test
    // every corpus gram MAP-SIDE inside whole-stage codegen through
    // the native fused BloomProbe expression: ONE md5, three raw-byte
    // 24-bit slices, three bit tests. No corpus-side join against the
    // benchmark
    // at all — the membership structure is O(m) bytes REGARDLESS of
    // benchmark cardinality, where d38's exact broadcast set grows
    // with it (the reason blooms are how 100 TB corpora are
    // decontaminated against 100 M-entry benchmark suites in practice;
    // production sizes m at ~10 bits/key — fixed here for oracle
    // parity, and the FP audit below is the table that says what a
    // given m buys). Bloom has NO false negatives, so the exact arm
    // (d38's broadcast join, small at this benchmark size) rides along
    // purely as GROUND TRUTH: per source the report shows docs flagged
    // by each arm and the measured false-positive rate among truly
    // clean docs — the calibration a release publishes before trusting
    // the cheap path. BUILD is one bounded job: distinct bit positions
    // (≤ m by construction, never corpus-sized) collected once into
    // the driver bitmap — the s40 trained-quantizer posture. Shuffles:
    // doc_id partial agg + source rollup only; positions are 24-bit
    // md5 slices mod 2²¹ (2²⁴ ≡ 0 mod 2²¹ — no modulo bias).
    "d66_bloom_decontam" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val bench = benchmarkGrams(s, d)
      val bits = bloomBitmap(bench, "g")
      val corpusDocs = docs.filter(col("doc_id") % 7 =!= 0)
      val benchHashes = bench.select(xxhash64(col("g")).as("gh"),
        lit(true).as("exact_hit"))
      val perDoc = fiveGrams(corpusDocs)
        .withColumn("bloom_hit", bloomProbe(bits)(col("g")))
        .withColumn("gh", xxhash64(col("g")))
        .join(broadcast(benchHashes), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("g_bloom"),
          sum(when(col("exact_hit").isNotNull, 1L).otherwise(0L))
            .as("g_exact"))
      corpusDocs.select(col("doc_id"), col("source"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_grams"), lit(0L))).as("n_grams"),
          sum(coalesce(col("g_bloom"), lit(0L))).as("n_gram_bloom_hits"),
          sum(coalesce(col("g_exact"), lit(0L))).as("n_gram_exact_hits"),
          sum(when(col("g_bloom") > 0, 1L).otherwise(0L))
            .as("n_flagged_bloom"),
          sum(when(col("g_exact") > 0, 1L).otherwise(0L))
            .as("n_flagged_exact"))
        // bloom ⊇ exact doc-wise (no false negatives), so the FP count
        // is a plain difference and the rate is measured over the docs
        // that are truly clean
        .withColumn("n_false_pos",
          col("n_flagged_bloom") - col("n_flagged_exact"))
        .withColumn("fp_rate",
          when(col("n_docs") === col("n_flagged_exact"), lit(0.0))
            .otherwise(round(col("n_false_pos") /
              (col("n_docs") - col("n_flagged_exact")), 4)))
    },

    // BLOOM SIZING SWEEP — d52/d54's operating-curve discipline
    // pointed at d66's one knob: the bitmap size m. ONE corpus gram
    // pass probes all three arms (m = 2¹⁸ undersized / 2²¹ = d66's
    // production / 2²⁴ oversized: one shared md5 + nine getbits per
    // gram), the exact arm rides along once as ground truth, and the
    // 3-row output is the table that justifies the production m — at
    // sf0.1 the undersized arm SATURATES (doc FP → 1.0), production
    // sits ~1%, oversized ~0, with bitmap KiB as the cost column.
    // Same shuffles as d66 (doc_id partial agg), then the rollup is
    // GLOBAL (the knob is corpus-level) so the sweep reduces to one
    // row before a bounded 3-arm explode. All three mods are bias-free
    // (2²⁴ ≡ 0 mod each m).
    "d67_bloom_sizing_sweep" -> { (s, d) =>
      val arms = Seq(1 << 18, 1 << 21, 1 << 24)
      val docs = t(s, d, "documents")
      val bench = benchmarkGrams(s, d)
      // ONE collect builds all three arms (bloomBitmapsM masks the
      // shared 2²⁴ slice set down to each m) — previously three jobs,
      // each re-running the unpersisted benchmark gram pass
      val bms = bloomBitmapsM(arms, bench, "g")
      val corpusDocs = docs.filter(col("doc_id") % 7 =!= 0)
      val benchHashes = bench.select(xxhash64(col("g")).as("gh"),
        lit(true).as("exact_hit"))
      val aggCols = arms.map(m =>
        sum(when(bloomProbe(bms(m))(col("g")), 1L).otherwise(0L))
          .as(s"g_b$m")) :+
        sum(when(col("exact_hit").isNotNull, 1L).otherwise(0L)).as("g_exact")
      val perDoc = fiveGrams(corpusDocs)
        .withColumn("gh", xxhash64(col("g")))
        .join(broadcast(benchHashes), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(aggCols.head, aggCols.tail: _*)
      val totCols = arms.map(m =>
        sum(when(col(s"g_b$m") > 0, 1L).otherwise(0L)).as(s"f_b$m")) ++ Seq(
        sum(when(col("g_exact") > 0, 1L).otherwise(0L)).as("f_exact"),
        count(lit(1)).as("n_docs"))
      val tot = corpusDocs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .agg(totCols.head, totCols.tail: _*)
      tot.select(explode(array(arms.map(m => struct(
            lit(m.toLong).as("m_bits"),
            lit((m / 8 / 1024).toLong).as("bitmap_kib"),
            col(s"f_b$m").as("fb"))): _*)).as("arm"),
          col("n_docs"), col("f_exact"))
        .select(col("arm.m_bits").as("m_bits"),
          col("arm.bitmap_kib").as("bitmap_kib"),
          col("n_docs"),
          col("arm.fb").as("n_flagged_bloom"),
          col("f_exact").as("n_flagged_exact"),
          (col("arm.fb") - col("f_exact")).as("n_false_pos"),
          when(col("n_docs") === col("f_exact"), lit(0.0))
            .otherwise(round((col("arm.fb") - col("f_exact")) /
              (col("n_docs") - col("f_exact")), 4)).as("fp_doc_rate"))
    },

    // QUALITY-CANONICAL ELECTION — production dedup keeps the BEST
    // member of each dup cluster, not the first: for every multi-member
    // d41 cluster, elect the member with the highest t24 quality score
    // (doc_id tie-break — near-identical dups often tie at 4 dp), and
    // flag clusters where the election disagrees with the min-id
    // convention. One doc_id equi-join onto the keep-list, then ONE
    // partial-agg max over a (quality, -doc_id) struct per cluster —
    // the argmax never sorts a cluster, so a pathological million-dup
    // cluster costs its size in comparisons, not a sort. NULL quality
    // (empty docs) keys at -1 so a real score always wins.
    "d55_quality_canonical" -> { (s, d) =>
      val clusters = labelsIndex(s, d)
        .filter(col("cluster_size") > 1)
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
      val q = graft.queries.TextOps.queries("t24_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
      clusters.join(q, "doc_id")
        .withColumn("qkey", coalesce(col("quality"), lit(-1.0d)))
        .groupBy(col("cluster_rep"))
        .agg(max(col("cluster_size")).as("cluster_size"),
          max(struct(col("qkey"), (-col("doc_id")).as("negid")))
            .as("best"))
        .select(col("cluster_rep"), col("cluster_size"),
          (-col("best.negid")).as("best_id"),
          col("best.qkey").as("best_quality"),
          (col("best.negid") =!= -col("cluster_rep")).as("upgraded"))
    },

    // FUZZY DECONTAMINATION — the near-dup companion to d38's exact
    // 5-gram gate: a train-split document is contaminated if it is a
    // whole-document near-duplicate (3-gram Jaccard ≥ 0.5) of ANY
    // test-split document, catching the lightly-edited benchmark leak
    // that verbatim n-gram matching misses. Splits come from the q65
    // deterministic md5 bucket (train < 80, test ≥ 90), so the gate
    // composes with the manifest's own split rule. Candidate
    // generation is d33's capped discipline — explode, df ≤ 50 rarity
    // cap on the 8-byte shingle hash, train×test equi-join on the hash
    // — then the exact Jaccard recount on full sets; at 100 TB the
    // test side is a benchmark-sized fraction, so the candidate join
    // broadcasts it and the corpus never self-joins. Output: each
    // contaminated train doc with how many test docs it leaks and the
    // worst overlap.
    "d53_fuzzy_decontam" -> { (s, d) =>
      def splitOf(idc: Column): Column = {
        val b = conv(substring(md5(idc.cast("string")), 1, 6),
          16, 10).cast("long") % 100
        when(b < 80, "train").when(b < 90, "valid").otherwise("test")
      }
      // SERVES the scored capped candidate tier (r21 — d33 is its
      // build row): d53's candidate set is exactly the tier's pair set
      // restricted to (train, test) orientations, and its exact
      // full-set Jaccard is the tier's `jac` column — so the whole
      // explode/cap/self-join/array-confirm machinery this row re-ran
      // per invocation collapses to a pair-table read, two doc-level
      // split attachments (the split is a function of doc_id, computed
      // once per doc on the TINY pair table, not per posting), the
      // ≥ 0.5 threshold and the per-train-doc aggregate.
      val sp = scoredCappedIndex(s, d)
      val oriented = sp
        .select(col("ia").as("train_id"), col("ib").as("eval_id"),
          col("jac"))
        .unionByName(sp.select(col("ib").as("train_id"),
          col("ia").as("eval_id"), col("jac")))
      oriented
        .filter(splitOf(col("train_id")) === "train" &&
          splitOf(col("eval_id")) === "test" && col("jac") >= 0.5)
        .groupBy(col("train_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
          round(max(col("jac")), 4).as("max_jaccard"))
        .withColumnRenamed("train_id", "doc_id")
    },

    // CLUSTER PURITY AUDIT — do the near-dup clusters respect
    // language boundaries? A multi-doc cluster spanning languages is
    // either a translation pair (real, rare) or a broken shingle
    // pipeline (common — e.g. a tokenizer that strips non-ASCII turns
    // unrelated zh/en docs into "duplicates"). One row per multi-doc
    // cluster: member count, distinct languages, the sorted language
    // list, and the purity flag — the d42-style QA read a curation
    // team does before trusting d44's drop column. Composes d41's
    // labels with one lang equi-join and a cluster-keyed agg; nothing
    // here exceeds the cluster pass that produced the labels.
    "d59_cluster_purity" -> { (s, d) =>
      val labeled = labelsIndex(s, d)
        .filter(col("cluster_size") > 1)
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
      val langs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      labeled.join(langs, "doc_id")
        .groupBy(col("cluster_rep"))
        .agg(max(col("cluster_size")).as("cluster_size"),
          countDistinct(col("lang")).as("n_langs"),
          concat_ws(",", array_sort(collect_set(col("lang"))))
            .as("langs"))
        .withColumn("pure", col("n_langs") === 1)
    },

    // SOURCE-LEVEL MINHASH SIGNATURES — t46's cross-source overlap
    // matrix rebuilt as a SKETCH: each source compresses to the d36
    // 24-permutation minhash signature (min per slot over every
    // shingle hash the source contains), pairwise similarity is
    // estimated as matching-slot fraction, and the estimate is
    // CALIBRATED against the exact shingle Jaccard per pair. The point
    // at 100 TB is the state contract: the signature is a pure
    // min-per-slot PARTIAL AGG — mergeable across shards, batches, and
    // days (a streaming-ingest monitor keeps sources×24 longs hot,
    // never shingle sets) — where t46's exact matrix re-joins the gram
    // universe every run. The exact arm here is the calibration
    // harness; the permutations are d36's own seeded literals, so this
    // table also audits the SAME machinery the dedup family banks on.
    "d60_source_minhash" -> { (s, d) =>
      val p = MinhashP
      val (pa, pb) = minhashPerms
      // NOT served from the shingle index (r21 — measured): attaching
      // `source` to the index means a doc_id join that ships the
      // shingle ARRAYS through a shuffle, which measured SLOWER
      // (3.3 vs 2.8 s) than re-tokenizing with `source` carried
      // straight from the scan — the source column rides the corpus
      // row for free here, and at real scale the doc→source map is
      // corpus-sized, so the join would stay array-shuffling there too.
      val sh = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("w", tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("source"), shingleCol.as("shingles"))
        .select(col("source"), explode(col("shingles")).as("sstr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val x = conv(substring(md5(col("sstr")), 1, 12), 16, 10)
        .cast("long") % p
      val permVals = array((0 until 24).map(i =>
        (lit(pa(i)) * col("x") + lit(pb(i))) % p): _*)
      val sigs = sh.withColumn("x", x)
        .select(col("source"), posexplode(permVals).as(Seq("i", "v")))
        .groupBy(col("source"), col("i")).agg(min(col("v")).as("mh"))
      val est = sigs.select(col("source").as("sa"), col("i"), col("mh"))
        .join(sigs.select(col("source").as("sb"), col("i"),
          col("mh").as("mhb")), Seq("i"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(sum(when(col("mh") === col("mhb"), 1L).otherwise(0L))
          .as("matches"))
      val ss = sh.distinct()
      val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = ss.select(col("source").as("sa"), col("sstr"))
        .join(ss.select(col("source").as("sb"), col("sstr")), Seq("sstr"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
      est
        .join(inter, Seq("sa", "sb"), "left")
        .join(sizes.select(col("source").as("sa"), col("n").as("na")), "sa")
        .join(sizes.select(col("source").as("sb"), col("n").as("nb")), "sb")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("est_jaccard", round(col("matches") / lit(24.0d), 4))
        .withColumn("jaccard", round(col("inter") /
          (col("na") + col("nb") - col("inter")), 4))
        .select(col("sa"), col("sb"), col("matches"), col("est_jaccard"),
          col("jaccard"),
          round(abs(col("est_jaccard") - col("jaccard")), 4).as("abs_err"))
    }
  )

  /** d32 oracle: the 48 bit-vote columns and the signature summation
    * are generated, so DuckDB provably computes the identical portable
    * simhash (md5-nibble bits, strictly-positive vote → 1). */
  private def d32Oracle: String = {
    val votes = (0 until 48).map { b =>
      s" sum(CASE WHEN (((strpos('0123456789abcdef', substring(hx, ${b / 4 + 1}, 1)) - 1) >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n")
    val sig = (0 until 48).map { b =>
      s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (
       | SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS tok
       | FROM documents WHERE length(trim(text)) > 0),
       |hx AS (SELECT doc_id, md5(tok) AS hx FROM tok),
       |votes AS (
       | SELECT doc_id,
       |$votes
       | FROM hx GROUP BY doc_id),
       |sigs AS (SELECT doc_id, ($sig) AS sig FROM votes),
       |banded AS (
       | SELECT doc_id, sig, b.bi,
       |  CASE b.bi WHEN 0 THEN (sig >> 32) & 65535
       |            WHEN 1 THEN (sig >> 16) & 65535
       |            ELSE sig & 65535 END AS bv
       | FROM sigs, (VALUES (0),(1),(2)) b(bi)),
       |cands AS (
       | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib, a.sig AS sa, b.sig AS sb
       | FROM banded a JOIN banded b ON a.bi = b.bi AND a.bv = b.bv
       |   AND a.doc_id < b.doc_id)
       |SELECT ia, ib, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cands WHERE bit_count(xor(sa, sb)) <= 6""".stripMargin
  }

  /** d36 oracle: full replay — portable 48-bit shingle hash (md5-prefix
    * nibble arithmetic ≡ Spark's conv(hex,16,10)), the same 24 (a, b)
    * literals, the same 6×4 banding with md5 band keys, the same exact
    * confirm. Generated, so both engines provably run one algorithm. */
  /** Shared d36/d54 oracle prefix: the CTE chain ending in `mh`
    * (doc_id, i, mh) — the 24 portable minhash values per doc — plus
    * the `sh` shingle-set CTE the exact confirms read. */
  private def minhashSigCte: String = {
    val (as, bs) = minhashPerms
    val permRows = (0 until 24)
      .map(i => s"($i, ${as(i)}, ${bs(i)})").mkString(", ")
    val h48 = (1 to 12).map { j =>
      val w = 1L << (4 * (12 - j))
      s"(CAST(strpos('0123456789abcdef', substring(hx, $j, 1)) - 1 AS BIGINT) * $w)"
    }.mkString(" + ")
    s"""WITH tok AS (
       | SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
       | FROM documents WHERE length(trim(text)) > 0),
       |sh AS (
       | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
       |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
       | FROM tok WHERE len(w) >= 3),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hx AS (SELECT doc_id, md5(s) AS hx FROM ex),
       |xs AS (SELECT doc_id, ($h48) % $MinhashP AS x FROM hx),
       |perm(i, a, b) AS (VALUES $permRows),
       |mh AS (
       | SELECT doc_id, i, min((a * x + b) % $MinhashP) AS mh
       | FROM xs, perm GROUP BY doc_id, i)""".stripMargin
  }

  private def d36Oracle: String =
    minhashSigCte +
      s""",
       |bands AS (
       | SELECT doc_id, i // 4 AS bi,
       |  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
       | FROM mh GROUP BY doc_id, i // 4),
       |cands AS (
       | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       | FROM bands a JOIN bands b ON a.bi = b.bi AND a.bkey = b.bkey
       |   AND a.doc_id < b.doc_id),
       |inter AS (
       | SELECT c.ia, c.ib,
       |  len(list_intersect(sha.shingles, shb.shingles)) AS inter,
       |  len(sha.shingles) AS na, len(shb.shingles) AS nb
       | FROM cands c
       |  JOIN sh sha ON sha.doc_id = c.ia
       |  JOIN sh shb ON shb.doc_id = c.ib)
       |SELECT ia, ib,
       | round(inter / (na + nb - inter), 4) AS jaccard
       |FROM inter
       |WHERE inter / (na + nb - inter) >= 0.8""".stripMargin

  /** d54 oracle: the shared signature CTE re-banded per config, each
    * arm's candidates exactly confirmed, one summary row per config;
    * recall against the complete d28 exact pair count (computed here
    * from the same `sh` CTE — shared-shingle candidates are complete
    * for Jaccard > 0). */
  private def d54Oracle: String = {
    val arms = Seq(2, 4, 6, 8).map { r =>
      s"""bands$r AS (
         | SELECT doc_id, i // $r AS bi,
         |  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
         | FROM mh GROUP BY doc_id, i // $r),
         |cand$r AS (
         | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         | FROM bands$r a JOIN bands$r b ON a.bi = b.bi AND a.bkey = b.bkey
         |   AND a.doc_id < b.doc_id),
         |sc$r AS (
         | SELECT count(*) AS n_candidates,
         |  CAST(sum(CASE WHEN
         |    len(list_intersect(sa.shingles, sb.shingles)) /
         |    (len(sa.shingles) + len(sb.shingles)
         |     - len(list_intersect(sa.shingles, sb.shingles))) >= 0.8
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed
         | FROM cand$r c
         |  JOIN sh sa ON sa.doc_id = c.ia
         |  JOIN sh sb ON sb.doc_id = c.ib)""".stripMargin
    }.mkString(",\n")
    val exact =
      """exactp AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) a
        |  JOIN (SELECT doc_id, unnest(shingles) AS s FROM sh) b
        |  ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |exact AS (
        | SELECT count(*) AS n_exact
        | FROM exactp p
        |  JOIN sh sa ON sa.doc_id = p.ia
        |  JOIN sh sb ON sb.doc_id = p.ib
        | WHERE len(list_intersect(sa.shingles, sb.shingles)) /
        |  (len(sa.shingles) + len(sb.shingles)
        |   - len(list_intersect(sa.shingles, sb.shingles))) >= 0.8)""".stripMargin
    val selects = Seq(2, 4, 6, 8).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS rows_per_band,
         | CAST(${24 / r} AS INTEGER) AS n_bands,
         | sc$r.n_candidates, sc$r.n_confirmed,
         | round(sc$r.n_confirmed / exact.n_exact, 4) AS recall
         |FROM sc$r, exact""".stripMargin
    }.mkString("\nUNION ALL\n")
    minhashSigCte + ",\n" + arms + ",\n" + exact + "\n" + selects
  }

  /** d56 oracle: the shared signature CTE, the d28 exact confirm from
    * the same sh/ex CTEs, then per confirmed pair the count of agreeing
    * signature slots; n_agree/24 and the abs err are exact-operand IEEE
    * doubles in both engines. */
  private def d56Oracle: String =
    minhashSigCte +
      """,
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |conf AS (
        | SELECT ia, ib, round(inter / (sa.n + sb.n - inter), 4) AS jaccard
        | FROM pairs
        |  JOIN sizes sa ON sa.doc_id = ia
        |  JOIN sizes sb ON sb.doc_id = ib
        | WHERE inter / (sa.n + sb.n - inter) >= 0.8),
        |agree AS (
        | SELECT c.ia, c.ib, c.jaccard,
        |  CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree
        | FROM conf c
        |  JOIN mh ma ON ma.doc_id = c.ia
        |  JOIN mh mb ON mb.doc_id = c.ib AND ma.i = mb.i
        | GROUP BY 1, 2, 3)
        |SELECT ia, ib, jaccard, n_agree,
        | n_agree / 24 AS sig_est,
        | abs(n_agree / 24 - jaccard) AS abs_err
        |FROM agree""".stripMargin

  /** d37 oracle: the d28 edge CTEs, then the SAME 10 fixed-point
    * iterations unrolled as chained CTEs (recursive CTEs disallow
    * aggregation in the recursive term, and the iteration count is
    * fixed anyway). Every divide is `//` on BIGINT with all-positive
    * operands ≡ Spark's `div` truncation; sums are integer, so
    * accumulation order cannot matter. `edges0` and `sym` are
    * MATERIALIZED: every `pr` step reads `sym`, and an inlined copy per
    * step repeats the uncapped shingle self-join, which ran DuckDB out
    * of memory (12.5 GiB) at sf0.1. */
  private def d37Oracle: String = {
    val scale = graft.operators.GraphRank.Scale
    val baseNum = 15L * scale / 100L
    val chain = (1 to 10).map { k =>
      s"""pr$k AS (
         | SELECT nd.node,
         |  ($baseNum // nn.n) + (85 * coalesce(c.s, 0)) // 100 AS r
         | FROM nodes nd CROSS JOIN nn
         | LEFT JOIN (
         |   SELECT sym.dst AS node, CAST(sum(p.r // dg.deg) AS BIGINT) AS s
         |   FROM sym JOIN pr${k - 1} p ON p.node = sym.src
         |            JOIN deg dg ON dg.node = sym.src
         |   GROUP BY 1) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       | SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
       | FROM documents WHERE length(trim(text)) > 0),
       |sh AS (
       | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
       |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
       | FROM tok WHERE len(w) >= 3),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |pairs AS (
       | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
       | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       | GROUP BY 1, 2),
       |edges0 AS MATERIALIZED (
       | SELECT ia, ib FROM pairs
       |  JOIN sizes sa ON sa.doc_id = ia
       |  JOIN sizes sb ON sb.doc_id = ib
       | WHERE inter / (sa.n + sb.n - inter) >= 0.8),
       |sym AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM edges0
       |        UNION SELECT ib, ia FROM edges0),
       |nodes AS (SELECT DISTINCT src AS node FROM sym),
       |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node, ($scale // nn.n) AS r FROM nodes, nn),
       |$chain
       |SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_scaled FROM pr10""".stripMargin
  }

  /** d64 oracle: t60's tokenize/flag/assign/chunk CTE chain, then the
    * cross-document removability rule over the chunk table. */
  private def d64OracleSql: String = {
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
       | FROM assigned GROUP BY 1, 2, 3),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY chunk_md5
       |   ORDER BY doc_id ASC, chunk_idx ASC) AS rk
       | FROM chunks),
       |docs_per AS (
       | SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs
       | FROM chunks GROUP BY 1)
       |SELECT source, count(*) AS n_chunks,
       | CAST(sum(ctokens) AS BIGINT) AS tokens_total,
       | CAST(sum(CASE WHEN n_docs > 1 AND rk > 1 THEN 1 ELSE 0 END)
       |   AS BIGINT) AS removable_chunks,
       | CAST(sum(CASE WHEN n_docs > 1 AND rk > 1 THEN ctokens ELSE 0 END)
       |   AS BIGINT) AS removable_tokens,
       | round(sum(CASE WHEN n_docs > 1 AND rk > 1 THEN ctokens
       |   ELSE 0 END) / sum(ctokens), 4) AS removable_token_frac
       |FROM ranked JOIN docs_per USING (chunk_md5)
       |GROUP BY 1""".stripMargin
  }

  private def d38OracleSql: String =
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |gr AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-3),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))) AS g
        | FROM tok WHERE len(w) >= 5),
        |bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 7 = 0)
        |SELECT gr.doc_id, count(*) AS hits
        |FROM gr JOIN bench USING (g)
        |WHERE gr.doc_id % 7 <> 0
        |GROUP BY 1""".stripMargin

  /** d66 oracle: d38's gram CTEs, then the bloom replayed literally —
    * bit positions are 24-bit md5 nibble slices (the minhash h48
    * idiom, offsets 6·i) mod 2²¹, the bloom is the DISTINCT position
    * set of the benchmark grams, and a corpus gram bloom-hits iff all
    * three of its positions join that set (count(matched) = 3 over a
    * LEFT join — set semantics, exactly what the bitmap encodes). */
  /** Shared oracle fragments for the bloom family (ADVICE r17: these
    * were duplicated verbatim across d66OracleSql/d67OracleSql — any
    * drift between the copies would silently break the bit-for-bit
    * parity both oracles assert, so they live once, the d38-CTE
    * precedent). */
  // hex digit j (1..6) of the 24-bit md5 slice starting at offset 6*i
  private def h24SliceSql: String = (1 to 6).map { j =>
    val w = 1L << (4 * (6 - j))
    s"(CAST(strpos('0123456789abcdef', substring(hx, 6*i + $j, 1)) - 1 AS BIGINT) * $w)"
  }.mkString(" + ")

  /** tok → gr (distinct 5-grams) → bench (benchmark slice) → cg
    * (corpus grams + md5 hex) — the CTE prefix both bloom oracles
    * replay; exactly [[fiveGrams]] + the doc_id % 7 split in DuckDB. */
  private def bloomGramCtesSql: String =
    """tok AS (
      | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
      | FROM documents WHERE length(trim(text)) > 0),
      |gr AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-3),
      |   i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))) AS g
      | FROM tok WHERE len(w) >= 5),
      |bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 7 = 0),
      |cg AS (
      | SELECT doc_id, g, md5(g) AS hx FROM gr WHERE doc_id % 7 <> 0)""".stripMargin

  private def d66OracleSql: String = {
    val m = 1 << 21
    val h24 = h24SliceSql
    s"""WITH $bloomGramCtesSql,
       |bpos AS (
       | SELECT DISTINCT ($h24) % $m AS pos
       | FROM (SELECT md5(g) AS hx FROM bench), (VALUES (0),(1),(2)) iv(i)),
       |cpos AS (
       | SELECT doc_id, g, ($h24) % $m AS pos
       | FROM cg, (VALUES (0),(1),(2)) iv(i)),
       |bloomhits AS (
       | SELECT doc_id, g, count(bp.pos) = 3 AS bloom_hit
       | FROM cpos LEFT JOIN bpos bp USING (pos)
       | GROUP BY doc_id, g),
       |ehits AS (
       | SELECT cg.doc_id, cg.g, (bench.g IS NOT NULL) AS exact_hit
       | FROM cg LEFT JOIN bench ON cg.g = bench.g),
       |perdoc AS (
       | SELECT b.doc_id, count(*) AS n_grams,
       |  sum(CASE WHEN b.bloom_hit THEN 1 ELSE 0 END) AS g_bloom,
       |  sum(CASE WHEN e.exact_hit THEN 1 ELSE 0 END) AS g_exact
       | FROM bloomhits b JOIN ehits e USING (doc_id, g)
       | GROUP BY 1),
       |persrc AS (
       | SELECT source, count(*) AS n_docs,
       |  CAST(sum(coalesce(n_grams, 0)) AS BIGINT) AS n_grams,
       |  CAST(sum(coalesce(g_bloom, 0)) AS BIGINT) AS n_gram_bloom_hits,
       |  CAST(sum(coalesce(g_exact, 0)) AS BIGINT) AS n_gram_exact_hits,
       |  CAST(sum(CASE WHEN g_bloom > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged_bloom,
       |  CAST(sum(CASE WHEN g_exact > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged_exact
       | FROM (SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0) ad
       |  LEFT JOIN perdoc USING (doc_id)
       | GROUP BY 1)
       |SELECT source, n_docs, n_grams, n_gram_bloom_hits,
       | n_gram_exact_hits, n_flagged_bloom, n_flagged_exact,
       | n_flagged_bloom - n_flagged_exact AS n_false_pos,
       | CASE WHEN n_docs = n_flagged_exact THEN CAST(0 AS DOUBLE)
       |      ELSE round((n_flagged_bloom - n_flagged_exact) /
       |        (n_docs - n_flagged_exact), 4) END AS fp_rate
       |FROM persrc""".stripMargin
  }

  /** d67 oracle: the 24-bit md5 slices computed ONCE per (gram, i),
    * then each arm's membership is a LEFT join against the DISTINCT
    * benchmark (slice mod m) set with count = 3 — the same
    * set-semantics replay as d66, three arms wide. */
  private def d67OracleSql: String = {
    val arms = Seq(1 << 18, 1 << 21, 1 << 24)
    val h24 = h24SliceSql
    val armJoins = arms.map(m =>
      s"""  LEFT JOIN (SELECT DISTINCT sl % $m AS p FROM bslice) b$m
         |    ON c.sl % $m = b$m.p""".stripMargin).mkString("\n")
    val armCounts = arms.map(m => s"  count(b$m.p) = 3 AS h$m").mkString(",\n")
    val armMaxes = arms.map(m =>
      s"  max(CASE WHEN a.h$m THEN 1 ELSE 0 END) AS f$m").mkString(",\n")
    val armSums = arms.map(m =>
      s"  CAST(sum(coalesce(f$m, 0)) AS BIGINT) AS f$m").mkString(",\n")
    val armValues = arms.map(m =>
      s"(CAST($m AS BIGINT), CAST(${m / 8 / 1024} AS BIGINT))").mkString(", ")
    val armPick = arms.init.map(m =>
      s"WHEN $m THEN f$m").mkString(" ") + s" ELSE f${arms.last}"
    s"""WITH $bloomGramCtesSql,
       |bslice AS (
       | SELECT DISTINCT ($h24) AS sl
       | FROM (SELECT md5(g) AS hx FROM bench), (VALUES (0),(1),(2)) iv(i)),
       |cpos AS (
       | SELECT doc_id, g, ($h24) AS sl
       | FROM cg, (VALUES (0),(1),(2)) iv(i)),
       |armhits AS (
       | SELECT c.doc_id, c.g,
       |$armCounts
       | FROM cpos c
       |$armJoins
       | GROUP BY 1, 2),
       |ehits AS (
       | SELECT cg.doc_id, cg.g, (bench.g IS NOT NULL) AS exact_hit
       | FROM cg LEFT JOIN bench ON cg.g = bench.g),
       |perdoc AS (
       | SELECT a.doc_id,
       |$armMaxes,
       |  max(CASE WHEN e.exact_hit THEN 1 ELSE 0 END) AS fe
       | FROM armhits a JOIN ehits e USING (doc_id, g)
       | GROUP BY 1),
       |tot AS (
       | SELECT count(*) AS n_docs,
       |$armSums,
       |  CAST(sum(coalesce(fe, 0)) AS BIGINT) AS fe
       | FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) ad
       |  LEFT JOIN perdoc USING (doc_id)),
       |arms(m_bits, bitmap_kib) AS (VALUES $armValues)
       |SELECT m_bits, bitmap_kib, n_docs,
       | CASE m_bits $armPick END AS n_flagged_bloom,
       | fe AS n_flagged_exact,
       | CASE m_bits $armPick END - fe AS n_false_pos,
       | CASE WHEN n_docs = fe THEN CAST(0 AS DOUBLE)
       |      ELSE round((CASE m_bits $armPick END - fe) /
       |        (n_docs - fe), 4) END AS fp_doc_rate
       |FROM arms, tot""".stripMargin
  }

  // LAZY (all family oracle maps are, as of r17): the maps
  // cross-reference each other's entries (q104 wraps d44's SQL; d64
  // composes SamplingOps.bucketSql), so an EAGER val ran the composing
  // object's <clinit> mid-way through the composed object's — fine
  // under the entry orders the mains happened to use, a
  // null-Map NPE under any other first-touch (a test initializing
  // DedupOps before SamplingOps tripped it). Lazy evaluation unwinds
  // the cycle for every order: <clinit> no longer builds the maps, and
  // each map's on-demand build only calls the OTHER object's plain
  // defs or its completed lazy map.
  lazy val oracle: Map[String, String] = Map(
    // t60's chunking CTEs verbatim, then the cross-doc rank/doc-count
    // removability rule — row_number ordered by the unique
    // (doc_id, chunk_idx) so the canonical pick is deterministic in
    // both engines
    "d64_substring_dedup" -> d64OracleSql,
    // the clamped cut walk is MultimodalOps.gearClampedChunksCte
    // (shared with m53); past `chunks` this is d64's cross-doc rule
    // with bytes in place of tokens
    "d65_gear_substring_dedup" -> {
      s"""${MultimodalOps.gearClampedChunksCte},
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY chunk_md5
         |   ORDER BY doc_id ASC, chunk_idx ASC) AS rk
         | FROM chunks),
         |docsper AS (
         | SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs
         | FROM chunks GROUP BY 1)
         |SELECT source, count(*) AS n_chunks,
         | CAST(sum(cbytes) AS BIGINT) AS bytes_total,
         | CAST(sum(CASE WHEN n_docs > 1 AND rk > 1 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS removable_chunks,
         | CAST(sum(CASE WHEN n_docs > 1 AND rk > 1 THEN cbytes ELSE 0 END)
         |   AS BIGINT) AS removable_bytes,
         | round(sum(CASE WHEN n_docs > 1 AND rk > 1 THEN cbytes ELSE 0 END)
         |   / sum(cbytes), 4) AS removable_byte_frac
         |FROM ranked r JOIN docsper USING (chunk_md5)
         |GROUP BY 1""".stripMargin
    },
    // gram identity via the string (hashing is a join-key impl detail)
    "d38_decontamination" -> d38OracleSql,
    // the bloom replayed as set-membership over the same md5-slice
    // positions; generated so both engines provably hash one way
    "d66_bloom_decontam" -> d66OracleSql,
    // the three sizing arms share the once-computed 24-bit slices;
    // per-arm membership = LEFT join on slice mod m, count = 3
    "d67_bloom_sizing_sweep" -> d67OracleSql,
    // wraps the d41 oracle verbatim; weights divide as DOUBLE (DuckDB's
    // bare 1.0 is DECIMAL, whose division rounds differently)
    "d57_soft_dedup" -> {
      s"""WITH lab AS (
         | SELECT doc_id, keep, cluster_size FROM (${d41OracleSql}) d41),
         |tk AS (
         | SELECT doc_id, source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'))
         |  END AS n_tokens
         | FROM documents)
         |SELECT tk.source, count(*) AS n_docs,
         | CAST(sum(tk.n_tokens) AS BIGINT) AS n_tokens,
         | CAST(sum(CASE WHEN lab.keep THEN 1 ELSE 0 END) AS BIGINT)
         |   AS hard_docs,
         | CAST(sum(CASE WHEN lab.keep THEN tk.n_tokens ELSE 0 END)
         |   AS BIGINT) AS hard_tokens,
         | round(sum(CAST(1 AS DOUBLE) / lab.cluster_size), 4) AS soft_docs,
         | round(sum(tk.n_tokens / lab.cluster_size), 4) AS soft_tokens
         |FROM lab JOIN tk USING (doc_id)
         |GROUP BY 1""".stripMargin
    },
    // wraps d41's SQL + t24's registry oracle verbatim; the election
    // replayed as a (qkey DESC, doc_id ASC) row_number
    "d55_quality_canonical" -> {
      val t24 = graft.queries.TextOps.oracle("t24_quality_score")
      s"""WITH lab AS (
         | SELECT doc_id, cluster_rep, cluster_size
         | FROM (${d41OracleSql}) d41 WHERE cluster_size > 1),
         |q AS (SELECT doc_id, quality FROM (${t24}) t24),
         |j AS (
         | SELECT l.cluster_rep, l.cluster_size, l.doc_id,
         |  coalesce(q.quality, -1.0) AS qkey
         | FROM lab l JOIN q USING (doc_id)),
         |r AS (
         | SELECT *, row_number() OVER (PARTITION BY cluster_rep
         |   ORDER BY qkey DESC, doc_id ASC) AS rn FROM j)
         |SELECT cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size,
         | doc_id AS best_id, qkey AS best_quality,
         | doc_id <> cluster_rep AS upgraded
         |FROM r WHERE rn = 1""".stripMargin
    },
    // d33's capped candidate shape restricted train×test on the q65
    // md5-nibble split, exact Jaccard recounted on full sets (shingle
    // identity via the string — hashing is an impl detail of the join
    // key, as in d33), aggregated per contaminated train doc
    "d53_fuzzy_decontam" -> {
      val nibs = (1 to 6).map(p =>
        s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), $p, 1)) - 1)")
      val value = nibs.reduce((acc, n) => s"($acc * 16 + $n)")
      s"""WITH tok AS (
         | SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
         | FROM documents WHERE length(trim(text)) > 0),
         |sh AS (
         | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
         |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
         | FROM tok WHERE len(w) >= 3),
         |sp AS (
         | SELECT doc_id,
         |  CASE WHEN ($value) % 100 < 80 THEN 'train'
         |       WHEN ($value) % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         | FROM documents),
         |ex AS (
         | SELECT s.doc_id, p.split, unnest(s.shingles) AS s
         | FROM sh s JOIN sp p ON s.doc_id = p.doc_id),
         |rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |exc AS (SELECT ex.doc_id, ex.split, ex.s
         |        FROM ex JOIN rare ON ex.s = rare.s),
         |cand AS (
         | SELECT a.doc_id AS train_id, b.doc_id AS eval_id
         | FROM exc a JOIN exc b
         |   ON a.s = b.s AND a.split = 'train' AND b.split = 'test'
         | GROUP BY 1, 2),
         |scored AS (
         | SELECT c.train_id, c.eval_id,
         |  len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         |  len(sa.shingles) AS na, len(sb.shingles) AS nb
         | FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.train_id
         |  JOIN sh sb ON sb.doc_id = c.eval_id)
         |SELECT train_id AS doc_id, count(*) AS n_eval_matches,
         | round(max(inter / (na + nb - inter)), 4) AS max_jaccard
         |FROM scored
         |WHERE inter / (na + nb - inter) >= 0.5
         |GROUP BY 1""".stripMargin
    },
    // wraps the d38 SQL verbatim; NOT EXISTS-free left join replays
    // the hit-list semantics, corpus side filtered identically
    "d47_contamination_report" ->
      s"""WITH hits AS (SELECT doc_id FROM (
         |${d38OracleSql}
         |) z)
         |SELECT d.source, count(*) AS n_docs,
         | CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_contaminated,
         | round(CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) / count(*), 4) AS contam_rate
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % 7 <> 0
         |GROUP BY 1""".stripMargin,
    // wraps the d41 SQL verbatim; bin() gives the exact integer
    // floor(log2) in both engines
    "d48_cluster_sizes" ->
      s"""WITH keeps AS (SELECT * FROM (
         |${d41OracleSql}
         |) z WHERE keep)
         |SELECT CAST(length(bin(cluster_size)) - 1 AS BIGINT)
         |   AS log2_size,
         | count(*) AS n_clusters,
         | CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM keeps GROUP BY 1""".stripMargin,
    // composes the t35, d41 and d38 oracle SQL verbatim (the s44
    // discipline) with the identical decision precedence
    "d44_clean_corpus" ->
      s"""WITH q AS (SELECT doc_id, reason AS q_reason
         |           FROM (${graft.queries.TextOps.oracle("t35_quality_filter")}) tq),
         |dd AS (SELECT doc_id, keep AS dd_keep FROM (
         |${d41OracleSql}
         |) tk),
         |ct AS (SELECT doc_id, TRUE AS contaminated FROM (
         |${d38OracleSql}
         |) tc)
         |SELECT q.doc_id,
         | CASE WHEN ct.contaminated THEN 'drop_contaminated'
         |      WHEN NOT dd.dd_keep THEN 'drop_duplicate'
         |      WHEN q.q_reason <> 'keep' THEN 'drop_' || q.q_reason
         |      ELSE 'keep' END AS decision,
         | CASE WHEN ct.contaminated THEN FALSE
         |      WHEN NOT dd.dd_keep THEN FALSE
         |      WHEN q.q_reason <> 'keep' THEN FALSE
         |      ELSE TRUE END AS keep
         |FROM q
         | JOIN dd ON q.doc_id = dd.doc_id
         | LEFT JOIN ct ON q.doc_id = ct.doc_id""".stripMargin,
    "d37_pagerank" -> d37Oracle,
    "d36_minhash_banded" -> d36Oracle,
    "d54_band_sweep" -> d54Oracle,
    "d61_shingle_size_sweep" -> d61Oracle,
    "d56_minhash_calibration" -> d56Oracle,
    "d32_simhash_hamming" -> d32Oracle,
    // candidate generation over rare shingles only (df <= 50), exact
    // Jaccard recounted on full sets for survivors — mirrors the Spark
    // plan; shingle identity via the string itself (no xxhash64 in
    // DuckDB, and hashing is an impl detail of the join key)
    "d33_neardup_capped" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |exc AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
        |cand AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |inter AS (
        | SELECT c.ia, c.ib,
        |  len(list_intersect(sha.shingles, shb.shingles)) AS inter,
        |  len(sha.shingles) AS na, len(shb.shingles) AS nb
        | FROM cand c
        |  JOIN sh sha ON sha.doc_id = c.ia
        |  JOIN sh shb ON shb.doc_id = c.ib)
        |SELECT ia, ib,
        | round(inter / (na + nb - inter), 4) AS jaccard
        |FROM inter
        |WHERE inter / (na + nb - inter) >= 0.8""".stripMargin,
    // d28's exact pair set restricted to pairs touching the new batch
    // (doc_id >= 0.9 * max) — prefiltering shapes candidate generation
    // only, so the oracle needs no pruning step
    "d35_incremental_dedup" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |thr AS (SELECT max(doc_id) AS mx FROM documents),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT ia, ib,
        | round(inter / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM pairs
        | JOIN sizes sa ON sa.doc_id = ia
        | JOIN sizes sb ON sb.doc_id = ib, thr
        |WHERE inter / (sa.n + sb.n - inter) >= 0.8
        |  AND (ia * 10 >= 9 * thr.mx OR ib * 10 >= 9 * thr.mx)""".stripMargin,
    "d31_dedup_clusters" -> d31OracleSql,
    // identical output contract (connected components of the d28 edge
    // list, min-id label) — only the Spark-side algorithm differs
    "d34_dedup_clusters_star" -> d31OracleSql,
    "d41_canonical_docs" -> d41OracleSql,
    // d41's closure CTEs verbatim + one lang join; list_sort(list(
    // DISTINCT lang)) matches array_sort(collect_set) exactly
    "d59_cluster_purity" ->
      s"""WITH base AS (
         | SELECT doc_id, cluster_rep, cluster_size FROM ($d41OracleSql)
         | WHERE cluster_size > 1)
         |SELECT b.cluster_rep, max(b.cluster_size) AS cluster_size,
         | CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
         | array_to_string(list_sort(list(DISTINCT d.lang)), ',') AS langs,
         | (count(DISTINCT d.lang) = 1) AS pure
         |FROM base b JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
    // wraps the d41 SQL verbatim; the q65 bucket rule applied to the
    // cluster representative instead of the doc id
    "d50_cluster_split" -> {
      val nibs = (1 to 6).map(p =>
        s"(strpos('0123456789abcdef', substring(hx, $p, 1)) - 1)")
      val value = nibs.reduce((acc, n) => s"($acc * 16 + $n)")
      s"""WITH lab AS (
         | SELECT doc_id, cluster_rep FROM (${d41OracleSql}) d41),
         |sp AS (
         | SELECT doc_id, cluster_rep,
         |  CASE WHEN ($value) % 100 < 80 THEN 'train'
         |       WHEN ($value) % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, cluster_rep,
         |        md5(CAST(cluster_rep AS VARCHAR)) AS hx FROM lab) h)
         |SELECT split, count(*) AS n_docs,
         | CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
         | CAST(sum(doc_id) AS BIGINT) AS sum_id
         |FROM sp GROUP BY 1""".stripMargin
    },
    // wraps the d41 SQL verbatim; the split rule is q65's portable
    // md5-nibble bucket, rebuilt with the same strpos expansion
    "d49_split_leakage" -> {
      val nibs = (1 to 6).map(p =>
        s"(strpos('0123456789abcdef', substring(hx, $p, 1)) - 1)")
      val value = nibs.reduce((acc, n) => s"($acc * 16 + $n)")
      s"""WITH lab AS (
         | SELECT doc_id, cluster_rep, cluster_size
         | FROM (${d41OracleSql}) d41 WHERE cluster_size > 1),
         |sp AS (
         | SELECT doc_id,
         |  CASE WHEN ($value) % 100 < 80 THEN 'train'
         |       WHEN ($value) % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
         |       FROM documents) h)
         |SELECT l.cluster_rep, count(*) AS n_members,
         | CAST(sum(CASE WHEN sp.split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_train,
         | CAST(sum(CASE WHEN sp.split = 'valid' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_valid,
         | CAST(sum(CASE WHEN sp.split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_test
         |FROM lab l JOIN sp ON l.doc_id = sp.doc_id
         |GROUP BY 1
         |HAVING sum(CASE WHEN sp.split = 'train' THEN 1 ELSE 0 END) > 0
         |  AND (sum(CASE WHEN sp.split = 'valid' THEN 1 ELSE 0 END) > 0
         |   OR sum(CASE WHEN sp.split = 'test' THEN 1 ELSE 0 END) > 0)""".stripMargin
    },
    // wraps the d41 oracle + the q110 bucket rule; the fan-out filter
    // replays as a HAVING on the distinct-shard count
    "d58_shard_leakage" -> {
      val b = graft.queries.SamplingOps.bucketSql("l.doc_id")
      s"""WITH lab AS (
         | SELECT doc_id, cluster_rep, cluster_size
         | FROM (${d41OracleSql}) d41 WHERE cluster_size > 1)
         |SELECT l.cluster_rep, count(*) AS n_members,
         | CAST(count(DISTINCT ${b} % 16) AS BIGINT) AS n_shards,
         | CAST(min(${b} % 16) AS BIGINT) AS min_shard,
         | CAST(max(${b} % 16) AS BIGINT) AS max_shard
         |FROM lab l
         |GROUP BY 1
         |HAVING count(DISTINCT ${b} % 16) > 1""".stripMargin
    },
    // wraps the d41 oracle verbatim as a subquery (WITH nests fine in
    // DuckDB), so the keep-list algebra cannot drift between the two
    // registry entries
    "d42_dedup_report" ->
      s"""SELECT d.source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(max(k.cluster_size) AS BIGINT) AS max_cluster_size,
        | round((count(*) - CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT))
        |   / count(*), 4) AS dup_rate
        |FROM documents d JOIN (
        |${d41OracleSql}
        |) k ON d.doc_id = k.doc_id
        |GROUP BY 1""".stripMargin,
    "d27_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // same edge CTE as d28 at the 0.5 threshold; the two-path + closure
    // self-joins replay the a<b<c single-count exactly
    "d40_triangles" -> d40OracleSql,
    // the degree-ordered variant emits the IDENTICAL triangle set —
    // orientation only changes which vertex finds each triangle — so
    // the oracle is shared verbatim
    "d45_triangles_ordered" -> d40OracleSql,
    "d28_neardup_jaccard" -> d28OracleSql,
    // d28's candidate CTEs without the fixed cutoff; each τ row
    // aggregates the SAME scored pair set, thresholds as exact double
    // literals in both engines
    "d52_threshold_sweep" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |scored AS (
        | SELECT ia, ib, inter / (sa.n + sb.n - inter) AS jac
        | FROM pairs
        |  JOIN sizes sa ON sa.doc_id = ia
        |  JOIN sizes sb ON sb.doc_id = ib)
        |SELECT tau,
        | CAST(sum(CASE WHEN jac >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        | CAST(count(DISTINCT CASE WHEN jac >= tau THEN ib END) AS BIGINT) AS n_docs_dropped
        |FROM scored CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
        |  (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE)), (CAST(0.9 AS DOUBLE))) t(tau)
        |GROUP BY tau""".stripMargin,
    // d28's candidate CTEs with the containment normalization — the
    // threshold applies to the exact integer ratio, the output rounds
    "d46_containment" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT ia, ib, CAST(inter AS BIGINT) AS inter,
        | round(inter / least(sa.n, sb.n), 4) AS containment
        |FROM pairs
        | JOIN sizes sa ON sa.doc_id = ia
        | JOIN sizes sb ON sb.doc_id = ib
        |WHERE inter / least(sa.n, sb.n) >= 0.9""".stripMargin,
    // wraps the d28 pair SQL verbatim; cosine is the s34 formula over
    // the pair's embeddings, one 4-dp final round
    "d43_signal_agreement" ->
      s"""WITH pr AS (SELECT * FROM (
         |${d28OracleSql}
         |) z),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |      FROM embeddings)
         |SELECT pr.ia, pr.ib, pr.jaccard,
         | round(list_dot_product(a.emb, b.emb) /
         |  (sqrt(list_dot_product(a.emb, a.emb)) *
         |   sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
         |FROM pr
         | JOIN e a ON pr.ia = a.vec_id
         | JOIN e b ON pr.ib = b.vec_id""".stripMargin,
    // d36's seeded permutation literals re-keyed by source; the exact
    // arm replays shingle-set Jaccard over the same distinct grams
    "d60_source_minhash" -> d60OracleSql
  )

  /** d60 oracle: source-keyed rendering of [[minhashSigCte]]'s
    * machinery (same 48-bit md5 prefix, same affine permutations),
    * matched-slot estimate vs exact distinct-shingle Jaccard. */
  private def d60OracleSql: String = {
    val (pa, pb) = minhashPerms
    val permRows = (0 until 24)
      .map(i => s"($i, ${pa(i)}, ${pb(i)})").mkString(", ")
    val h48 = (1 to 12).map { j =>
      val w = 1L << (4 * (12 - j))
      s"(CAST(strpos('0123456789abcdef', substring(hx, $j, 1)) - 1 AS BIGINT) * $w)"
    }.mkString(" + ")
    s"""WITH tok AS (
       | SELECT source, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
       | FROM documents WHERE length(trim(text)) > 0),
       |shl AS (
       | SELECT source, unnest(list_distinct(list_transform(range(1, len(w)-1),
       |   i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sstr
       | FROM tok WHERE len(w) >= 3),
       |hxs AS (SELECT source, sstr, md5(sstr) AS hx FROM shl),
       |xs AS (SELECT source, ($h48) % $MinhashP AS x FROM hxs),
       |perm(i, a, b) AS (VALUES $permRows),
       |mh AS (
       | SELECT source, i, min((a * x + b) % $MinhashP) AS mh
       | FROM xs, perm GROUP BY 1, 2),
       |est AS (
       | SELECT ma.source AS sa, mb.source AS sb,
       |  CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT)
       |   AS matches
       | FROM mh ma JOIN mh mb ON ma.i = mb.i AND ma.source < mb.source
       | GROUP BY 1, 2),
       |ss AS (SELECT DISTINCT source, sstr FROM shl),
       |sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
       |inter AS (
       | SELECT a.source AS sa, b.source AS sb, count(*) AS inter
       | FROM ss a JOIN ss b ON a.sstr = b.sstr AND a.source < b.source
       | GROUP BY 1, 2),
       |fin AS (
       | SELECT est.sa, est.sb, est.matches,
       |  round(est.matches / 24.0, 4) AS est_jaccard,
       |  round(coalesce(inter.inter, 0)
       |    / (na.n + nb.n - coalesce(inter.inter, 0)), 4) AS jaccard
       | FROM est
       |  LEFT JOIN inter ON est.sa = inter.sa AND est.sb = inter.sb
       |  JOIN sizes na ON est.sa = na.source
       |  JOIN sizes nb ON est.sb = nb.source)
       |SELECT sa, sb, matches, est_jaccard, jaccard,
       | round(abs(est_jaccard - jaccard), 4) AS abs_err
       |FROM fin""".stripMargin
  }

  /** d40/d45 shared oracle: the d28 edge CTE at the 0.5 threshold +
    * id-ordered two-path/closure self-joins (a < b < c single-count —
    * the canonical form BOTH Spark variants emit). */
  private def d40OracleSql: String =
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |e AS (
        | SELECT ia, ib FROM pairs
        |  JOIN sizes sa ON sa.doc_id = ia
        |  JOIN sizes sb ON sb.doc_id = ib
        | WHERE inter / (sa.n + sb.n - inter) >= 0.5)
        |SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
        |FROM e e1
        | JOIN e e2 ON e1.ib = e2.ia
        | JOIN e e3 ON e1.ia = e3.ia AND e2.ib = e3.ib""".stripMargin

  private def d28OracleSql: String =
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT ia, ib,
        | round(inter / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM pairs
        | JOIN sizes sa ON sa.doc_id = ia
        | JOIN sizes sb ON sb.doc_id = ib
        |WHERE inter / (sa.n + sb.n - inter) >= 0.8""".stripMargin

  private def d31OracleSql: String =
    ccClosureCte +
      """
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |FROM rec GROUP BY src""".stripMargin

  /** d41: the d31/d34 transitive closure extended with singleton docs
    * (left join), the min-member representative, and per-cluster sizes
    * — the same keep-list contract as the Spark side. */
  private def d41OracleSql: String =
    ccClosureCte +
      """,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM rec GROUP BY src),
        |labeled AS (
        | SELECT d.doc_id,
        |  coalesce(c.cluster_id, d.doc_id) AS cluster_rep
        | FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |sz AS (
        | SELECT cluster_rep, count(*) AS cluster_size
        | FROM labeled GROUP BY 1)
        |SELECT l.doc_id, l.cluster_rep,
        | l.doc_id = l.cluster_rep AS keep, sz.cluster_size
        |FROM labeled l JOIN sz ON l.cluster_rep = sz.cluster_rep""".stripMargin

  /** Shared prefix for the CC-family oracles: d28's edge CTE at the 0.8
    * threshold, symmetrized, plus the recursive transitive closure. */
  private def ccClosureCte: String =
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
        | FROM tok WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |edges0 AS (
        | SELECT ia, ib FROM pairs
        |  JOIN sizes sa ON sa.doc_id = ia
        |  JOIN sizes sb ON sb.doc_id = ib
        | WHERE inter / (sa.n + sb.n - inter) >= 0.8),
        |edges AS (SELECT ia AS src, ib AS dst FROM edges0
        |          UNION SELECT ib, ia FROM edges0),
        |rec AS (
        | WITH RECURSIVE reach(src, dst) AS (
        |   SELECT src, dst FROM edges
        |   UNION
        |   SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        | ) SELECT * FROM reach)""".stripMargin
}
