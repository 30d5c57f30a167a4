package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-posture evidence beyond the sf0.1 corpus (not part of the
  * driver contract — run manually): synthesizes a 100k-document corpus,
  * 20k embeddings, and a skewed 5M-row fact entirely from hash
  * expressions (deterministic, no driver-side data), then times the
  * scale-path operators against their exact counterparts.
  *
  * What it demonstrates:
  *  - near-dup via shingle join and MinHash LSH stay near-linear when
  *    the corpus grows 20× past sf0.1 (the shingle space grows with the
  *    vocabulary, so candidate pairs stay sparse);
  *  - sign-LSH candidate generation vs O(n²) brute cosine at 20k
  *    vectors (1.6× the sf0.1 cross-product would be 400M pairs);
  *  - a deterministic salted join vs a plain sort-merge join under 50%
  *    single-key skew with broadcast + AQE skew handling disabled.
  */
object StressBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = "/tmp/graft_stress"
    def tm[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"stress":"$name","sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      r
    }

    // ---- synthesize documents: 100k docs, 5000-word vocab, ~80 tokens;
    // every id ≡ 1 (mod 50) is a near-dup of id-1 (one token appended).
    val nDocs = 100000
    val docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("base_id",
        when(col("doc_id") % 50 === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("len", (pmod(xxhash64(col("base_id")), lit(40)) + 60).cast("int"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), col("len")),
          i => concat(lit("w"),
            pmod(xxhash64(col("base_id") * 1000000 + i), lit(5000))))))
      .withColumn("text",
        when(col("doc_id") =!= col("base_id"), concat(col("text"), lit(" wextra")))
          .otherwise(col("text")))
      // lang/source columns so the registry text family (t26/t33-t35)
      // runs against this corpus unmodified via Tables.t
      .withColumn("lang", element_at(
        array(lit("en"), lit("es"), lit("de"), lit("fr"), lit("zh")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int")))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    tm("gen_docs")(docs.repartition(32).write.mode("overwrite")
      .parquet(s"$base/documents.parquet"))

    // d28-style exact shingle-join near-dup at 100k docs (20× sf0.1)
    val d = spark.read.parquet(s"$base/documents.parquet")
    val sh = d.withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("shingles"))
      .persist()
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sstr"))
      .select(col("doc_id"), xxhash64(col("sstr")).as("sv"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val exA = ex.select(col("doc_id").as("ia"), col("sv"))
    val exB = ex.select(col("doc_id").as("ib"), col("sv").as("svb"))
    val nd = tm("neardup_jaccard_100k") {
      exA.join(exB, col("sv") === col("svb") && col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
        .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.8)
        .count()
    }
    println(s"""{"stress":"neardup_pairs","value":$nd}""")
    sh.unpersist()

    // ---- stop-shingle capping under planted boilerplate: prepend a
    // universal 12-token header to EVERY doc. Each header shingle then
    // has df = n, so the uncapped shingle join materializes O(n²)
    // candidate rows from boilerplate alone — the capped variant drops
    // df>50 shingles from candidate generation (exact Jaccard recounted
    // on full sets for survivors) and stays linear.
    val header = "common header boilerplate repeated across every single document in this corpus verbatim "
    val poisoned = d.withColumn("text", concat(lit(header), col("text")))
    def neardupCount(docs: DataFrame, cap: Option[Int]): Long = {
      val psh = docs.withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), array_distinct(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
          .as("shingles")).persist()
      val pex = psh.select(col("doc_id"), explode(col("shingles")).as("sstr"))
        .select(col("doc_id"), xxhash64(col("sstr")).as("sv"))
      val gen = cap match {
        case Some(c) =>
          val rare = pex.groupBy(col("sv")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= c).select(col("sv"))
          pex.join(rare, "sv")
        case None => pex
      }
      val genP = gen.persist()
      val cands = genP.select(col("doc_id").as("ia"), col("sv"))
        .join(genP.select(col("doc_id").as("ib"), col("sv").as("svb")),
          col("sv") === col("svb") && col("ia") < col("ib"))
        .select(col("ia"), col("ib")).distinct()
      val res = cands
        .join(psh.select(col("doc_id").as("ia"), col("shingles").as("sa")), "ia")
        .join(psh.select(col("doc_id").as("ib"), col("shingles").as("sb")), "ib")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .filter(col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")) >= 0.8)
        .count()
      psh.unpersist()
      genP.unpersist()
      res
    }
    val cappedN = tm("neardup_capped_poisoned_100k") {
      neardupCount(poisoned, Some(50))
    }
    println(s"""{"stress":"capped_poisoned_pairs","value":$cappedN}""")
    val plainN = tm("neardup_plain_poisoned_3k") {
      neardupCount(poisoned.filter(col("doc_id") < 3000), None)
    }
    println(s"""{"stress":"plain_poisoned_pairs_3k","value":$plainN}""")

    // ---- text-analysis family at 100k docs (20× the bench SF): the
    // r7 queries run via the registry against this corpus unmodified —
    // repetition signals (t33), BM25 (t34), the composite quality gate
    // (t35), bigram-LM perplexity (t36) and the cross-doc duplicate-
    // span fraction (t37) must stay near-linear in documents: every
    // shuffle is keyed by doc_id / bigram / span digest (fixed-width
    // keys, partial-agg), BM25's only non-map work is a 1-row broadcast
    // stats aggregate, and nothing in the family materializes per-pair
    // state. ~16× sf0.1's 5k docs at ~20× the wall time of the sf0.1
    // bench rows = linear, QED.
    for (q <- Seq("t33_repetition", "t34_bm25", "t35_quality_filter",
      "t36_lm_perplexity", "t37_dup_span_fraction", "t40_ngram_novelty")) {
      tm(s"${q}_100k") {
        SparkEntry.queries(q)(spark, base)
          .write.format("noop").mode("overwrite").save()
      }
      SparkEntry.release(spark)
    }

    // ---- canonical keep-list (registry d41) end-to-end at 100k docs:
    // shingle-join edges → star CC → keep/drop flags + cluster sizes.
    // The dup structure is ~2000 planted pairs (id ≡ 1 mod 50), so CC
    // runs on a sparse 2k-edge graph and the dominant cost stays the
    // d28 edge build — keep-list overhead must be a small constant on
    // top of neardup_jaccard_100k above.
    tm("canonical_docs_100k") {
      SparkEntry.queries("d41_canonical_docs")(spark, base)
        .write.format("noop").mode("overwrite").save()
    }
    SparkEntry.release(spark)

    // ---- fuzzy decontamination (registry d53) at 100k docs: the
    // candidate join is train(~80%) × test(~10%) on shared rare
    // shingles instead of the full corpus self-join — the scenario
    // pins that the cross-split restriction plus the split
    // classification and per-train-doc rollup stay at PARITY with the
    // bare d28 self-join above (neardup_jaccard_100k): the corpus-wide
    // shingle/df pass dominates both, so decontamination rides along
    // at no extra cost class. The planted dups (id ≡ 1 mod 50) land in
    // splits by md5, so a fraction of planted pairs cross train×test
    // and must be found (measured: 329 contaminated train docs at the
    // looser 0.5 threshold).
    val decontamN = tm("fuzzy_decontam_100k") {
      SparkEntry.queries("d53_fuzzy_decontam")(spark, base).count()
    }
    println(s"""{"stress":"fuzzy_decontam_contaminated_docs","value":$decontamN}""")
    SparkEntry.release(spark)

    // ---- r12 scale-evidence cohort: the registry ops that landed in
    // r11 without a §8.5 row, run at 10-20× sf0.1 so the linear-vs-
    // data slope is recorded, not asserted.
    // d61 shingle-size sweep at 100k docs: every arm's candidate join
    // must stay rarity-bounded by the df ≤ 50 cap (which bites HARDER
    // here than at sf0.1 — more common shingles cross the threshold),
    // so arm cost tracks the corpus-linear shingle pass, never pairs².
    val d61rows = tm("shingle_sweep_100k") {
      SparkEntry.queries("d61_shingle_size_sweep")(spark, base)
        .collect()
    }
    d61rows.sortBy(_.getLong(0)).foreach(r => println(
      s"""{"stress":"shingle_sweep_arm_n${r.getLong(0)}","candidates":${r.getLong(5)},"confirmed":${r.getLong(6)}}"""))
    SparkEntry.release(spark)

    // d35 delta-ingest dedup at 100k docs (20× sf0.1): the new-vs-base
    // split is the same doc_id*10 >= mx*9 rule, so the delta join sees
    // 10k new docs against 90k base — time must track the DELTA-keyed
    // candidate join, not base², for the incremental posture to hold.
    val d35n = tm("incremental_dedup_100k") {
      SparkEntry.queries("d35_incremental_dedup")(spark, base).count()
    }
    println(s"""{"stress":"incremental_dedup_pairs","value":$d35n}""")
    SparkEntry.release(spark)

    // d64 cross-doc substring dedup at 100k docs (20× sf0.1): chunking
    // is map-side + one doc-keyed window; cross-doc matching is
    // chunk-hash-keyed. Time must track corpus tokens (the planted
    // id%50 near-dup pairs share all but their last chunk, so
    // removable tokens are guaranteed non-zero at any scale).
    val d64r = tm("substring_dedup_100k") {
      SparkEntry.queries("d64_substring_dedup")(spark, base)
        .agg(sum(col("tokens_total")).as("tok"),
          sum(col("removable_tokens")).as("rem")).head()
    }
    println(s"""{"stress":"substring_dedup_100k","tokens":${d64r.getLong(0)},"removable":${d64r.getLong(1)}}""")
    SparkEntry.release(spark)

    // m48 per-scene frame budgeting at 100k docs (20× sf0.1): frame
    // explode + one doc-keyed window + map-side apportionment — time
    // must scale with total payload bytes, no global stage.
    val m48n = tm("frame_budget_100k") {
      SparkEntry.queries("m48_frame_budget")(spark, base).count()
    }
    println(s"""{"stress":"frame_budget_docs","value":$m48n}""")
    SparkEntry.release(spark)

    // m50 perceptual hash at 100k assets, two claims measured
    // separately:
    // (1) VOLUME — candidates on the raw corpus stay at the LSH
    //     collision bound (~n²/2¹⁶ per 16-bit band; measured 360k
    //     for 100k docs, BELOW the 610k uniform-random expectation —
    //     the banding never degenerates toward pairs²). The corpus's
    //     planted append-dups are NOT byte-aligned past the early
    //     segments (boundaries shift by i·Δlen/64), so they are not
    //     a phash recall signal — measured and documented, not
    //     assumed (planted_found = 0 is the honest number here).
    // (2) RECALL — aHash's actual robustness class is the
    //     length-PRESERVING local edit (the image analog: a few
    //     changed pixels). 1000 copies with one byte substituted at
    //     a fixed offset keep every segment boundary identical, so
    //     only the touched segment's mass (and the global total,
    //     slightly) moves; those pairs must land at tiny Hamming and
    //     be flagged is_dup.
    val ph = tm("phash_neardup_100k") {
      SparkEntry.queries("m50_phash_neardup")(spark, base)
        .agg(count(lit(1)).as("cands"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("dups"))
        .head()
    }
    println(s"""{"stress":"phash_candidates","value":${ph.getLong(0)},"is_dup":${ph.getLong(1)}}""")
    SparkEntry.release(spark)
    val phBase = s"$base/phash_edit"
    val edited = d.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("text",
        concat(substring(col("text"), 1, 40), lit("X"),
          substring(col("text"), 42, 1000000)))
    d.unionByName(edited).repartition(32).write.mode("overwrite")
      .parquet(s"$phBase/documents.parquet")
    val phe = tm("phash_aligned_edit_recall") {
      SparkEntry.queries("m50_phash_neardup")(spark, phBase)
        .filter(col("ib") - col("ia") === 10000000L
          && col("ib") % 100 === 0)
        .agg(count(lit(1)).as("cand_pairs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("found"),
          max(col("hamming")).as("max_h"))
        .head()
    }
    println(s"""{"stress":"phash_aligned_edit","planted":1000,"candidates":${phe.getLong(0)},"is_dup":${phe.getLong(1)},"max_hamming":${if (phe.isNullAt(2)) -1 else phe.getLong(2)}}""")
    SparkEntry.release(spark)

    // ---- band-width trade (spark.graft.phash.bandBits): the 16-bit
    // quarter keys are Θ(4·n²/2¹⁶) for random fingerprints — fine at
    // 100k, ~10¹³ pairs at 10⁹ assets. The 32-bit quarter-PAIR keys
    // (C(4,2)=6 Manku-style tables) cut volume to Θ(6·n²/2³²) and
    // still guarantee every Hamming ≤ 2 pair. Measure BOTH widths on
    // the 100k corpus, then BOTH on a 1M-asset corpus with 10k planted
    // aligned one-byte edits — candidates must grow ~quadratically at
    // 16 bits and stay near-linear at 32 bits, with planted recall
    // intact at both widths.
    def phashRun(dir: String, bits: String): (Long, Long) = {
      spark.conf.set("spark.graft.phash.bandBits", bits)
      val r = SparkEntry.queries("m50_phash_neardup")(spark, dir)
        .agg(count(lit(1)).as("cands"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("dups")).head()
      SparkEntry.release(spark)
      spark.conf.unset("spark.graft.phash.bandBits")
      (r.getLong(0), r.getLong(1))
    }
    val ph32 = tm("phash_neardup_100k_b32")(phashRun(base, "32"))
    println(s"""{"stress":"phash_candidates_100k_b32","value":${ph32._1},"is_dup":${ph32._2}}""")
    val base1m = s"$base/phash_1m"
    val n1m = 1000000
    tm("gen_phash_1m") {
      spark.range(n1m).toDF("doc_id")
        .withColumn("base_id",
          when(col("doc_id") % 100 === 1, col("doc_id") - 1)
            .otherwise(col("doc_id")))
        .withColumn("len",
          (pmod(xxhash64(col("base_id")), lit(40)) + 60).cast("int"))
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(1), col("len")),
            i => concat(lit("w"),
              pmod(xxhash64(col("base_id") * 1000000 + i), lit(5000))))))
        // length-PRESERVING one-byte substitution at a fixed offset:
        // every segment boundary of the copy matches its base, the
        // aHash robustness class (the phash_aligned_edit shape)
        .withColumn("text",
          when(col("doc_id") =!= col("base_id"),
            concat(substring(col("text"), 1, 40), lit("X"),
              expr("substring(text, 42)")))
            .otherwise(col("text")))
        .withColumn("lang", element_at(
          array(lit("en"), lit("es"), lit("de"), lit("fr"), lit("zh")),
          (pmod(col("doc_id"), lit(5)) + 1).cast("int")))
        .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$base1m/documents.parquet")
    }
    val ph1m32 = tm("phash_neardup_1m_b32")(phashRun(base1m, "32"))
    println(s"""{"stress":"phash_candidates_1m_b32","value":${ph1m32._1},"is_dup":${ph1m32._2}}""")
    val ph1m16 = tm("phash_neardup_1m_b16")(phashRun(base1m, "16"))
    println(s"""{"stress":"phash_candidates_1m_b16","value":${ph1m16._1},"is_dup":${ph1m16._2}}""")
    // d64 at 1M docs (~200× sf0.1, ~80M tokens): the map-side
    // cdc_chunks kernel means the first shuffle is already
    // chunk-granular — time must track corpus tokens through the
    // chunk-hash stages, no token-level exchange anywhere. The
    // id%100 planted near-dups guarantee removable chunks.
    val d64b = tm("substring_dedup_1m") {
      SparkEntry.queries("d64_substring_dedup")(spark, base1m)
        .agg(sum(col("tokens_total")).as("tok"),
          sum(col("removable_tokens")).as("rem")).head()
    }
    println(s"""{"stress":"substring_dedup_1m","tokens":${d64b.getLong(0)},"removable":${d64b.getLong(1)}}""")
    SparkEntry.release(spark)

    // the auto policy must ENGAGE at scale: 1M assets > the 2^18
    // default threshold, so the unset (default) knob takes the 32-bit
    // path — identical counts to the explicit b32 run above
    val ph1mAuto = tm("phash_neardup_1m_auto")(phashRun(base1m, "auto"))
    println(s"""{"stress":"phash_candidates_1m_auto","value":${ph1mAuto._1},"is_dup":${ph1mAuto._2},"expect_b32":${ph1m32._1},"auto_matches_b32":${ph1mAuto == ph1m32}}""")

    // ---- the 32-bit REDUCED-RECALL regime, measured head-on: quarter-
    // pair keys GUARANTEE collision only at Hamming ≤ 2; a Hamming 3–8
    // pair whose errors spread across ≥ 3 quarters can be silently
    // missed while is_dup would have flagged it. Plant multi-site
    // token edits (1..6 scattered sites → fingerprints land across the
    // whole 0..8+ Hamming range), compute every planted pair's TRUE
    // Hamming directly from the signatures (id-join — no banding in
    // the ground-truth path), then report per-bucket recall of each
    // band width's candidate stage. This is the number a consumer of
    // the auto policy needs when the corpus crosses the threshold.
    val hamBase = s"$base/phash_ham"
    val hamOrig = d.filter(col("doc_id") < 20000)
    val hamCopies = hamOrig
      .withColumn("doc_id", col("doc_id") + 20000000L)
      .withColumn("ne", (pmod(col("doc_id"), lit(6)) + 1).cast("int"))
      .withColumn("text", expr(
        """concat_ws(' ', zip_with(split(text, ' '),
          |  sequence(0, size(split(text, ' ')) - 1),
          |  (t, i) -> IF(i % 11 = 3 AND i div 11 < ne,
          |    concat('Z', i), t)))""".stripMargin))
      .drop("ne")
      .withColumn("n_chars", length(col("text")).cast("long"))
    hamOrig.unionByName(hamCopies).repartition(32)
      .write.mode("overwrite").parquet(s"$hamBase/documents.parquet")
    val hamSigs = graft.queries.MultimodalOps.phashSignatures(
      graft.queries.MultimodalOps.multimodalTable(spark, hamBase))
      .persist()
    val gtA = hamSigs.filter(col("doc_id") < 20000000L)
      .select(col("doc_id").as("ia"), col("ph_hi").as("ha"),
        col("ph_lo").as("la"))
    val gtB = hamSigs.filter(col("doc_id") >= 20000000L)
      .select((col("doc_id") - 20000000L).as("ia"),
        col("ph_hi").as("hb"), col("ph_lo").as("lb"))
    val gt = gtA.join(gtB, "ia")
      .withColumn("true_h",
        expr("bit_count(ha ^ hb) + bit_count(la ^ lb)").cast("long"))
      .select(col("ia"), col("true_h")).persist()
    for (bits <- Seq(16, 32)) {
      val found = graft.queries.MultimodalOps
        .phashCandidates(hamSigs, bits)
        .filter(col("ib") - col("ia") === 20000000L)
        .select(col("ia"), lit(1L).as("found"))
      val buckets = tm(s"phash_h38_recall_b$bits") {
        gt.join(found, Seq("ia"), "left")
          .withColumn("bucket",
            when(col("true_h") <= 2, "h0_2")
              .when(col("true_h") <= 8, "h3_8").otherwise("h9plus"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("planted"),
            sum(coalesce(col("found"), lit(0L))).as("recalled"))
          .orderBy(col("bucket")).collect()
      }
      buckets.foreach(r => println(
        s"""{"stress":"phash_recall_b$bits","bucket":"${r.getString(0)}","planted":${r.getLong(1)},"recalled":${r.getLong(2)}}"""))
    }
    gt.unpersist(); hamSigs.unpersist()
    SparkEntry.release(spark)

    // q146 ABC classification over a 10M-row synthetic lineitem
    // (~17× sf0.1's 600k): the global revenue cumsum runs through the
    // log2-block decomposition (per-block windows + broadcast prefix),
    // so the ranked-list stage parallelizes by block instead of one
    // task for the whole ordered list.
    val li = spark.range(10000000L).toDF("id")
      .withColumn("l_partkey", pmod(xxhash64(col("id")), lit(1000000L)))
      .withColumn("l_extendedprice",
        (pmod(xxhash64(col("id") + 7), lit(900000L)) + 100000L) / 100.0)
      .withColumn("l_discount",
        pmod(xxhash64(col("id") + 13), lit(11L)) / 100.0)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    tm("gen_lineitem_10m")(li.repartition(32).write.mode("overwrite")
      .parquet(s"$base/lineitem.parquet"))
    tm("abc_classification_10m") {
      SparkEntry.queries("q146_abc_classification")(spark, base)
        .write.format("noop").mode("overwrite").save()
    }
    SparkEntry.release(spark)

    // q163 interval-overlap sweep at 10M intervals (~17× sf0.1's
    // 600k): the pair COUNT grows ~quadratically in per-supplier
    // density (it counts what a self-join would materialize), but the
    // sweep's COST must stay linear in events — 2 rows per interval
    // through the (supplier, year)-decomposed running sum. 1000
    // suppliers × ~7 years keeps every window partition ~2900 events.
    val ovBase = s"$base/overlap_10m"
    tm("gen_overlap_10m") {
      spark.range(2500000L).toDF("o_orderkey")
        .withColumn("o_orderdate", to_timestamp(date_add(
          to_date(lit("1995-01-01")),
          pmod(xxhash64(col("o_orderkey")), lit(2400L)).cast("int"))))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$ovBase/orders.parquet")
      spark.range(10000000L).toDF("id")
        .withColumn("l_orderkey", pmod(xxhash64(col("id")), lit(2500000L)))
        // ship = the SAME hash-derived order date + a 1-180 day lag, so
        // every interval is valid without joining during generation
        .withColumn("l_shipdate", to_timestamp(date_add(
          to_date(lit("1995-01-01")),
          (pmod(xxhash64(col("l_orderkey")), lit(2400L))
            + 1L + pmod(xxhash64(col("id") + 3), lit(180L))).cast("int"))))
        .withColumn("l_suppkey", pmod(xxhash64(col("id") + 7), lit(1000L)))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$ovBase/lineitem.parquet")
    }
    val ov = tm("inflight_overlap_10m") {
      SparkEntry.queries("q163_inflight_overlap")(spark, ovBase)
        .agg(count(lit(1)).as("n_supp"),
          sum(col("n_intervals")).as("n_iv"),
          sum(col("n_overlap_pairs")).as("pairs"),
          max(col("peak_inflight")).as("peak")).head()
    }
    println(s"""{"stress":"inflight_overlap_10m","suppliers":${ov.getLong(0)},"intervals":${ov.getLong(1)},"pairs":${ov.getLong(2)},"peak":${ov.getLong(3)}}""")
    SparkEntry.release(spark)

    // ---- synthesize embeddings: 20k × 64 dims from hashes
    val emb = spark.range(20000).toDF("vec_id")
      .withColumn("emb", transform(sequence(lit(1), lit(64)),
        i => (pmod(xxhash64(col("vec_id") * 100 + i), lit(2000)) - 1000.0) / 1000.0))
    tm("gen_embeddings")(emb.repartition(32).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet"))
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    graft.functions.VectorFunctions.register(spark)
    val cosCol = graft.functions.VectorFunctions.cosineSim _
    val bruteN = tm("brute_cosine_20k") {
      val a = e.select(col("vec_id").as("ia"), col("emb").as("ea"))
      val b = e.select(col("vec_id").as("ib"), col("emb").as("eb"))
      a.join(b, col("ia") < col("ib"))
        .filter(cosCol(col("ea"), col("eb")) >= 0.8).count()
    }
    println(s"""{"stress":"brute_pairs","value":$bruteN}""")

    // ---- MIPS scoring: the native codegen'd DotProduct vs the
    // higher-order-function rendering (aggregate ∘ zip_with) on the
    // IDENTICAL 100-query × 20k-corpus top-10 job (2M score
    // evaluations). Same plan shape — broadcast queries, bounded-heap
    // top-k — so the wall-clock delta isolates the expression cost:
    // the HOF route materializes an intermediate array per scored
    // pair, the native expression is one fused loop inside
    // whole-stage codegen. The ratio is the argument for s60 keeping
    // a custom Expression on its hot path.
    val mipsQ = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def mipsTop10(score: org.apache.spark.sql.Column): Long =
      graft.operators.TopKPerKeyApi.topKPerKey(
        e.join(broadcast(mipsQ), col("vec_id") =!= col("qid"))
          .withColumn("nip", -score)
          .select(col("qid"), col("vec_id"), col("nip")),
        Seq("qid"), Seq(("nip", true), ("vec_id", true)), 10).count()
    val dotNative = graft.functions.VectorFunctions.dotProduct _
    val mipsNativeN = tm("mips_native_dot_100x20k") {
      mipsTop10(dotNative(col("qemb"), col("emb")))
    }
    val mipsHofN = tm("mips_hof_dot_100x20k") {
      mipsTop10(aggregate(zip_with(col("qemb"), col("emb"),
        (x, y) => x * y), lit(0.0), (s, v) => s + v))
    }
    require(mipsNativeN == mipsHofN,
      s"native vs HOF MIPS row counts diverged: $mipsNativeN vs $mipsHofN")

    // ---- d51-style SEMANTIC DEDUP at 20k vectors: the same ≥0.8
    // near-dup confirm as the brute row above, candidates bounded to
    // quantizer cell-mates (64 fixed centroids) with the pairwise
    // shuffle keyed by cell id. At THIS scale fixed overhead (cell
    // assignment + persist) masks the comparison cut in wall-clock, so
    // the scale evidence is the EXAMINED-PAIR count: Σ cell·(cell−1)/2
    // vs the brute row's n·(n−1)/2 = 199,990,000 — the ratio (~64×,
    // and ∝ k as the quantizer grows with the corpus) is what survives
    // a 1000× scale-up, where both rows are comparison-bound.
    val (semdedupN, semCands) = tm("semdedup_cells_20k") {
      val cents = e.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val wA = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("cosc").desc, col("cid").asc)
      val cell = e.crossJoin(broadcast(cents))
        .withColumn("cosc", round(cosCol(col("emb"), col("cemb")), 6))
        .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
        .select(col("vec_id"), col("emb"), col("cid")).persist()
      val cands = cell.groupBy(col("cid")).agg(count(lit(1)).as("m"))
        .agg(sum(col("m") * (col("m") - 1) / 2)).head().getDouble(0).toLong
      val dropped = cell.select(col("cid"), col("vec_id").as("ia"),
          col("emb").as("ea"))
        .join(cell.select(col("cid").as("cidb"), col("vec_id").as("ib"),
          col("emb").as("eb")),
          col("cid") === col("cidb") && col("ia") < col("ib"))
        .filter(round(cosCol(col("ea"), col("eb")), 6) >= 0.8)
        .select(col("ib")).distinct().count()
      cell.unpersist()
      (dropped, cands)
    }
    println(s"""{"stress":"semdedup_dropped","value":$semdedupN}""")
    println(s"""{"stress":"semdedup_candidates","value":$semCands,"brute_candidates":199990000}""")

    // ---- d32-style portable simhash + banded Hamming near-dup at 100k
    // docs: signature aggregation is one pass over the token stream,
    // candidate generation shuffles on (band, value) keys only.
    val simhamN = tm("simhash_hamming_100k") {
      val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val sigs = tok.groupBy(col("doc_id"))
        .agg(graft.functions.SimHash48Agg.simhash48(col("tok")).as("sig"))
        .persist()
      val banded = sigs.select(col("doc_id"), col("sig"), explode(array(
        struct(lit(0).as("bi"),
          shiftright(col("sig"), 32).bitwiseAND(lit(0xffffL)).as("bv")),
        struct(lit(1).as("bi"),
          shiftright(col("sig"), 16).bitwiseAND(lit(0xffffL)).as("bv")),
        struct(lit(2).as("bi"),
          col("sig").bitwiseAND(lit(0xffffL)).as("bv")))).as("b"))
      val n = banded.select(col("doc_id").as("ia"), col("sig").as("sa"), col("b"))
        .join(banded.select(col("doc_id").as("ib"), col("sig").as("sb"),
          col("b").as("bb")),
          col("b") === col("bb") && col("ia") < col("ib"))
        .select(col("ia"), col("ib"), col("sa"), col("sb")).distinct()
        .filter(expr("bit_count(sa ^ sb)") <= 6).count()
      sigs.unpersist()
      n
    }
    println(s"""{"stress":"simhash_pairs","value":$simhamN}""")

    // ---- connected components under an ADVERSARIAL diameter: one
    // 10k-long chain (edges i—i+1). Label propagation needs one
    // superstep per hop of diameter — 10k supersteps here — while the
    // large-star/small-star variant (registry d34) contracts the chain
    // in O(log n) rounds. Propagation gets a 100× SHORTER chain and
    // still loses; extrapolate ×100 for its 10k cost.
    val chainLen = 10000
    val chain = spark.range(chainLen - 1)
      .select(col("id").as("ia"), (col("id") + 1).as("ib"))
    val starCc = tm("cc_star_chain_10k") {
      graft.operators.DedupClustering.connectedComponentsStar(chain)
        .agg(countDistinct(col("cluster_id"))).head().getLong(0)
    }
    println(s"""{"stress":"cc_star_components","value":$starCc}""")
    val propChain = spark.range(99)
      .select(col("id").as("ia"), (col("id") + 1).as("ib"))
    val propCc = tm("cc_propagation_chain_100") {
      graft.operators.DedupClustering.connectedComponents(propChain,
        maxIter = 120)
        .agg(countDistinct(col("cluster_id"))).head().getLong(0)
    }
    println(s"""{"stress":"cc_propagation_components","value":$propCc}""")

    // ---- product-quantized ADC search over 20k vectors: codebooks fit
    // driver-side on a bounded sample; corpus scan is 8-byte codes.
    val pqN = tm("pq_adc_20k") {
      val e2 = e.select(col("vec_id"), col("emb"))
      val pq = graft.ml.ProductQuantizer.fit(e2, m = 16, k = 16)
      val codes = pq.encode(e2).select(col("vec_id"), col("pq_code"))
      val q = e2.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val searched = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("adc", pq.adcNative(col("pq_code"), col("qemb")))
        .select(col("qid"), col("vec_id"), col("adc"))
      graft.operators.TopKPerKeyApi.topKPerKey(searched, Seq("qid"),
        Seq(("adc", true), ("vec_id", true)), 10).count()
    }
    println(s"""{"stress":"pq_top10_rows","value":$pqN}""")

    // ---- IVF-PQ recall: raw-vector codes (registry s42) vs RESIDUAL
    // codes (registry s43) at equal code budget (16×16). 100 planted
    // queries = noisy copies of corpus vectors; ground truth = exact
    // brute-force cosine top-10 over the full 20.1k set; both ANN
    // variants probe the same 4 of 32 trained cells. Residual encoding
    // should recover measurably more of the true top-10 because the
    // codebooks quantize the (small) residual domain, not the raw one.
    {
      // CLUSTERED corpus (unlike the uniform `e` above): 32 true
      // clusters, per-vector noise at ~1/5 the center scale. Real
      // embedding spaces are clustered — and residual encoding's whole
      // premise is that vectors sit near their cell centroid (on
      // uniform data centroids collapse to ~0 and residual ≡ raw;
      // measured: 0.390 vs 0.393 — a tie, as theory predicts).
      val clustered = spark.range(20000).toDF("vec_id")
        .withColumn("cl", pmod(xxhash64(col("vec_id")), lit(32)))
        .withColumn("emb", transform(sequence(lit(1), lit(64)), i =>
          (pmod(xxhash64(col("cl") * 64 + i), lit(2000)) - 1000.0) / 1000.0 +
          (pmod(xxhash64(col("vec_id") * 64 + i, lit(7)), lit(2000)) - 1000.0) / 5000.0))
        .select(col("vec_id"), col("emb"))
      val planted = clustered.filter(col("vec_id") < 100)
        .select((col("vec_id") + 20000).as("vec_id"),
          transform(col("emb"),
            x => x + (pmod(xxhash64(x), lit(100)) - 50.0) / 2000.0).as("emb"))
      val all = clustered.union(planted).persist()
      val q = planted.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val cosSim = graft.functions.VectorFunctions.cosineSim _
      def top10(scored: DataFrame, scoreCol: String, asc: Boolean): DataFrame =
        graft.operators.TopKPerKeyApi.topKPerKey(scored, Seq("qid"),
          Seq((scoreCol, asc), ("vec_id", true)), 10)
      val globalGt = tm("recall_ground_truth_brute") {
        top10(all.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("neg", -cosSim(col("qemb"), col("emb")))
          .select(col("qid"), col("vec_id"), col("neg")), "neg", asc = true)
          .select(col("qid"), col("vec_id")).persist()
      }
      globalGt.count()
      // trained coarse quantizer: seeded k-means, 32 cells; assignment
      // + probe ranking via one broadcast crossJoin + rank window
      val cents = new org.apache.spark.ml.clustering.KMeans()
        .setK(32).setSeed(42L).setFeaturesCol("vec")
        .fit(graft.ml.EmbeddingModels.vectors(
          all.coalesce(1).withColumnRenamed("emb", "embedding")))
        .clusterCenters.map(_.toArray.map(x => math.rint(x * 1e6) / 1e6))
      val centsDf = spark.createDataFrame(
        spark.sparkContext.parallelize(cents.zipWithIndex.toSeq.map {
          case (c, i) => org.apache.spark.sql.Row(i.toLong, c.toSeq) }),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cemb",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
      val wAssign = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cosc").desc, col("cid").asc)
      val ranked = all.crossJoin(broadcast(centsDf))
        .withColumn("cosc", cosSim(col("emb"), col("cemb")))
        .withColumn("rn", row_number().over(wAssign))
        .persist()
      val corpus0 = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("emb"), col("cemb"))
      val probes = ranked.filter(col("rn") <= 4 && col("vec_id") >= 20000)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("cemb").as("pcemb"), col("cid").as("pcell"))
      // TWO ground truths: global (how much the 4-of-32 cell pruning
      // costs — identical for both code types, reported once) and
      // IN-PROBE exact-L2 top-10 (the quantization-isolating one: both
      // variants rank the SAME candidate set, so any recall difference
      // is purely ADC distortion — raw codes vs residual codes)
      val exactL2 = (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =>
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, v) => s + v)
      val probeGt = top10(corpus0.join(broadcast(probes),
          col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
        .withColumn("d2", exactL2(col("emb"), col("qemb")))
        .select(col("qid"), col("vec_id"), col("d2")), "d2", asc = true)
        .select(col("qid"), col("vec_id")).persist()
      val cellCeiling = probeGt.join(globalGt, Seq("qid", "vec_id"),
        "left_semi").count() / (100 * 10.0)
      def recallOf(search: DataFrame, gt: DataFrame): Double = {
        val hits = search.select(col("qid"), col("vec_id"))
          .join(gt, Seq("qid", "vec_id"), "left_semi").count()
        hits.toDouble / (100 * 10)
      }
      val rawPq = graft.ml.ProductQuantizer.fit(
        corpus0.select(col("emb")), m = 16, k = 16)
      val rawRecall = tm("ivfpq_recall_raw") {
        val codes = rawPq.encode(corpus0).select(col("vec_id"), col("cid"),
          col("pq_code"))
        recallOf(top10(codes.join(broadcast(probes),
            col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
          .withColumn("adc", rawPq.adcNative(col("pq_code"), col("qemb")))
          .select(col("qid"), col("vec_id"), col("adc")), "adc", asc = true),
          probeGt)
      }
      val resid0 = corpus0.select(col("vec_id"), col("cid"),
        zip_with(col("emb"), col("cemb"), (x, y) => x - y).as("remb"))
      val resPq = graft.ml.ProductQuantizer.fit(
        resid0.select(col("remb")), embCol = "remb", m = 16, k = 16)
      val resRecall = tm("ivfpq_recall_residual") {
        val codes = resPq.encode(resid0, embCol = "remb")
          .select(col("vec_id"), col("cid"), col("pq_code"))
        recallOf(top10(codes.join(broadcast(probes.withColumn("qres",
            zip_with(col("qemb"), col("pcemb"), (x, y) => x - y))),
            col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
          .withColumn("adc", resPq.adcNative(col("pq_code"), col("qres")))
          .select(col("qid"), col("vec_id"), col("adc")), "adc", asc = true),
          probeGt)
      }
      println(f"""{"stress":"ivfpq_recall","in_probe_raw":$rawRecall%.3f,"in_probe_residual":$resRecall%.3f,"cell_ceiling":$cellCeiling%.3f}""")
      all.unpersist(); globalGt.unpersist(); probeGt.unpersist(); ranked.unpersist()
    }

    // ---- skewed join: 5M fact rows, 50% on one key, 1000-row dim;
    // broadcast + AQE skew handling off to isolate the salting effect.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val fact = spark.range(5000000).toDF("fid")
      .withColumn("k", when(col("fid") % 2 === 0, 0L)
        .otherwise(pmod(xxhash64(col("fid")), lit(1000))))
    val dim = spark.range(1000).toDF("k").withColumn("name", concat(lit("d"), col("k")))
    tm("skew_plain_join") {
      fact.join(dim, "k").agg(count(lit(1))).head()
    }
    tm("skew_salted_join") {
      graft.operators.SaltedJoin.saltedJoin(fact, dim, "k", Seq("fid"), 32)
        .agg(count(lit(1))).head()
    }

    // ---- runtime bloom-filter join pruning: a 1%-selective dim filter
    // should prune the FACT side before its shuffle (Spark injects a
    // bloom filter built from the filtered dim into the fact branch).
    // Broadcast stays off so the join genuinely shuffles both sides —
    // the 100 TB case this models is dim too big to broadcast but still
    // selective. Thresholds are lowered to demo scale; at real scale
    // the 10 MB / 10 GB defaults engage on their own.
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1MB")
    val fact2 = spark.range(5000000).toDF("fid")
      .withColumn("k", pmod(xxhash64(col("fid")), lit(100000)))
      .withColumn("payload", md5(col("fid").cast("string")))
    fact2.repartition(32).write.mode("overwrite").parquet(s"$base/fact2.parquet")
    val dim2 = spark.range(100000).toDF("k")
      .withColumn("cat", pmod(xxhash64(col("k") + 7), lit(100)))
    dim2.repartition(4).write.mode("overwrite").parquet(s"$base/dim2.parquet")
    // AQE wraps materialized exchanges in QueryStageExec LEAF nodes, so
    // a plain collect never reaches their metrics — unwrap explicitly
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val self = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: allNodes(q.plan)
        case other => Seq(other)
      }
      self ++ p.children.flatMap(allNodes)
    }
    def shuffleRecords(df: DataFrame): Long =
      allNodes(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum
    def bloomRun(enabled: Boolean): Unit = {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", enabled)
      val f = spark.read.parquet(s"$base/fact2.parquet")
      val dd = spark.read.parquet(s"$base/dim2.parquet").filter(col("cat") === 0)
      val joined = f.join(dd, "k").agg(count(lit(1)))
      // collect(), not head(): head() executes a separate limit()
      // QueryExecution, leaving this plan's metric accumulators at zero
      val n = tm(s"bloom_join_enabled_$enabled")(joined.collect()(0).getLong(0))
      val hasBloom = joined.queryExecution.executedPlan.toString
        .toLowerCase.contains("bloomfilter")
      println(s"""{"stress":"bloom_join_enabled_$enabled","joined_rows":$n,"bloom_in_plan":$hasBloom,"shuffle_records":${shuffleRecords(joined)}}""")
    }
    bloomRun(enabled = false)
    bloomRun(enabled = true)

    // ---- incremental dedup prefilter (registry d35's operator): 1k
    // new docs vs the 100k corpus. The candidate join only needs corpus
    // shingles that collide with a NEW doc's shingle, so pruning the
    // explode pre-shuffle (broadcast semi on new hashes, or a 1% bloom)
    // should collapse shuffle volume by ~corpus/new — with identical
    // output pairs, since the exact confirm ignores how candidates
    // were generated.
    val shInc = d.withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("shingles"))
      .withColumn("is_new", col("doc_id") >= nDocs - 1000)
    def incRun(mode: String): Long = {
      val out = graft.operators.IncrementalDedup.pairs(shInc, 0.8, mode,
        expectedNewShingles = 200000L)
      // collect() so the metrics land on THIS plan (see bloomRun note)
      val n = tm(s"incremental_dedup_$mode")(out.collect().length)
      println(s"""{"stress":"incremental_dedup_$mode","pairs":$n,"shuffle_records":${shuffleRecords(out)}}""")
      SparkEntry.release(spark)
      n
    }
    val incNone = incRun("none")
    val incSemi = incRun("semi")
    val incBloom = incRun("bloom")
    require(incNone == incSemi && incSemi == incBloom,
      s"prefilter changed the result: none=$incNone semi=$incSemi bloom=$incBloom")

    // ---- distributed rank on ONE fat group (the q85/q86/q81
    // primitive): a single "brand" with 200k/400k rows. A bare
    // row_number window would sort the whole group in ONE task
    // regardless of cluster size; DistributedRank.rowNumber blocks on
    // the 2-char name prefix, so doubling the rows should ~double
    // wall-time (never square it) and the work spreads over #prefix
    // tasks. Sum-of-ranks n(n+1)/2 proves the rank is an exact
    // permutation of 1..n either way.
    for (n <- Seq(200000, 400000)) {
      val fat = spark.range(n).toDF("k")
        .withColumn("g", lit("B"))
        .withColumn("name", concat(
          element_at(array(lit("red"), lit("teal"), lit("olive"), lit("navy"),
            lit("plum"), lit("mint"), lit("gold"), lit("gray")),
            (pmod(xxhash64(col("k")), lit(8)) + 1).cast("int")),
          lit(" item "), md5(col("k").cast("string"))))
      val ranked = graft.operators.DistributedRank.rowNumber(
        fat, Seq("g"), Seq(col("name").asc, col("k").asc),
        substring(col("name"), 1, 2), "rn")
      val sumRn = tm(s"dist_rank_fat_block_$n")(
        ranked.agg(sum(col("rn"))).collect()(0).getLong(0))
      require(sumRn == n.toLong * (n + 1) / 2,
        s"rank must be a permutation of 1..$n: sum=$sumRn")
      println(s"""{"stress":"dist_rank_fat_block_$n","rows":$n}""")
    }

    // ---- triangle orientation under a planted hub (registry d40 vs
    // d45): a MID-RANGE-id hub (id = n/2) touches every other vertex,
    // spokes chain with skip edges so real triangles exist. Under ID
    // order the hub is the MIDDLE of in(hub)×out(hub) ≈ (n/2)² two-
    // paths (the canonical a<b<c pattern pays in-degree × out-degree
    // through every vertex); under DEGREE order the hub ranks last, so
    // every hub edge points INTO it and it contributes zero paths —
    // fan-out is bounded by the strip's degeneracy. Identical triangle
    // sets either way.
    val nSpokes = 6000
    val hubId = nSpokes / 2
    val hubE = spark.range(0, nSpokes).filter(col("id") =!= hubId)
      .select(least(col("id"), lit(hubId.toLong)).as("ia"),
        greatest(col("id"), lit(hubId.toLong)).as("ib"))
    val stripE = spark.range(0, nSpokes - 1)
      .select(col("id").as("ia"), (col("id") + 1).as("ib"))
      .union(spark.range(0, nSpokes - 2)
        .select(col("id").as("ia"), (col("id") + 2).as("ib")))
    // distinct: strip edges touching the hub duplicate hub spokes, and
    // a duplicated edge row would double-count its triangles
    val tEdges = hubE.union(stripE).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tEdges.count()
    val nTriId = tm("triangles_hub_id_ordered")(
      graft.operators.Triangles.idOrdered(tEdges).count())
    val nTriDeg = tm("triangles_hub_degree_ordered")(
      graft.operators.Triangles.degreeOrdered(tEdges).count())
    require(nTriId == nTriDeg,
      s"orientation changed the result: id=$nTriId deg=$nTriDeg")
    // the structural metric: candidate two-paths BEFORE the closure
    // join. ID order charges the hub n(n-1)/2 ≈ 18M candidates; degree
    // order must stay within a small multiple of the triangle count —
    // at 6k spokes the 18M hash probes are still cheap enough that
    // wall-time alone understates the gap, but at 100 TB the candidate
    // volume IS the shuffle bill
    val idPaths = graft.operators.Triangles.idOrderedPaths(tEdges).count()
    val degPaths = graft.operators.Triangles.degreeOrientedPaths(tEdges).count()
    require(degPaths * 100 < idPaths,
      s"degree orientation must collapse hub fan-out: id=$idPaths deg=$degPaths")
    println(s"""{"stress":"triangles_hub","triangles":$nTriId,"paths_id":$idPaths,"paths_degree":$degPaths}""")
    tEdges.unpersist()

    // ---- gear-CDC zero-run degeneracy, head-on (the r15 hazard): for
    // a zero byte gear(0)=0, so h = 16h mod 2³² reaches 0 within 8
    // bytes of a zero run and EVERY later zero byte is a boundary —
    // the stateless rule (m52) degenerates to 1-byte chunks with an
    // md5 per byte. The clamped production tier (m53) must cap the
    // same corpus at ~bytes/16 chunk rows. Fixture: 16 assets, each
    // 1 MiB of zero padding wrapped by distinct token content (sparse-
    // file / uncompressed-media shape). NUL encodes to a single 0x00
    // byte in UTF-8, so the text-derived payload carries the run.
    graft.functions.VectorFunctions.register(spark)
    val zeroPad = 1 << 20
    val zr = spark.range(16).toDF("doc_id")
      .withColumn("text", concat(
        concat_ws(" ", transform(sequence(lit(1), lit(200)),
          i => concat(lit("hdr"),
            pmod(xxhash64(col("doc_id") * 7919 + i), lit(5000))))),
        expr(s"repeat(chr(0), $zeroPad)"),
        concat_ws(" ", transform(sequence(lit(1), lit(200)),
          i => concat(lit("tail"),
            pmod(xxhash64(col("doc_id") * 104729 + i), lit(5000)))))))
      .withColumn("payload", encode(col("text"), "utf-8"))
      .select(col("doc_id"), col("payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val zBytes = zr.agg(sum(length(col("payload")))).head().getLong(0)
    val zUnclamped = tm("gear_cdc_zero_run_unclamped") {
      zr.select(explode(graft.functions.VectorFunctions
        .gearChunks(col("payload"))).as("ch")).count()
    }
    val zClamped = tm("gear_cdc_zero_run_clamped") {
      zr.select(explode(graft.functions.VectorFunctions
        .gearChunksClamped(col("payload"), 16, 4096)).as("ch")).count()
    }
    zr.unpersist()
    // unclamped: ~1 chunk per zero byte; clamped: exactly bytes/16
    // through the run, ~bytes/64 elsewhere — the clamp must cut the
    // row volume by >10× and stay within the bytes/16 ceiling
    require(zUnclamped > zBytes / 2,
      s"zero-run fixture failed to trigger the degeneracy: $zUnclamped chunks over $zBytes bytes")
    require(zClamped <= zBytes / 16 + 16,
      s"clamp ceiling violated: $zClamped chunks over $zBytes bytes")
    require(zClamped * 10 < zUnclamped,
      s"clamp must collapse the explosion: $zClamped vs $zUnclamped")
    println(s"""{"stress":"gear_cdc_zero_run","bytes":$zBytes,"unclamped_chunks":$zUnclamped,"clamped_chunks":$zClamped}""")

    // ---- clamped gear-CDC scale slope (the m53 production tier):
    // full content-addressed-store accounting at 100k docs and 1M docs
    // (both corpora already on disk). Chunking is map-side; the only
    // shuffles are chunk_md5-keyed (first-occurrence window) and the
    // source rollup — 10× data must cost ~10× time, never worse than
    // ~15× (superlinearity here would mean a pair-shaped stage leaked
    // in). Planted near-dup copies guarantee real savings at both
    // scales.
    val g100k = tm("gear_cdc_clamped_100k") {
      SparkEntry.queries("m53_gear_cdc_clamped")(spark, base)
        .agg(sum(col("n_chunks")), sum(col("bytes_total")),
          sum(col("bytes_stored"))).head()
    }
    SparkEntry.release(spark)
    println(s"""{"stress":"gear_cdc_clamped_100k","chunks":${g100k.getLong(0)},"bytes":${g100k.getLong(1)},"stored":${g100k.getLong(2)}}""")
    val g1m = tm("gear_cdc_clamped_1m") {
      SparkEntry.queries("m53_gear_cdc_clamped")(spark, base1m)
        .agg(sum(col("n_chunks")), sum(col("bytes_total")),
          sum(col("bytes_stored"))).head()
    }
    SparkEntry.release(spark)
    require(g1m.getLong(2) < g1m.getLong(1),
      "1M-doc corpus with planted copies must realize dedup savings")
    println(s"""{"stress":"gear_cdc_clamped_1m","chunks":${g1m.getLong(0)},"bytes":${g1m.getLong(1)},"stored":${g1m.getLong(2)}}""")

    // ---- d65 slope (byte-level cross-doc substring dedup over the
    // clamped chunks): adds a countDistinct(doc_id) per chunk hash and
    // a chunk_md5 self-join on top of the m53 chunk table — still only
    // chunk_md5/source shuffles, so 10× data must stay ~linear. The
    // planted near-dup copies (id ≡ 1 mod 50, one token appended)
    // guarantee real cross-doc removable bytes at both scales.
    val s100k = tm("gear_substring_dedup_100k") {
      SparkEntry.queries("d65_gear_substring_dedup")(spark, base)
        .agg(sum(col("bytes_total")), sum(col("removable_bytes"))).head()
    }
    SparkEntry.release(spark)
    require(s100k.getLong(1) > 0,
      "planted near-dup copies must yield cross-doc removable bytes")
    println(s"""{"stress":"gear_substring_dedup_100k","bytes":${s100k.getLong(0)},"removable":${s100k.getLong(1)}}""")
    val s1m = tm("gear_substring_dedup_1m") {
      SparkEntry.queries("d65_gear_substring_dedup")(spark, base1m)
        .agg(sum(col("bytes_total")), sum(col("removable_bytes"))).head()
    }
    SparkEntry.release(spark)
    require(s1m.getLong(1) > 0,
      "1M-doc corpus must yield cross-doc removable bytes")
    println(s"""{"stress":"gear_substring_dedup_1m","bytes":${s1m.getLong(0)},"removable":${s1m.getLong(1)}}""")

    // ---- fuzzy-match family (q83 exact / q85 sorted-neighborhood):
    // planted-typo corpus — every p_partkey ≡ 1 (mod 20) carries a
    // 2-char substitution typo of key−1's name (same brand, same
    // length, edit distance 2). q83 is the blocked-quadratic recall
    // ORACLE (within-brand all-pairs; must find ALL planted pairs);
    // q85 is the linear production path whose recall against q83 is
    // the number this row exists to measure — near-identical names
    // share the sort prefix, so the w=20 neighborhood sees them unless
    // >20 same-prefix rows interpose (the method's honest miss mode).
    // Words are 6-hex-char md5 prefixes, so two UNRELATED names
    // differ in ~22 of 24 word characters and accidental dist≤5 pairs
    // are binomially impossible — the recall numerator is the plants.
    // (A first cut used "tok"+3-digit words: every vocab word sat
    // within edit distance 3 of every other, 85k accidental matches
    // swamped the 3k plants, and sorted-neighborhood recall honestly
    // read 0.35 — the corpus, not the operator.) The 4× corpus
    // re-times ONLY q85 —
    // its candidate volume is w·N by construction where q83's is
    // quadratic; the time pair is the measured slope (recorded, not
    // asserted — host-dependent), the recall gates are asserted.
    def partsCorpus(n: Long, dir: String): Unit = {
      spark.range(n).toDF("p_partkey")
        .withColumn("base_id",
          when(col("p_partkey") % 20 === 1, col("p_partkey") - 1)
            .otherwise(col("p_partkey")))
        .withColumn("p_name", concat_ws(" ",
          transform(sequence(lit(1), lit(4)),
            i => substring(md5(concat(col("base_id").cast("string"),
              lit("_"), i.cast("string"))), 1, 6))))
        .withColumn("p_name",
          when(col("p_partkey") =!= col("base_id"),
            overlay(col("p_name"), lit("qq"), lit(6), lit(2)))
            .otherwise(col("p_name")))
        .withColumn("p_brand",
          concat(lit("Brand#"), pmod(col("base_id"), lit(100))))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .repartition(32).write.mode("overwrite").parquet(s"$dir/part.parquet")
    }
    val fz60 = s"$base/fuzzy60k"
    val fz240 = s"$base/fuzzy240k"
    partsCorpus(60000, fz60)
    partsCorpus(240000, fz240)
    val exactDf = SparkEntry.queries("q83_fuzzy_match")(spark, fz60).persist()
    val exactPairs = tm("fuzzy_exact_60k")(exactDf.count())
    val exactPlanted = exactDf
      .filter(col("ib") === col("ia") + 1 && col("ia") % 20 === 0).count()
    require(exactPlanted == 3000,
      s"the exact baseline must find every planted typo pair: $exactPlanted/3000")
    val snDf = SparkEntry.queries("q85_fuzzy_neighborhood")(spark, fz60).persist()
    val snPairs = tm("fuzzy_neighborhood_60k")(snDf.count())
    val inter = exactDf.join(snDf, Seq("p_brand", "ia", "ib", "dist")).count()
    exactDf.unpersist(); snDf.unpersist()
    SparkEntry.release(spark)
    require(inter * 10 >= exactPairs * 9,
      s"sorted-neighborhood recall vs the exact baseline fell below 0.9: " +
        s"$inter/$exactPairs")
    println(s"""{"stress":"fuzzy_recall_60k","exact_pairs":$exactPairs,"sn_pairs":$snPairs,"intersection":$inter}""")
    val sn240 = SparkEntry.queries("q85_fuzzy_neighborhood")(spark, fz240)
      .persist()
    val snPairs240 = tm("fuzzy_neighborhood_240k")(sn240.count())
    val planted240 = sn240
      .filter(col("ib") === col("ia") + 1 && col("ia") % 20 === 0).count()
    sn240.unpersist()
    SparkEntry.release(spark)
    require(planted240 * 10 >= 12000L * 9,
      s"q85 planted recall at 4x data fell below 0.9: $planted240/12000")
    println(s"""{"stress":"fuzzy_neighborhood_240k_pairs","value":$snPairs240,"planted_found":$planted240}""")

    // ---- BPE training slope (t66's loop, operators.BpeTrainer): the
    // corpus collapses to the word-frequency table BEFORE the loop, so
    // 10× docs must cost roughly one bigger word-count shuffle — the
    // five vocabulary-sized supersteps are corpus-volume-independent
    // (measured 2.80 s → 2.95 s for 10× tokens). The merge tables are
    // PRINTED, not asserted equal: the synthetic vocab ('w0'…'w4999',
    // near-uniform) makes the top pairs ('w','<digit>') near-ties, so
    // their order legitimately reorders between corpora of different
    // hash mixes — each table is still deterministic for its corpus
    // (the t66 oracle gate pins that).
    def wordsOf(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(trim(col("text")), "[ \t\n\f\r]+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
    val bpe100k = tm("bpe_train_100k") {
      graft.operators.BpeTrainer.trainMerges(wordsOf(base), 5)
    }
    require(bpe100k.length == 5, s"expected 5 merges, got ${bpe100k.length}")
    val bpe1m = tm("bpe_train_1m") {
      graft.operators.BpeTrainer.trainMerges(wordsOf(base1m), 5)
    }
    require(bpe1m.length == 5, s"expected 5 merges, got ${bpe1m.length}")
    val m100k = bpe100k.map(r => r.getString(3)).mkString(",")
    val m1m = bpe1m.map(r => r.getString(3)).mkString(",")
    println(s"""{"stress":"bpe_train_merges","m100k":"$m100k","m1m":"$m1m","agree":${m100k == m1m}}""")

    // ---- d66 family: broadcast-bloom decontamination slope. The real
    // deployment shape: the benchmark is FIXED (a benchmark suite does
    // not grow with the corpus) while the corpus scales 10× — the
    // bitmap builds ONCE from ~38k benchmark grams and each corpus
    // gram costs one md5 + three getbits, map-side. Contamination is
    // PLANTED (corpus docs with id % 997 == 0 append the full text of
    // benchmark doc id % 500), so the exact flag set is known: the
    // bloom must recover ALL of it — zero false negatives, anti-join
    // require — and the printed doc-level FP rate is the m-sizing
    // evidence at these constants.
    // the REGISTRY's gram builder, not a local re-implementation
    // (ADVICE r17): the bit-for-bit bloom parity this section asserts
    // depends on stressing the exact tokenizer/gram pipeline d66 runs
    def bloomFiveGrams(df: DataFrame): DataFrame =
      graft.queries.DedupOps.fiveGrams(df)
    val benchB = spark.read.parquet(s"$base/documents.parquet")
      .filter(col("doc_id") < 500)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
      .persist()
    val benchGrams = bloomFiveGrams(
        benchB.select(col("bid").as("doc_id"), col("btext").as("text")))
      .select(col("g")).distinct().persist()
    val nBenchGrams = benchGrams.count()
    val bloomArr = tm("bloom_build_fixed_benchmark") {
      graft.queries.DedupOps.bloomBitmap(benchGrams, "g")
    }
    val benchHashes = benchGrams.select(xxhash64(col("g")).as("gh"))
      .persist()
    def contaminated(dir: String): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") >= 500)
        .join(broadcast(benchB), pmod(col("doc_id"), lit(500)) === col("bid"),
          "left")
        .withColumn("text",
          when(col("doc_id") % 997 === 0,
            concat(col("text"), lit(" "), col("btext")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text"))
    for ((dir, label, n) <- Seq((base, "100k", nDocs.toLong),
        (base1m, "1m", n1m.toLong))) {
      val grams = bloomFiveGrams(contaminated(dir))
      val bloomF = grams
        .withColumn("hit", graft.queries.DedupOps.bloomProbe(bloomArr)(col("g")))
        .filter(col("hit")).select(col("doc_id")).distinct().persist()
      val exactF = grams.select(col("doc_id"), xxhash64(col("g")).as("gh"))
        .join(broadcast(benchHashes), "gh")
        .select(col("doc_id")).distinct().persist()
      val bf = tm(s"bloom_decontam_$label")(bloomF.count())
      val ef = tm(s"exact_decontam_$label")(exactF.count())
      val missed = exactF.join(bloomF, Seq("doc_id"), "left_anti").count()
      require(missed == 0L,
        s"bloom produced $missed false negatives at $label — impossible " +
          "unless the probe and build hash differently")
      val plants = spark.range(500L, n).filter(col("id") % 997 === 0)
      val expectedPlants = plants.count()
      // >=, not ==: the synthetic generator gives no guarantee that an
      // UNplanted corpus doc never shares a natural 5-gram with a
      // benchmark doc — an incidental collision must degrade the report
      // (it shows in the ef count), not abort the whole bench run. What
      // IS a hard contract: every planted doc must be flagged.
      require(ef >= expectedPlants,
        s"exact arm found $ef contaminated docs at $label, planted $expectedPlants")
      val unflaggedPlants = plants.select(col("id").as("doc_id"))
        .join(exactF, Seq("doc_id"), "left_anti").count()
      require(unflaggedPlants == 0L,
        s"$unflaggedPlants planted docs escaped the exact arm at $label")
      val fpRate = (bf - ef).toDouble / (n - 500 - ef)
      println(f"""{"stress":"bloom_decontam_${label}_flags","bench_grams":$nBenchGrams,"bloom":$bf,"exact":$ef,"fp_doc_rate":$fpRate%.4f}""")
      bloomF.unpersist(); exactF.unpersist()
    }
    benchB.unpersist(); benchGrams.unpersist(); benchHashes.unpersist()

    // ---- s71 family: graph-ANN SEARCH-path slope. The registry's s71
    // composes the s47 graph BUILD (cell-bounded pairwise — its cost
    // story lives with s47); what must scale on the search side is the
    // walk itself: per hop, O(queries × beam × degree) frontier rows
    // against an edge table PRE-PARTITIONED by source node (the
    // deployment posture — every hop's join reuses that exchange
    // instead of re-shuffling the corpus-sized edge list). Synthetic
    // navigable graph: n nodes with deterministic 8-dim vectors, 3
    // hash-derived out-edges each, 1000 queries — the registry's own
    // GraphWalk.beamWalk at s71's defaults (beam 4, 2 hops, one lazy
    // plan). 10× nodes must not cost ~10× search time.
    graft.functions.VectorFunctions.register(spark)
    val sim = graft.queries.SimilarityOps
    def graphSearch(n: Long, label: String): Unit = {
      val nodes = spark.range(n).toDF("nid")
        .withColumn("nemb", transform(sequence(lit(1), lit(8)),
          i => pmod(xxhash64(col("nid") * 31 + i), lit(1000)) / 500.0 - 1.0))
        .repartition(32, col("nid")).persist()
      val edges = spark.range(n).toDF("src")
        .withColumn("dst", explode(array((1 to 3).map(k =>
          pmod(xxhash64(col("src") * 7 + lit(k)), lit(n))): _*)))
        .filter(col("dst") =!= col("src"))
        .repartition(32, col("src")).persist()
      nodes.count(); edges.count() // materialize OUTSIDE the timed walk
      val q = nodes.filter(col("nid") < 1000)
        .select(col("nid").as("qid"), col("nemb").as("qemb")).persist()
      q.count()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid").asc)
      val seeds = q.select(col("qid"))
        .join(edges, col("qid") === col("src"))
        .select(col("qid"), col("dst").as("nid"))
      val top5 = tm(s"graph_ann_search_$label") {
        graft.operators.GraphWalk.beamWalk(q, nodes, edges, seeds,
            sim.graphAnnDefaultHops, sim.graphAnnDefaultBeam,
            excludeQ = true, checkpointEvery = 0)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5).count()
      }
      require(top5 == 5000L,
        s"expected 1000 queries × top-5, got $top5 at $label")
      nodes.unpersist(); edges.unpersist(); q.unpersist()
    }
    graphSearch(100000L, "100k")
    graphSearch(1000000L, "1m")

    // ---- s72: kNN-graph BUILD slope — the round-18 replacement for
    // s47's cell-mate join as the construction path. Two builds:
    //  - NN-descent: the registry's own SimilarityOps.nndescentGraph
    //    (hash-mix init, K=10, 6 fused neighbor-of-neighbor supersteps,
    //    native TopKPerKey), whose scored pairs grow ∝ n·K² per round.
    //    Timed at 10k vs 100k nodes.
    //  - s47-shape cell build (FIXED 16 cells, all cell-mate pairs
    //    scored): pairs = Σ cell² ≈ n²/16, so ~10× pairs from only
    //    3.16× nodes. Timed and pair-counted at 10k vs 31.6k nodes.
    // A 200-query sampled recall@3 floor keeps the NN-descent build
    // honest (speed from skipping work would show here).
    // `spark.range`'s (id >= 0, id < n) constraints survive a
    // localCheckpoint (LogicalRDD keeps originalConstraints with the
    // PRE-checkpoint attribute ids), and InferFiltersFromConstraints
    // then dies with "key not found: src#..." when the checkpointed
    // generation self-unions in the next superstep — reproduced
    // minimally, range-sourced only (the registry's parquet-sourced
    // s72 never trips it: scans carry no such constraints). Constraint
    // propagation infers nothing load-bearing for this dataflow, so
    // switch it off for the build section and restore after.
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpPrev = spark.conf.get(cpKey)
    spark.conf.set(cpKey, "false")
    // restore in a finally (ADVICE r18): a require failure inside the
    // s72/s74 recall gates below must not leave constraint propagation
    // disabled for whatever runs next in this JVM
    try {
    def hashNodes(n: Long): DataFrame =
      spark.range(n).toDF("nid")
        .withColumn("nemb", transform(sequence(lit(1), lit(8)),
          i => pmod(xxhash64(col("nid") * 31 + i), lit(1000)) / 500.0 - 1.0))
        .repartition(32, col("nid")).persist()
    val cosF2 = graft.functions.VectorFunctions.cosineSim _
    def sampledRecall(nodes: DataFrame, graph: DataFrame): Double = {
      val sample = nodes.filter(col("nid") < 200)
        .select(col("nid").as("qid"), col("nemb").as("qemb")).persist()
      sample.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid").asc)
      val exact = nodes.join(broadcast(sample), col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          round(cosF2(col("qemb"), col("nemb")), 6).as("cosine"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("nid"))
      val hits = exact.join(
        graph.filter(col("rnk") <= 3)
          .select(col("src").as("qid"), col("dst").as("nid")),
        Seq("qid", "nid"), "left_semi").count()
      sample.unpersist()
      hits / 600.0
    }
    def nndescentBuild(n: Long, label: String): Unit = {
      val nodes = hashNodes(n)
      nodes.count() // materialize OUTSIDE the timed build
      val vecs = nodes.select(col("nid").as("vec_id"), col("nemb").as("emb"))
      val g = tm(s"nndescent_build_$label")(sim.nndescentGraph(vecs))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst").asc)
      val graph = g.withColumn("rnk", row_number().over(w)).persist()
      val edges = graph.count()
      val recall = sampledRecall(nodes, graph)
      println(f"""{"stress":"nndescent_build_${label}_shape","edges":$edges,"sampled_recall_at_3":$recall%.4f}""")
      // hash-random 8-dim vectors have real NN structure (measured
      // 0.95+ at both scales); a build that got fast by skipping
      // supersteps or candidates would crater this
      require(recall >= 0.7,
        s"nndescent sampled recall@3 $recall < 0.7 at $label")
      graph.unpersist(); nodes.unpersist()
      // drops the graph's checkpoint, which the build hands back
      SparkEntry.release(spark)
    }
    def cellBuild(n: Long, label: String): Unit = {
      val nodes = hashNodes(n)
      nodes.count()
      // balanced hash cells stand in for s47's cosine assignment — the
      // cost driver is Σ cell², not how vectors land in cells
      val cells = nodes.withColumn("cid", pmod(xxhash64(col("nid")), lit(16)))
        .persist()
      val pairCount = cells.groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1))).head().getLong(0)
      val built = tm(s"cellbuild_$label") {
        val scored = cells.select(col("nid").as("src"), col("nemb").as("semb"),
            col("cid"))
          .join(cells.select(col("nid").as("dst"), col("nemb").as("demb"),
            col("cid").as("cid2")),
            col("cid") === col("cid2") && col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            round(cosF2(col("semb"), col("demb")), 6).as("cosine"))
        graft.operators.TopKPerKeyApi.topKPerKey(scored,
          Seq("src"), Seq(("cosine", false), ("dst", true)), 3).count()
      }
      println(s"""{"stress":"cellbuild_${label}_pairs","cell_pairs":$pairCount,"topk_rows":$built}""")
      cells.unpersist(); nodes.unpersist()
    }
    nndescentBuild(10000L, "10k")
    nndescentBuild(100000L, "100k")
    cellBuild(10000L, "10k")
    cellBuild(31623L, "31k")

    // ---- s74: the entry-tier walk on NAVIGABLE vectors. The registry
    // corpus is uniform-random, where greedy graph navigation provably
    // degrades (s74's spec floor there is 0.35, measured 0.4–0.47);
    // this row runs the registry's own code on structured 8-dim
    // vectors — nndescentGraph on both layers (layer 1 from
    // SimilarityOps.entryLayer) and GraphWalk.entrySearch with s74's
    // constants — and require-gates the recall ≥ 0.7, pinning that the
    // low corpus number is the data's pathology, not the machinery's.
    {
      val n = 10000L
      val nodes = hashNodes(n)
      nodes.count()
      val vecs0 = nodes.select(col("nid").as("vec_id"), col("nemb").as("emb"))
      val vecs1 = sim.entryLayer(vecs0)
      val g0 = tm("hnsw_entry_build")(sim.nndescentGraph(vecs0))
      val g1 = sim.nndescentGraph(vecs1)
      val q = nodes.filter(col("nid") < 10)
        .select(col("nid").as("qid"), col("nemb").as("qemb")).persist()
      q.count()
      val nodes0 = nodes.select(col("nid"), col("nemb"))
      val nodes1 = vecs1.select(col("vec_id").as("nid"),
        col("emb").as("nemb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid").asc)
      val visited = tm("hnsw_entry_search")(graft.operators.GraphWalk
        .entrySearch(q, nodes0, g0, nodes1, g1, sim.hnswStride,
          sim.graphAnnDefaultBeam, sim.graphAnnDefaultHops,
          sim.hnswDescentHops))
      val top3 = visited.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("nid")).persist()
      val exact3 = nodes0.join(broadcast(q), col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          round(cosF2(col("qemb"), col("nemb")), 6).as("cosine"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("nid"))
      val hits = exact3.join(top3, Seq("qid", "nid"), "left_semi").count()
      val recall = hits / 30.0
      println(f"""{"stress":"hnsw_entry_recall","recall_at_3":$recall%.4f}""")
      require(recall >= 0.7,
        s"entry-tier recall $recall < 0.7 on navigable vectors — the " +
          "machinery, not the data, is broken")
      top3.unpersist(); q.unpersist(); nodes.unpersist()
      SparkEntry.release(spark)
    }
    } finally spark.conf.set(cpKey, cpPrev)

    spark.stop()
  }
}
