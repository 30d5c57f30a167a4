package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** Cross-checks between the exact and approximate dedup/similarity
  * operators — the approximate paths are rows-only for the driver's
  * oracle, so their quality contract lives here. */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  private def pairSet(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf0001)
      .select(col("ia"), col("ib")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exactJaccard = pairSet("d28_neardup_jaccard")
  lazy val minhash = pairSet("d30_minhash_lsh")
  lazy val exactCosine = pairSet("s34_embedding_neardup")
  lazy val lshCosine = pairSet("s35_ann_lsh")

  test("s34 scale fence refuses inputs above spark.graft.exact.maxRows") {
    spark.conf.set("spark.graft.exact.maxRows", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("s34_embedding_neardup")(spark, sf0001)
      }
      assert(e.getMessage.contains("exactness baseline"))
    } finally spark.conf.unset("spark.graft.exact.maxRows")
  }

  test("q83 scale fence refuses inputs above spark.graft.exact.maxRows") {
    spark.conf.set("spark.graft.exact.maxRows", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q83_fuzzy_match")(spark, sf0001)
      }
      assert(e.getMessage.contains("exactness baseline"))
    } finally spark.conf.unset("spark.graft.exact.maxRows")
  }

  test("exact near-dup pairs exist in the corpus and are ordered ia<ib") {
    assert(exactJaccard.nonEmpty, "corpus should contain planted near-dups")
    assert(exactJaccard.forall { case (a, b) => a < b })
  }

  test("MinHash-LSH recall vs exact Jaccard >= 0.8") {
    val recall = (exactJaccard & minhash).size.toDouble / exactJaccard.size
    assert(recall >= 0.8, s"minhash recall $recall")
  }

  test("stop-shingle capped near-dup (d33) equals exact d28 on a clean corpus") {
    // no shingle in the test corpus is ubiquitous, so capping candidate
    // generation must lose nothing — the capped variant is exact here
    assert(pairSet("d33_neardup_capped") === exactJaccard)
  }

  test("simhash Hamming search (d32) recovers most exact-Jaccard near-dups") {
    val d32 = pairSet("d32_simhash_hamming")
    val recall = (exactJaccard & d32).size.toDouble / exactJaccard.size
    assert(recall >= 0.7, s"d32 recall vs exact jaccard was $recall")
    assert(d32.forall { case (a, b) => a < b })
  }

  test("sign-LSH cosine pairs are a subset of brute force (precision 1.0)") {
    assert(lshCosine.subsetOf(exactCosine))
  }

  test("sign-LSH cosine recall >= 0.4 (6 tables x 4 planes, near-orthogonal corpus)") {
    val recall = (exactCosine & lshCosine).size.toDouble / exactCosine.size
    assert(recall >= 0.4, s"sign-LSH recall $recall")
  }

  test("simhash: near-dup docs collide on more bits than the corpus baseline") {
    val sig = SparkEntry.queries("d29_simhash")(spark, sf0001)
      .select(col("doc_id"), col("simhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearDupHam = exactJaccard.toSeq.map { case (a, b) => hamming(sig(a), sig(b)) }
    val rnd = new scala.util.Random(7)
    val ids = sig.keys.toArray
    val randomHam = Seq.fill(200) {
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      hamming(sig(a), sig(b))
    }
    val nearAvg = nearDupHam.sum.toDouble / nearDupHam.size
    val randAvg = randomHam.sum.toDouble / randomHam.size
    assert(nearAvg < randAvg / 2,
      s"near-dup avg hamming $nearAvg should be far below random avg $randAvg")
  }

  test("connected components: chains merge, islands stay separate") {
    import spark.implicits._
    // chain 1-2-3-4, island 10-11, chain via shared node 20-21, 21-22
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("ia", "ib")
    val cc = graft.operators.DedupClustering.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
  }

  test("star connected components match label propagation on real near-dup edges") {
    import org.apache.spark.sql.functions.col
    val edges = SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001)
      .select(col("ia"), col("ib"))
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = asMap(graft.operators.DedupClustering.connectedComponents(edges))
    val star = asMap(graft.operators.DedupClustering.connectedComponentsStar(edges))
    assert(star.nonEmpty && star === prop)
  }

  test("star connected components converge on a 200-node chain (diameter >> rounds)") {
    import spark.implicits._
    // a transitive chain: label propagation needs ~200 supersteps; the
    // star rounds collapse it logarithmically
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("ia", "ib")
    val out = graft.operators.DedupClustering.connectedComponentsStar(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length === 201)
    assert(out.forall(_._2 == 0L), "every chain node must label to the minimum")
  }

  private def persistentRdds = spark.sparkContext.getPersistentRDDs.keySet

  test("connected components refuse to return unconverged labels and leak nothing when they throw") {
    import spark.implicits._
    // diameter 29: label propagation needs 29 supersteps after the init,
    // the default maxIter allows 10; two star rounds cannot contract it
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("ia", "ib")
    val before = persistentRdds
    val prop = intercept[IllegalStateException] {
      graft.operators.DedupClustering.connectedComponents(chain)
    }
    assert(prop.getMessage.contains("10 supersteps"), prop.getMessage)
    assert(persistentRdds === before, "a failed propagation call leaked")
    val star = intercept[IllegalStateException] {
      graft.operators.DedupClustering.connectedComponentsStar(chain, maxIter = 2)
    }
    assert(star.getMessage.contains("2 rounds"), star.getMessage)
    assert(persistentRdds === before, "a failed star call leaked")
    // the same chain converges once maxIter covers its diameter
    val ok = graft.operators.DedupClustering
      .connectedComponents(chain, maxIter = 29).collect()
    assert(ok.length === 30 && ok.forall(_.getLong(1) == 0L))
  }

  test("connected components of an empty edge list are empty, and one edge is one cluster") {
    import spark.implicits._
    val local = Seq.empty[(Long, Long)].toDF("ia", "ib")
    // empty only at run time: the static optimizer cannot prune it
    val runtime = spark.range(50).select(col("id").as("ia"), (col("id") + 1).as("ib"))
      .filter(col("ia") * col("ia") < 0L)
    val single = Seq((7L, 5L)).toDF("ia", "ib")
    for (cc <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        graft.operators.DedupClustering.connectedComponents(_),
        graft.operators.DedupClustering.connectedComponentsStar(_))) {
      assert(cc(local).collect().isEmpty)
      assert(cc(runtime).collect().isEmpty)
      assert(cc(single).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(5L -> 5L, 7L -> 5L))
    }
  }

  test("connected components leave the session serializable for a later MLlib model") {
    // an MLlib model's training summary captures the session, so its
    // transform closure ships the session: the convergence signal must
    // not leave a non-serializable member (an observation manager) on it
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("ia", "ib")
    graft.operators.DedupClustering.connectedComponents(edges).collect()
    graft.operators.DedupClustering.connectedComponentsStar(edges).collect()
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
      .writeObject(spark)
  }

  test("construction jobs of the iterative operators over built tiers: d31 runs 6, the init and one observed superstep") {
    // Each row runs warm: a first call builds the tiers it serves from,
    // and a release drops what that call left, so neither is counted.
    // d31's 6: the cached edge list; the init's shuffle and checkpoint;
    // the superstep's label broadcast, shuffle and checkpoint, which
    // also carries the convergence signal (sf0.001 pairs converge
    // there). s72 always rebuilds its graph, so its row counts the
    // whole NN-descent build; s74 serves both graph layers. s74's
    // count moves with the timing of adaptive execution's stage jobs
    // (77–81 seen), so its row is a range, far under the 220 that two
    // per-call persists of its inputs cost.
    val expected = Seq("d31_dedup_clusters" -> (6 to 6),
      "d34_dedup_clusters_star" -> (28 to 28), "d37_pagerank" -> (51 to 51),
      "s72_nndescent_knn_graph" -> (59 to 59),
      "s74_hnsw_entry_search" -> (60 to 90))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    val counted = expected.map { case (name, _) =>
      SparkEntry.queries(name)(spark, sf0001).collect()
      SparkEntry.release(spark)
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      jobs = 0
      spark.sparkContext.addSparkListener(listener)
      try {
        SparkEntry.queries(name)(spark, sf0001)
        org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      SparkEntry.release(spark)
      name -> jobs
    }
    val off = counted.filterNot { case (name, n) =>
      expected.toMap.apply(name).contains(n) }
    assert(off.isEmpty, s"construction jobs per query: $counted")
  }

  test("dedup clusters cover every doc that appears in a near-dup pair") {
    val nodes = exactJaccard.flatMap { case (a, b) => Seq(a, b) }
    val clustered = SparkEntry.queries("d31_dedup_clusters")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nodes.forall(clustered.contains))
    // every cluster id is the min doc_id of its members
    clustered.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
    }
  }

  test("d46 containment: pairs are canonical, bounded, and include the full-overlap near-dups") {
    val rows = SparkEntry.queries("d46_containment")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty, "corpus has planted near-dups; containment must fire")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be canonical ia<ib")
      val c = r.getDouble(3)
      assert(c >= 0.9 && c <= 1.0, s"containment $c out of bounds")
    }
    SparkEntry.release(spark)
  }

  test("degree-ordered triangles (d45) emit exactly the id-ordered set (d40)") {
    def triSet(name: String) = SparkEntry.queries(name)(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val id = triSet("d40_triangles")
    val deg = triSet("d45_triangles_ordered")
    assert(id == deg, s"variants disagree: ${id.size} vs ${deg.size}")
    SparkEntry.release(spark)
  }

  test("Triangles.degreeOrdered matches idOrdered on a planted hub graph") {
    // a mid-range hub (id 20) touches every other vertex — under id
    // order it is the middle of in×out ≈ 20·20 two-paths, under degree
    // order it contributes none — plus a triangle strip among the
    // spokes; the assertion is output EQUALITY on this adversarial
    // shape (the fan-out magnitude itself is StressBench's metric)
    import spark.implicits._
    val hub = (0 to 40).filter(_ != 20)
      .map(v => (math.min(v, 20).toLong, math.max(v, 20).toLong))
    val strip = (1 to 38).map(v => (v.toLong, v + 1L)) ++
      (1 to 37).map(v => (v.toLong, v + 2L))
    val edges = (hub ++ strip).distinct.toDF("ia", "ib")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = canon(graft.operators.Triangles.idOrdered(edges))
    val b = canon(graft.operators.Triangles.degreeOrdered(edges))
    assert(a == b, s"hub graph disagreement: ${a.size} vs ${b.size}")
    assert(a.nonEmpty, "planted strip must contain triangles")
  }

  test("d50: cluster-keyed split has structurally zero leakage and covers every doc") {
    import spark.implicits._
    // every near-dup cluster's members land in ONE split (the property
    // d49 shows doc-keyed splitting violates)
    val spread = SparkEntry.queries("d41_canonical_docs")(spark, sf0001)
      .withColumn("split",
        conv(substring(md5($"cluster_rep".cast("string")), 1, 6), 16, 10)
          .cast("long") % 100 < 80)
      .groupBy($"cluster_rep")
      .agg(countDistinct($"split").as("nsplits"))
      .filter($"nsplits" > 1).count()
    assert(spread == 0, s"$spread clusters span a split boundary")
    // and d49 proves the doc-keyed rule DOES leak on this corpus — the
    // audit/fix pair is non-vacuous
    assert(SparkEntry.queries("d49_split_leakage")(spark, sf0001).count() > 0,
      "no doc-keyed leakage found — d49/d50 would be untestable")
    val d50 = SparkEntry.queries("d50_cluster_split")(spark, sf0001)
      .agg(sum($"n_docs")).as[Long].head()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(d50 == docs, "cluster split must cover every document exactly once")
    SparkEntry.release(spark)
  }

  test("exact dedup partitions the corpus: group sizes sum to doc count") {
    val d = SparkEntry.queries("d27_dedup_exact")(spark, sf0001)
    val total = d.agg(sum(col("n_copies"))).head().getLong(0)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(total === docs)
  }

  test("PPM decode: real binary image parsing with exact channel means") {
    import spark.implicits._
    def ppm(w: Int, h: Int, rgb: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = rgb(x, y, 0)
        val o = (y * w + x) * 3
        px(o) = r.toByte; px(o + 1) = g.toByte; px(o + 2) = b.toByte
      }
      header ++ px
    }
    val solidRed = ppm(4, 4, (_, _, _) => (255, 0, 0))
    // left half black, right half white
    val split = ppm(8, 2, (x, _, _) => if (x < 4) (0, 0, 0) else (255, 255, 255))
    val out = MultimodalOps.decodePpm(
        Seq((1L, solidRed), (2L, split)).toDS())
      .collect().map(r => r.img_id -> r).toMap
    assert(out(1L).width === 4 && out(1L).height === 4)
    assert(out(1L).meanR === 255.0 && out(1L).meanG === 0.0)
    assert(out(1L).features(0) === 1.0f) // top-left block red channel
    assert(out(2L).meanR === 127.5)      // half black half white
    assert(out(2L).features(0) === 0.0f) // left blocks black
    assert(out(2L).features(3) === 1.0f) // right blocks white
  }

  test("PPM resize: nearest-neighbor downsample produces exact expected pixels") {
    import spark.implicits._
    // 4×2 image: top row R G B W, bottom row K K K K
    val px = Array[Int](
      255,0,0,  0,255,0,  0,0,255,  255,255,255,
      0,0,0,    0,0,0,    0,0,0,    0,0,0).map(_.toByte)
    val img = ("P6\n4 2\n255\n".getBytes("US-ASCII") ++ px)
    val resized = MultimodalOps.resizePpm(Seq((1L, img)).toDS(), 2, 1)
      .collect().head._2
    // nearest-neighbor to 2×1 samples source pixels (0,0) and (2,0): R, B
    val expected = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Int](255,0,0, 0,0,255).map(_.toByte)
    assert(resized.sameElements(expected))
    // the resized payload is itself a decodable P6 image
    val dec = MultimodalOps.decodePpm(Seq((1L, resized)).toDS()).collect().head
    assert(dec.width === 2 && dec.height === 1)
    assert(dec.meanR === 127.5 && dec.meanG === 0.0 && dec.meanB === 127.5)
  }

  test("frame sampling keeps every 4th frame and fingerprints match direct slices") {
    import spark.implicits._
    val out = SparkEntry.queries("m33_frame_sample")(spark, sf0001)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) % 4 == 0), "only stride-aligned frames")
    // cross-check one document against a driver-side slice
    val doc = graft.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") === 0L).select(col("text")).head().getString(0)
    val got = rows.filter(_.getLong(0) == 0L).map(r => r.getLong(1) -> r.getString(2)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((fidx, hash) <- got) {
      val slice = doc.substring(fidx.toInt * 32, fidx.toInt * 32 + 32)
      val exp = md.digest(slice.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(hash === exp, s"frame $fidx digest mismatch")
    }
    val nf = doc.length / 32
    assert(got.size === (nf + 3) / 4, "one sampled frame per stride window")
  }

  test("mapPartitions batch decode: typed rows, byte counts match, deterministic") {
    val decoded = MultimodalOps.decodeBatches(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(decoded.count() === docs.count())
    val joined = decoded.toDF().join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")))
    assert(joined.count() === 0, "utf-8 payload bytes must equal text length (ascii corpus)")
    val a = decoded.collect().map(r => (r.doc_id, r.checksum)).sortBy(_._1)
    val b = MultimodalOps.decodeBatches(spark, sf0001)
      .collect().map(r => (r.doc_id, r.checksum)).sortBy(_._1)
    assert(a.sameElements(b))
    assert(decoded.head().features.length === MultimodalOps.featureDim)
  }

  test("multimodal stub features: dim=8, values in [0,1), deterministic") {
    val f = SparkEntry.queries("m32_payload_features")(spark, sf0001)
    assert(f.agg(countDistinct(col("dim"))).head().getLong(0) === 8L)
    val mm = f.agg(min(col("value")), max(col("value"))).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) < 1.0)
    val a = f.collect().map(_.toString).sorted
    val b = SparkEntry.queries("m32_payload_features")(spark, sf0001)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("dedup is idempotent: the kept corpus contains no >=0.8 near-dup pair") {
    // transitively-closed clusters keep exactly one member each, so a
    // second dedup pass over the survivors must find NOTHING — if two
    // survivors were near-dups they would have shared a cluster. Run
    // d28 over the kept corpus, planted as a corpus dir of its own.
    def rows(q: String, d: String): Seq[String] =
      SparkEntry.queries(q)(spark, d).collect().map(_.toString).sorted.toSeq
    val d28 = rows("d28_neardup_jaccard", sf0001)
    val d31 = rows("d31_dedup_clusters", sf0001)
    val kept = SparkEntry.queries("d41_canonical_docs")(spark, sf0001)
      .filter(col("keep")).select(col("doc_id"))
    val survivors = graft.Tables.t(spark, sf0001, "documents")
      .join(kept, "doc_id")
    assert(survivors.count() <
      graft.Tables.t(spark, sf0001, "documents").count(),
      "the first pass must actually drop something")
    val planted = withCorpus("documents" -> survivors) { dir =>
      val second = SparkEntry.queries("d28_neardup_jaccard")(spark, dir)
      assert(second.count() === 0L, "second dedup pass must be empty")
      BuiltIndexMemo.pinned(spark).values.toSet
    }
    // the planted pass's tiers are keyed by its own dir: the real
    // corpus serves and rebuilds the same rows, and none of them pins
    // a block built from the planted corpus
    assert(planted.nonEmpty)
    assert(rows("d31_dedup_clusters", sf0001) == d31)
    assert(rows("d28_neardup_jaccard", sf0001) == d28)
    assert((BuiltIndexMemo.pinned(spark).values.toSet & planted).isEmpty)
    SparkEntry.release(spark)
  }

  test("d65 gear substring dedup: same chunk table as m53, removable is the cross-doc-only subset") {
    // Both operators chunk identically (gear_chunks_clamped 16/4096),
    // so per source the chunk counts and byte totals must agree, and
    // d65's removable bytes (cross-doc repeats only) can never exceed
    // m53's dedup-hit bytes (ALL repeats, within-doc included).
    val d65 = SparkEntry.queries("d65_gear_substring_dedup")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    val m53 = SparkEntry.queries("m53_gear_cdc_clamped")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(d65.keySet === m53.keySet)
    for ((src, (nc, bt, removable)) <- d65) {
      val (nc53, bt53, stored) = m53(src)
      assert(nc === nc53 && bt === bt53, s"source $src chunk tables differ")
      assert(removable <= bt - stored,
        s"source $src: cross-doc removable $removable exceeds total " +
          s"dedup-hit bytes ${bt - stored}")
    }
    SparkEntry.release(spark)
  }

  test("d65 cross-doc-only rule: a cloned doc is removable, a within-doc repeat is not") {
    import spark.implicits._
    val rng = new scala.util.Random(59)
    val body = (0 until 400).map(_ => s"v${rng.nextInt(5000)}").mkString(" ")
    val block = (0 until 300).map(_ => s"r${rng.nextInt(5000)}").mkString(" ")
    val rows = Seq(
      (10L, body, "en", "srcA"),                      // canonical
      (20L, body, "en", "srcB"),                      // exact clone of A
      (30L, block + " " + block, "en", "srcC"))       // internal repeat only
    val docs = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val (d65, m53) = withCorpus("documents" -> docs) { dir =>
      val a = SparkEntry.queries("d65_gear_substring_dedup")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(4)))).toMap       // (bytes_total, removable)
      val b = SparkEntry.queries("m53_gear_cdc_clamped")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(4)))).toMap       // (bytes_total, stored)
      (a, b)
    }
    // the clone: every chunk is cross-doc → all of srcB is removable
    assert(d65("srcB")._2 === d65("srcB")._1,
      s"clone must be fully removable: ${d65("srcB")}")
    // the canonical keeps everything
    assert(d65("srcA")._2 === 0L)
    // the within-doc repeat: m53's store dedups it (re-anchoring makes
    // the second copy's chunks collide), but d65 must NOT remove it —
    // cross-document only, exactly d64's rule
    assert(m53("srcC")._2 < m53("srcC")._1,
      s"fixture failed: internal repeat produced no duplicate chunks ${m53("srcC")}")
    assert(d65("srcC")._2 === 0L,
      s"within-doc-only repeats must not be removable: ${d65("srcC")}")
    SparkEntry.release(spark)
  }

  test("d61 is lazy: build + planning run zero jobs; the first action runs the sweep exactly once") {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = SparkEntry.queries("d61_shingle_size_sweep")(spark, sf0001)
      // force analysis AND physical planning — still no jobs allowed
      assert(df.schema.fieldNames.head == "shingle_n")
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("DeferredRows"),
        s"d61 must plan through the deferred leaf:\n$planStr")
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      assert(jobs == 0, s"plan-only phase ran $jobs jobs")
      // first action fires the sweep (3 concurrent arms) and memoizes:
      // a second action on the SAME DataFrame adds only its own
      // collect job, not another sweep (sweep ≈ dozens of jobs)
      val rows = df.collect()
      assert(rows.length == 3)
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      val afterFirst = jobs
      assert(afterFirst > 0, "the action must actually run the sweep")
      assert(df.collect().length == 3)
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      assert(jobs - afterFirst <= 2,
        s"memoized thunk must not re-run the sweep: ${jobs - afterFirst} new jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    SparkEntry.release(spark)
  }

  test("d56 calibration: covers exactly the d28 pairs and the 24-hash estimator tracks exact Jaccard") {
    val cal = SparkEntry.queries("d56_minhash_calibration")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val pairs = SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cal.map(c => (c._1, c._2)).toSet === pairs,
      "calibration rows must be exactly the confirmed pair set")
    cal.foreach { case (ia, ib, jac, agree, est, err) =>
      assert(agree >= 0L && agree <= 24L)
      assert(est === agree.toDouble / 24.0)
      assert(math.abs(err - math.abs(est - jac)) < 1e-12)
    }
    // estimator quality: at J >= 0.8 with 24 hashes sigma ~ 0.08; the
    // mean error across confirmed pairs must sit well inside 3 sigma
    val meanErr = cal.map(_._6).sum / cal.length
    assert(meanErr < 0.25, s"mean |est - exact| = $meanErr: miscalibrated")
    SparkEntry.release(spark)
  }

  test("d66 bloom decontamination: no false negatives, exact arm agrees with d38, accounting reconciles") {
    val rows = SparkEntry.queries("d66_bloom_decontam")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    var exactTotal = 0L
    rows.foreach { r =>
      def l(c: String): Long = r.getLong(r.fieldIndex(c))
      // a bloom filter can only ADD flags: every exact-contaminated doc
      // bloom-flags (its hit gram's three bits are set by construction)
      assert(l("n_flagged_bloom") >= l("n_flagged_exact"),
        s"bloom missed a truly contaminated doc in ${r.getString(0)}")
      assert(l("n_gram_bloom_hits") >= l("n_gram_exact_hits"),
        s"bloom missed an exact-hit gram in ${r.getString(0)}")
      assert(l("n_false_pos") == l("n_flagged_bloom") - l("n_flagged_exact"))
      assert(l("n_flagged_bloom") <= l("n_docs"))
      exactTotal += l("n_flagged_exact")
    }
    // the exact arm IS d38's operator: its doc flags must total d38's
    // contaminated-doc list exactly (one row per hit doc there)
    val d38docs = SparkEntry.queries("d38_decontamination")(spark, sf0001).count()
    assert(exactTotal == d38docs,
      s"exact arm found $exactTotal flagged docs, d38 found $d38docs")
    // the corpus has planted contamination — the gate must fire
    assert(exactTotal > 0, "fixture corpus must contain contaminated docs")
    SparkEntry.release(spark)
  }

  test("d67 bloom sizing sweep: FP falls monotonically with m, no arm misses a contaminated doc, production arm == d66") {
    val rows = SparkEntry.queries("d67_bloom_sizing_sweep")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L << 18, 1L << 21, 1L << 24))
    // ground truth is arm-independent; every arm ⊇ exact (no false
    // negatives at ANY m); FP cannot rise as the bitmap grows
    assert(rows.map(_._5).distinct.length == 1, "exact flags must not vary by arm")
    rows.foreach { case (m, _, nDocs, fb, fe, fp, _) =>
      assert(fb >= fe, s"arm m=$m lost a contaminated doc")
      assert(fp == fb - fe)
      assert(fb <= nDocs)
    }
    assert(rows.map(_._4).sliding(2).forall(p => p.head >= p.last),
      s"bloom flags must fall (or hold) as m grows: ${rows.map(_._4).toSeq}")
    // the m = 2^21 arm IS d66's production bloom: totals must agree
    val d66 = SparkEntry.queries("d66_bloom_decontam")(spark, sf0001)
      .collect()
    val d66Bloom = d66.map(r => r.getLong(r.fieldIndex("n_flagged_bloom"))).sum
    val d66Docs = d66.map(r => r.getLong(r.fieldIndex("n_docs"))).sum
    val prod = rows.find(_._1 == (1L << 21)).get
    assert(prod._4 == d66Bloom,
      s"sweep's production arm ${prod._4} != d66 total $d66Bloom")
    assert(prod._3 == d66Docs)
    SparkEntry.release(spark)
  }

  test("bloomBitmapsM: the one-collect multi-arm build is bit-identical to each arm's own bloomBitmapM") {
    // the r18 ADVICE fix collapsed d67's three bitmap-build jobs into
    // one collect of the raw 2^24 slices masked down per arm; this pin
    // is the drift guard — if either path's arithmetic moves, the
    // sweep's oracles move with it
    val bench = DedupOps.benchmarkGrams(spark, sf0001)
    val arms = Seq(1 << 12, 1 << 18, 1 << 21, 1 << 24)
    val multi = DedupOps.bloomBitmapsM(arms, bench, "g")
    for (m <- arms) {
      val single = DedupOps.bloomBitmapM(m, bench, "g")
      assert(java.util.Arrays.equals(multi(m), single),
        s"derived bitmap differs from direct build at m=$m")
    }
    SparkEntry.release(spark)
  }
}
