package graft.queries

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.VectorFunctions

/** Similarity search over `embeddings.embedding` (array<float>[64]):
  * brute-force cosine top-k (the exactness baseline), thresholded
  * near-dup pairs, sign-LSH bucketed ANN (the scale path), and
  * per-label centroids.
  *
  * Scale design (100 TB posture):
  *  - the float→double widening + cosine run inside whole-stage codegen
  *    via the custom [[graft.functions.CosineSimilarity]] expression;
  *  - s33 broadcasts the (small) query set against the full corpus —
  *    a map-only pass, no shuffle, then a per-query top-k window;
  *  - s34 brute force is quadratic and exists as the correctness oracle;
  *    s35 is the same query routed through 16-bit sign-LSH buckets: the
  *    self-join key becomes the bucket id, so the shuffle partitions by
  *    bucket and never materializes the cross product — this is the
  *    variant that survives 1000× data;
  *  - hyperplanes are generated from a fixed seed on the driver and
  *    enter the plan as literals (no nondeterminism, no side files).
  */
object SimilarityOps {

  /** embeddings lands in one small parquet file → one input split;
    * repartition so the O(n²) cosine work fans out across cores (at
    * real scale the table arrives already split). */
  private def emb(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    t(s, d, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
  }

  private def cos = VectorFunctions.cosineSim _

  /** Deterministic BOUNDED training sample for the coarse-quantizer
    * fits ([[kmeansFits]]): sorted by vec_id so the
    * sample — and therefore the seeded single-partition KMeans fit —
    * is independent of input partitioning and file order, and capped
    * so the fit stage is O(cap), never O(corpus), at 100 TB. Mirrors
    * [[graft.ml.ProductQuantizer.fit]]'s bounded-sample recipe. At the
    * test SFs (≤ 2000 vectors) the cap covers the full table, so the
    * fitted centroids and every downstream oracle hash are unchanged. */
  private val quantizerTrainCap = 4096
  private def quantizerTrainSet(s: SparkSession, d: String): DataFrame =
    graft.ml.EmbeddingModels.vectors(
      t(s, d, "embeddings").sort("vec_id").limit(quantizerTrainCap)
        .coalesce(1))

  /** s35's sign-LSH hyperplanes: seeded ±1 entries, generated once at
    * object init. SF-independent driver-side literals in BOTH engines'
    * plans — which is what makes the "seeded" LSH fully deterministic
    * and therefore oracle-checkable (r2; it was rows-only in r1). */
  private val s35Planes: Array[Array[Array[Double]]] = {
    val rng = new Random(42)
    Array.fill(6, 4, 64)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** IVF cell assignment shared by s37/s39: a fixed coarse quantizer
    * (vectors 0..15 as cell centroids), every vector assigned to its
    * highest-cosine cell. Deterministic (seedless), so both consumers
    * stay DuckDB-oracle-checkable. Centroids broadcast; the only
    * shuffle is the per-vector arg-max window.
    *
    * Persisted with an EAGER cache fill: every consumer fans the
    * assignment into 2+ branches of one job (query side + corpus side
    * of a self-join), and filling the cache in a dedicated tiny job
    * first means no branch can find it cold (or evicted under a long
    * run's memory pressure) and block on / race the 16-way crossJoin
    * recompute — the r11 s48/s50 driver-run spread signature. Each
    * call builds the same plan, so Spark's CacheManager serves a
    * repeat call (s50 after s49 without a release, the concurrent
    * warm-up) from the first call's cache; it lives until
    * SparkEntry.release(). */
  private def cellAssign(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosc").desc, col("cid").asc)
    val a = graft.Blocks.persist(e.crossJoin(broadcast(cents))
      .withColumn("cosc", round(cos(col("emb"), col("cemb")), 6))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      // label rides along for the filtered-search consumers (s52);
      // every other consumer selects its columns explicitly
      .select(col("vec_id"), col("emb"), col("label"), col("cid")))
    a.count()
    a
  }

  /** The BUILT eval artifacts (r21) — the tables the index-eval suite
    * publishes once per corpus snapshot and every recall row then
    * joins:
    *
    *  - "gt10": the exact brute-force ground truth, top-10 per query
    *    (the s33 derivation to depth 10 — s33's own top-5 is its
    *    prefix). s33 is the BUILD row (rebuilds unconditionally, so
    *    its bench row keeps measuring the broadcast-query corpus scan
    *    + ranking); s45/s48/s51 read the rnk ≤ 3 prefix, s65/s67/s68
    *    the full depth. Before the tier, each of those six re-derived
    *    the same exact arm per invocation (~0.3–0.4 s each at sf0.1).
    *  - "s65r"/"s67r": the per-query recall@10 tables of the SQ8 and
    *    binary codec arms. s65/s67 are their build rows; s69's codec
    *    frontier (which used to re-run both evals wholesale) serves.
    *
    * At 100 TB the ground truth is computed once over a bounded query
    * sample and stored next to the index; every eval is a join against
    * it — exactly this split. All entries are ≤ (10 queries × 10
    * rows); the checkpoint cost is a barrier, not storage. */
  private def gt10Index(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "gt10", rebuild)(gt10Body(s, d))

  private[graft] def gt10Body(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** s65's per-query SQ8 recall@10 table (tier "s65r"): ADC search
    * over the sq8Enc-reconstructed corpus vs the served gt10 ground
    * truth. */
  private[graft] def sq8RecallBody(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val recons = sq8Enc(s, d)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("recon"))))
        .as("a"))
      .select(col("vec_id"), expr("transform(a, x -> x.recon)").as("remb"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val approx = graft.operators.TopKPerKeyApi.topKPerKey(
      recons.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("c", round(cos(col("qemb"), col("remb")), 6))
        .select(col("qid"), col("vec_id"), col("c")),
      Seq("qid"), Seq(("c", false), ("vec_id", true)), 10,
      rankName = "rnk")
    val hits = gt10Index(s, d)
      .select(col("qid"), col("neighbor_id").as("vec_id"))
      .join(approx.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n"), lit(0L)).as("n_hits"),
        round(coalesce(col("n"), lit(0L)) / lit(10.0d), 4).as("recall"))
  }

  private def sq8RecallIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "s65r", rebuild)(sq8RecallBody(s, d))

  /** s67's per-query binary-Hamming recall@10 table (tier "s67r"):
    * symmetric Hamming search over binCodes vs the served gt10. */
  private[graft] def hammingRecallBody(s: SparkSession,
      d: String): DataFrame = {
    val e = emb(s, d)
    val codes = binCodes(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val qc = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("code_lo").as("qlo"),
        col("code_hi").as("qhi"))
    val ham = graft.operators.TopKPerKeyApi.topKPerKey(
      codes.join(broadcast(qc), col("vec_id") =!= col("qid"))
        .withColumn("ham",
          expr("CAST(bit_count(code_lo ^ qlo) + bit_count(code_hi ^ qhi) AS BIGINT)"))
        .select(col("qid"), col("vec_id"), col("ham")),
      Seq("qid"), Seq(("ham", true), ("vec_id", true)), 10,
      rankName = "rnk")
    val hits = gt10Index(s, d)
      .select(col("qid"), col("neighbor_id").as("vec_id"))
      .join(ham.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n"), lit(0L)).as("n_hits"),
        round(coalesce(col("n"), lit(0L)) / lit(10.0d), 4).as("recall"))
  }

  private def hammingRecallIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "s67r", rebuild)(hammingRecallBody(s, d))

  /** The four PROBE-RESULT tiers (r21, kinds "s37p"/"s40p"/"s42p"/
    * "s43p"): each index variant's published top-k candidate table —
    * ≤ 50 rows each. s48's recall matrix (and s45's recall row, for
    * s37) used to re-RUN every probe per invocation; an eval suite
    * instead runs each probe once, stores its candidate list, and
    * joins the stored lists against the ground truth — the split these
    * tiers encode. s37/s40/s42/s43 are the build rows (rebuild
    * unconditionally, so their bench rows keep measuring the index
    * probe itself); s48 serves all four, s45 serves s37's. */
  private def ivfProbeBody(s: SparkSession, d: String): DataFrame = {
    val cell = cellAssign(s, d)
    val q = cell.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("cid").as("qcell"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cell.join(broadcast(q),
        col("cid") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  private def ivfProbeIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "s37p", rebuild)(ivfProbeBody(s, d))

  private def trainedProbeBody(s: SparkSession, d: String): DataFrame = {
    val ranked = trainedRanked(s, d)
    val corpus = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("emb"), col("cid"))
    // probe cells are distinct per query, and each corpus vector lives
    // in exactly one cell, so the candidate set needs no distinct()
    val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("cid").as("pcell"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    corpus.join(broadcast(probes),
        col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  private def trainedProbeIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "s40p", rebuild)(trainedProbeBody(s, d))

  private def pqProbeBody(s: SparkSession, d: String): DataFrame = {
    val pq = pqModel(s, d, 16)
    val ranked = trainedRanked(s, d)
    // a single-branch plan: the encode feeds the join once, so it stays
    // lazy (persisting it made every cold run pay a cache fill); a
    // repeat consumer serves the s42p tier instead
    val corpus = pq.encode(ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("emb"), col("cid")))
      .select(col("vec_id"), col("cid"), col("pq_code"))
    val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("cid").as("pcell"))
    val searched = corpus.join(broadcast(probes),
        col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
      .withColumn("adc",
        round(pq.adcNative(col("pq_code"), col("qemb")), 6))
      .select(col("qid"), col("vec_id"), col("adc"))
    graft.operators.TopKPerKeyApi.topKPerKey(searched, Seq("qid"),
      Seq(("adc", true), ("vec_id", true)), 5)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("adc"))
  }

  private def pqProbeIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "s42p", rebuild)(pqProbeBody(s, d))

  private def residProbeBody(s: SparkSession, d: String): DataFrame = {
    val ranked = trainedRanked(s, d)
    def resid(e: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      zip_with(e, c, (x, y) => x - y)
    val corpus0 = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"),
        resid(col("emb"), col("cemb")).as("remb"))
    // residual codes encode a different domain than s42's raw codes,
    // so they train their own codebooks; like s42's corpus, the encode
    // stays a lazy single-branch plan
    val pq = pqResidFits(s, d, 16)(
      graft.ml.ProductQuantizer.fit(corpus0, embCol = "remb", m = 16, k = 16))
    val corpus = pq.encode(corpus0, embCol = "remb")
      .select(col("vec_id"), col("cid"), col("pq_code"))
    val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        resid(col("emb"), col("cemb")).as("qres"),
        col("cid").as("pcell"))
    val searched = corpus.join(broadcast(probes),
        col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
      .withColumn("adc",
        round(pq.adcNative(col("pq_code"), col("qres")), 6))
      .select(col("qid"), col("vec_id"), col("adc"))
    graft.operators.TopKPerKeyApi.topKPerKey(searched, Seq("qid"),
      Seq(("adc", true), ("vec_id", true)), 5)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("adc"))
  }

  private def residProbeIndex(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "s43p", rebuild)(residProbeBody(s, d))

  /** The BUILT NN-descent edge tables: layer 0 (kind "nnd0", the
    * full-corpus kNN graph shared by s72/s73/s74; src, dst, cosine;
    * out-degree ≤ K) and layer 1 (kind "nnd1", s74's /8 entry tier).
    * Unlike the persisted index stages ([[cellAssign]],
    * [[trainedRanked]] — pure-lineage plans, dropped on every
    * SparkEntry.release()) these are localCheckpointed fixed points:
    * six supersteps of shuffled candidate scoring that CANNOT be
    * recomputed once their blocks drop, and whose build dominates the
    * family's cost. They are the graph-ANN analogue of
    * [[kmeansFits]]'s fitted centroids: a built INDEX, constructed
    * once per (session, dir) and then SERVED many times; `rebuild =
    * true` is s72's posture (that query IS the index build). Size is
    * tiny relative to the corpus it indexes: ≤ K rows per node of
    * (long, long, double) — the 100 TB posture is exactly this, an
    * edge table pinned in cluster storage while query batches come and
    * go. Without the memo one bench pass built the same layer-0 fixed
    * point four times over (s72, s73 via s72's entry, s74). The build
    * localCheckpoints per superstep, so [[BuiltIndexMemo.get]]
    * publishes that checkpoint as it is. */
  private def nndescentEdges(s: SparkSession, d: String,
      rebuild: Boolean = false): DataFrame =
    BuiltIndexMemo.get(s, d, "nnd0", rebuild)(nndescentLayer0Build(s, d))

  /** s74's entry-tier edges: NN-descent over [[entryLayer]], so the
    * memoized graph is exactly what the oracle's `e1` CTE chain
    * unrolls. */
  private def nndescentEdges1(s: SparkSession, d: String): DataFrame =
    BuiltIndexMemo.get(s, d, "nnd1")(nndescentLayer1Build(s, d))

  /** s74's entry layer of (vec_id, emb): every [[hnswStride]]-th vector,
    * re-keyed to the contiguous rank id vec_id / stride that the
    * NN-descent init mix needs — the oracle's `e1` CTE. */
  private[graft] def entryLayer(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") % hnswStride === 0)
      .select((col("vec_id") / hnswStride).cast("long").as("vec_id"),
        col("emb"))

  // the input persist feeds only the build's init and supersteps, so
  // the scope drops it once the checkpointed graph lands: a lost
  // concurrent build race leaves no duplicate full-corpus persist
  private def nndescentLayer1Build(s: SparkSession, d: String): DataFrame =
    graft.Blocks.scoped(b => nndescentGraph(
      b.persist(entryLayer(emb(s, d).select(col("vec_id"), col("emb"))))))

  private def nndescentLayer0Build(s: SparkSession, d: String): DataFrame =
    graft.Blocks.scoped(b => nndescentGraph(
      b.persist(emb(s, d).select(col("vec_id"), col("emb")))))

  /** Driver-side fitted models of the embeddings table, memoized per
    * (SF dir, table fingerprint, key) so each is fit once per process
    * and corpus: a rewrite of the table at the same path changes the
    * fingerprint ([[graft.Tables.fingerprint]]), so the next call
    * refits. The fitted parameters enter both engines' plans as rounded
    * literals (Spark via typed rows or `lit`s, DuckDB via VALUES
    * clauses in the oracle). [[last]] reads the most recent corpus's
    * fit for those oracle literals — Verify dumps oracle SQL after the
    * queries run, so the fit has always happened by then. */
  private final class FitMemo[K, V] {
    private type Corpus = (String, Seq[(String, Long, Long)])
    private val fitted = scala.collection.concurrent.TrieMap.empty[(Corpus, K), V]
    @volatile private var lastCorpus: Option[Corpus] = None
    def apply(s: SparkSession, d: String, key: K)(fit: => V): V = {
      val corpus = (d, graft.Tables.fingerprint(s, d, "embeddings"))
      lastCorpus = Some(corpus)
      fitted.getOrElseUpdate((corpus, key), fit)
    }
    def last(key: K): Option[V] = lastCorpus.flatMap(c => fitted.get((c, key)))
  }

  /** Trained coarse quantizers, keyed by k: seeded k-means on a single
    * partition over [[quantizerTrainSet]]'s sorted, capped sample
    * (seeded k-means is only reproducible for a fixed input order, and
    * the cap keeps the fit O(sample) — never a single-task pass over
    * the full corpus — at any scale), centroids rounded to 6 dp. k = 8
    * is s40's index (and s42/s43/s53's); s54's elbow sweeps k ∈
    * {4, 8, 16} and shares the k = 8 fit. */
  private val kmeansFits = new FitMemo[Int, Array[Array[Double]]]
  private def kmeansCentroids(s: SparkSession, d: String,
      k: Int): Array[Array[Double]] =
    kmeansFits(s, d, k) {
      new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(42L).setFeaturesCol("vec")
        .fit(quantizerTrainSet(s, d)).clusterCenters
        .map(_.toArray.map(x => math.rint(x * 1e6) / 1e6))
    }

  /** Product quantizers, keyed by subspace count m: driver-side seeded
    * Lloyd's on a sorted bounded sample
    * ([[graft.ml.ProductQuantizer.fit]]), 16 centroids per subspace.
    * m = 16 is s41/s42/s59's codebook; s62's code-budget sweep fits
    * [[pqSweepMs]]. */
  private val pqFits = new FitMemo[Int, graft.ml.ProductQuantizerModel]
  private def pqModel(s: SparkSession, d: String,
      m: Int): graft.ml.ProductQuantizerModel =
    pqFits(s, d, m)(graft.ml.ProductQuantizer.fit(emb(s, d), m = m, k = 16))
  private val pqSweepMs: Seq[Int] = Seq(2, 4, 8)

  /** s43's RESIDUAL product quantizer, keyed by m (16): the same
    * driver-side seeded fit, but trained on cell residuals (emb −
    * home-cell centroid) — the quantity PQ actually has to encode in a
    * residual IVF-PQ index. Residual magnitudes are a fraction of
    * raw-vector magnitudes, so the same 16×16 code budget spends its
    * resolution on a much smaller domain → lower ADC distortion at
    * identical storage (recall evidence: StressBench `ivfpq_recall_*`). */
  private val pqResidFits = new FitMemo[Int, graft.ml.ProductQuantizerModel]

  /** Trained-centroid cell ranking shared by s40/s42: every vector's
    * cosine rank against the fitted k = 8 centroids (rn=1 is its home
    * cell; rn<=nprobe are a query's probe cells). Persisted — it feeds
    * corpus and query branches in every consumer, and the CacheManager
    * dedupes the plan across them and across repeat calls (s48's arms)
    * until SparkEntry.release(). */
  private def trainedRanked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val centsDf = kmeansCentroids(s, d, 8).zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cid", "cemb")
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosc").desc, col("cid").asc)
    graft.Blocks.persist(emb(s, d).crossJoin(broadcast(centsDf))
      .withColumn("cosc", round(cos(col("emb"), col("cemb")), 6))
      .withColumn("rn", row_number().over(wAssign)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 neighbors for query vectors vec_id < 10.
    // HYBRID RETRIEVAL via Reciprocal Rank Fusion — the modern search
    // stack's fusion step: the lexical ranking (t34's BM25, shared
    // helper so the algebra cannot drift) and the semantic ranking
    // (cosine to the query document's embedding, doc_id ≡ vec_id in the
    // corpus) each take their top-50 through a DISTRIBUTED
    // TakeOrderedAndProject; ranks are then assigned by a window over
    // at most 50 rows (bounded by the constant k, not the corpus — the
    // only acceptable use of an unpartitioned window), fused full-outer
    // on doc id with rrf = Σ 1/(60+rank). At 100 TB each arm scans its
    // own index path and only the k survivors meet — the fusion itself
    // never touches the corpus. 1/(60+rank) on integer ranks is
    // binary-exact in both engines; the two-term sum is fixed-order.
    "s44_hybrid_rrf" -> { (s, d) =>
      val lex = TextOps.bm25Scores(s, d).select(col("doc_id"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(50)
      val lexR = lex.withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
      val sem = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cos(col("qemb"), col("emb")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(50)
      val semR = sem.withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("long"))
      lexR.select(col("doc_id"), col("lex_rank"))
        .join(semR.select(col("vec_id"), col("sem_rank")),
          col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          col("lex_rank"), col("sem_rank"),
          round(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)), 6)
            .as("rrf"))
    },

    // kNN GRAPH — every vector's top-3 neighbors (not just a query
    // set): the primitive under graph clustering, label propagation
    // and kNN-descent near-dup. IVF cells (s37's deterministic coarse
    // quantizer) bound the candidate join to cell-mates — O(Σ cell²)
    // instead of O(n²) — and the per-vector top-3 runs through the
    // NATIVE TopKPerKey bounded-heap exec on the ROUNDED cosine with
    // an id tie-break, the same total order the oracle's row_number
    // replays. Vectors alone in their cell emit no rows (their
    // candidate set is empty), identically in both engines.
    "s47_knn_graph" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val nbrs = cell.select(col("vec_id").as("nb_id"),
        col("emb").as("nemb"), col("cid").as("ncid"))
      val scored = cell
        .join(nbrs, col("cid") === col("ncid") && col("vec_id") =!= col("nb_id"))
        .withColumn("cosine", round(cos(col("emb"), col("nemb")), 6))
        .select(col("vec_id"), col("nb_id"), col("cosine"))
      graft.operators.TopKPerKeyApi.topKPerKey(scored, Seq("vec_id"),
        Seq(("cosine", false), ("nb_id", true)), 3)
        .select(col("vec_id"), col("rnk"), col("nb_id").as("neighbor_id"),
          col("cosine"))
    },

    // RADIUS SEARCH — the fixed-threshold companion to top-k (s33):
    // all corpus vectors within cosine ≥ 0.2 of each query. Query set
    // broadcasts; the corpus is scanned ONCE map-side with no shuffle
    // at all — the cheapest possible shape, linear at any scale.
    "s46_radius_search" -> { (s, d) =>
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
        .filter(col("cosine") >= 0.2)
        .select(col("qid"), col("vec_id").as("neighbor_id"), col("cosine"))
    },

    "s33_knn_bruteforce" -> { (s, d) =>
      // BUILD row of the gt10 ground-truth tier (r21): rebuilds the
      // exact broadcast-query corpus ranking unconditionally; its own
      // contract (top-5) is the tier's prefix. s45/s48/s51/s65/s67/s68
      // serve.
      gt10Index(s, d, rebuild = true).filter(col("rnk") <= 5)
    },

    // ANN RECALL EVALUATION — the eval harness a vector pipeline runs
    // before trusting an index: recall@3 of the IVF scale path (s37)
    // against the exact brute-force ground truth (s33), per query and
    // exactly replayable (both arms are deterministic registry twins;
    // the oracle composes their SQL verbatim, the s44 discipline). At
    // 100 TB the eval runs over a bounded query SAMPLE, so the exact
    // arm — a broadcast of the sample against one corpus scan — is
    // linear, not quadratic; the per-query join is constant-k rows.
    "s45_ann_recall" -> { (s, d) =>
      val exact = gt10Index(s, d) // served (r21; s33 is the build row)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
      val approx = ivfProbeIndex(s, d) // served (r21; s37 is the build row)
        .select(col("qid").as("aqid"), col("neighbor_id").as("aneib"))
      exact.join(approx,
          col("qid") === col("aqid") && col("neighbor_id") === col("aneib"),
          "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(when(col("aneib").isNotNull, 1L).otherwise(0L)).as("hits"))
        .withColumn("recall_at_3", round(col("hits") / col("k"), 4))
    },

    // TRUNCATED-DIMENSION RECALL — the Matryoshka-embedding trade
    // measured: search on only the FIRST 16 of 64 dimensions (the MRL
    // prefix a serving stack keeps hot — 4× less memory bandwidth and
    // 4× more vectors per cache line) and score its recall@3 against
    // the full-dimension exact ground truth (s33). The truncated arm
    // is the same broadcast-query brute-force shape as s33 — at 100 TB
    // the prefix slice is what an in-memory first stage would actually
    // scan, and this row is the eval that decides whether 16 dims are
    // enough to over-fetch for an s50-style exact rerank. Slice +
    // cosine + bounded window; the oracle composes s33's SQL verbatim
    // (the s45 discipline).
    "s51_truncated_dim_recall" -> { (s, d) =>
      val te = emb(s, d).select(col("vec_id"),
        slice(col("emb"), 1, 16).as("temb"))
      val q = te.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("temb").as("qemb"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("tcos").desc, col("vec_id").asc)
      val approx = te.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("tcos", round(cos(col("qemb"), col("temb")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid").as("aqid"), col("vec_id").as("aneib"))
      val exact = gt10Index(s, d) // served (r21; s33 is the build row)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
      exact.join(approx,
          col("qid") === col("aqid") && col("neighbor_id") === col("aneib"),
          "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(when(col("aneib").isNotNull, 1L).otherwise(0L)).as("hits"))
        .withColumn("recall_at_3", round(col("hits") / col("k"), 4))
    },

    // ANN RECALL MATRIX — s45 widened to every deterministic index
    // variant in the registry: recall@3 of the fixed-quantizer IVF
    // (s37), trained IVF nprobe=2 (s40), IVF-PQ (s42) and residual
    // IVF-PQ (s43) arms against the same exact brute-force ground
    // truth (s33), one row per (variant, query). This is the eval
    // table a vector pipeline publishes before switching index
    // parameters; every arm is a deterministic registry twin, so the
    // whole matrix stays DuckDB-oracle-checked (the composed-SQL s44/
    // s45 discipline — trained-model literals included). The exact
    // arm is computed once and persisted (4 probe joins reuse it);
    // at 100 TB it is a bounded query sample (s33's broadcast shape),
    // so the eval costs 4 index probes, not 4 corpus scans.
    "s48_index_recall_matrix" -> { (s, d) =>
      // served (r21; s33 is the build row). The old per-query persist
      // + eager fill is subsumed by the tier: the checkpoint IS the
      // materialized 30-row ground truth, shared by all four arms.
      val exact = gt10Index(s, d)
        .filter(col("rnk") <= 3).select(col("qid"), col("neighbor_id"))
      // the four arms serve the published probe-result tiers (r21;
      // s37/s40/s42/s43 are their build rows) — the matrix is now
      // joins of stored candidate lists against stored ground truth,
      // not four re-run index probes
      def arm(label: String, probe: DataFrame): DataFrame = {
        val approx = probe
          .select(col("qid").as("aqid"), col("neighbor_id").as("aneib"))
        exact.join(approx,
            col("qid") === col("aqid") && col("neighbor_id") === col("aneib"),
            "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("k"),
            sum(when(col("aneib").isNotNull, 1L).otherwise(0L)).as("hits"))
          .select(lit(label).as("variant"), col("qid"), col("k"),
            col("hits"), round(col("hits") / col("k"), 4).as("recall_at_3"))
      }
      arm("s37", ivfProbeIndex(s, d))
        .unionByName(arm("s40", trainedProbeIndex(s, d)))
        .unionByName(arm("s42", pqProbeIndex(s, d)))
        .unionByName(arm("s43", residProbeIndex(s, d)))
    },

    // TWO-STAGE RETRIEVAL — the standard serving funnel: a CHEAP
    // first stage over-fetches candidates (IVF cell restriction +
    // int8-QUANTIZED cosine, s39's compression — the fidelity a
    // memory-resident index actually scores with), top-20 per query;
    // the EXACT cosine then re-ranks only those 20 to a final top-5.
    // At 100 TB the exact metric touches 20 rows per query instead of
    // the corpus — the funnel is the whole point. Both stages rank
    // through the native TopKPerKey heap on 6-dp-rounded scores with
    // id tie-breaks, so the full pipeline stays DuckDB-hash-checked
    // (quantization is round(x·127)/127 — exactly replayable).
    "s50_two_stage_rerank" -> { (s, d) =>
      val quant = (c: org.apache.spark.sql.Column) =>
        transform(c, x => round(x * 127.0, 0) / 127.0)
      val cell = cellAssign(s, d)
      val q = cell.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("cid").as("qcell"))
      val stage1 = cell.join(broadcast(q),
          col("cid") === col("qcell") && col("vec_id") =!= col("qid"))
        .withColumn("qcos",
          round(cos(quant(col("qemb")), quant(col("emb"))), 6))
        .select(col("qid"), col("vec_id"), col("emb"), col("qemb"),
          col("qcos"))
      val cands = graft.operators.TopKPerKeyApi.topKPerKey(stage1,
        Seq("qid"), Seq(("qcos", false), ("vec_id", true)), 20)
      val rescored = cands
        .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
        .select(col("qid"), col("vec_id"), col("cosine"))
      graft.operators.TopKPerKeyApi.topKPerKey(rescored, Seq("qid"),
          Seq(("cosine", false), ("vec_id", true)), 5)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
          col("cosine"))
    },

    // IVF CELL-BALANCE diagnostics — the index-health table an ANN
    // pipeline monitors before trusting probe counts: per-cell corpus
    // population and fraction. A skewed quantizer (one cell holding
    // half the corpus) silently turns an nprobe=1 search into a
    // near-full scan; this row makes it visible. One partial-agg
    // groupBy on the (deterministic, oracle-replayable) s37 cell
    // assignment; the total rides as a broadcast 1-row cross join
    // (the q84 discipline) — no collect, no single-partition window.
    "s49_ivf_cell_stats" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val sizes = cell.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vectors"))
      val total = cell.agg(count(lit(1)).as("n_total"))
      sizes.crossJoin(broadcast(total))
        .select(col("cid"), col("n_vectors"),
          round(col("n_vectors") / col("n_total"), 4).as("frac"))
    },

    // CELL SEPARATION AUDIT — the geometric companion to s49's
    // population balance: per cell of the deterministic s37 quantizer,
    // the members' mean cosine to their OWN centroid (cohesion), to the
    // runner-up centroid (contest), and the mean margin between them.
    // A cell whose margin collapses is one where nprobe=1 misroutes
    // queries and SemDeDup's cell-local pass (d51) misses cross-cell
    // near-dups — this table says WHICH cells, where s53's recall sweep
    // only says how much overall. One 16-centroid broadcast crossJoin
    // scored map-side, the per-vector top-2 via the vec_id-partitioned
    // window (same rounded-cosine + cid tie-break order as cellAssign,
    // so the assignment here ≡ s37/s49's), then one cid partial agg.
    // Means of rounded-6 cosines are order-dependent in the last ulps →
    // round 4 with the +0.0 sign guard (the s55 discipline).
    "s56_cell_separation" -> { (s, d) =>
      val e = emb(s, d)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cosc").desc, col("cid").asc)
      val per = e.crossJoin(broadcast(cents))
        .withColumn("cosc", round(cos(col("emb"), col("cemb")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("vec_id"))
        .agg(max(when(col("rn") === 1, col("cid"))).as("cid"),
          max(when(col("rn") === 1, col("cosc"))).as("best"),
          max(when(col("rn") === 2, col("cosc"))).as("second"))
      per.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vectors"),
          (round(avg(col("best")), 4) + 0.0).as("avg_cohesion"),
          (round(avg(col("second")), 4) + 0.0).as("avg_contest"),
          (round(avg(col("best") - col("second")), 4) + 0.0)
            .as("avg_margin"))
    },

    // INCREMENTAL INDEX UPDATE — the index-maintenance audit: a new
    // vector batch (vec_id ≡ 0 mod 10 stands in for "arrived after the
    // index was built") is assigned to the FROZEN coarse quantizer —
    // the production move for streaming ingest, since retraining
    // centroids per batch would re-cluster the whole corpus. The table
    // reports, per cell, base vs delta occupancy and cohesion (mean
    // cosine to the home centroid): a cell whose delta cohesion drops
    // below its base cohesion is absorbing vectors the frozen quantizer
    // no longer represents well — the retraining trigger, detected
    // BEFORE recall degrades. Same plan shape as s56: one 16-centroid
    // broadcast crossJoin scored map-side, the per-vector arg-max
    // window, one cid partial agg; the delta flag is a pure row-local
    // predicate, so "update" costs the same single pass the base
    // assignment does. Means of rounded-6 cosines → round 4 + sign
    // guard (the s55/s56 discipline); drift subtracts the two
    // ALREADY-ROUNDED means, so it is grid-exact in both engines.
    "s57_index_update" -> { (s, d) =>
      val e = emb(s, d)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cosc").desc, col("cid").asc)
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("cosc", round(cos(col("emb"), col("cemb")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("is_delta", col("vec_id") % 10 === 0)
      assigned.groupBy(col("cid"))
        .agg(
          sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
          sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
          (round(avg(when(!col("is_delta"), col("cosc"))), 4) + 0.0)
            .as("base_cohesion"),
          (round(avg(when(col("is_delta"), col("cosc"))), 4) + 0.0)
            .as("delta_cohesion"))
        .select(col("cid"), col("n_base"), col("n_delta"),
          round(col("n_delta") / greatest(col("n_base"), lit(1L)), 4)
            .as("growth"),
          col("base_cohesion"), col("delta_cohesion"),
          round(col("delta_cohesion") - col("base_cohesion"), 4)
            .as("drift"))
    },

    // PQ DISTORTION — the quantization QA table behind s41/s42: per
    // PQ subspace, the mean and worst squared reconstruction error
    // (distance from each vector's subvector to its chosen codeword).
    // A subspace whose MSE towers over the others is where the code
    // budget is misallocated (variance unbalanced across dims) — the
    // datum that motivates OPQ-style rotations or the residual
    // encoding s43 ships. Pure map over the corpus (the same codebook
    // literals and left-to-right accumulation s41 pins), posexploded
    // into one m-row partial agg — no shuffle wider than 16 rows.
    "s59_pq_distortion" -> { (s, d) =>
      val pq = pqModel(s, d, 16)
      val e = emb(s, d)
      val dmins = (0 until pq.m).map { j =>
        val cb = typedlit(pq.codebooks(j).map(_.toSeq).toSeq)
        val sub = slice(col("emb"), j * pq.dsub + 1, pq.dsub)
        array_min(transform(cb, c =>
          aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v)))
      }
      e.select(col("vec_id"), posexplode(array(dmins: _*)))
        .toDF("vec_id", "subspace", "sqerr")
        .groupBy(col("subspace"))
        .agg(count(lit(1)).as("n_vectors"),
          round(avg(col("sqerr")), 6).as("mse"),
          round(max(col("sqerr")), 6).as("max_sqerr"))
        .select(col("subspace").cast("long").as("subspace"),
          col("n_vectors"), col("mse"), col("max_sqerr"))
    },

    // CENTROID SHIFT — the retraining decision s57 motivates, made
    // quantitative: one Lloyd step per cell (the mean of the vectors
    // the frozen centroid currently owns) and the per-dimension drift
    // between that mean and the centroid. A cell whose members' mean
    // has moved far from its centroid is a cell the quantizer no
    // longer represents — l1_shift is the retraining trigger metric,
    // per cell, with max_dim_shift localizing WHICH dimension drifted.
    // Plan: the shared cell assignment posexploded into (cid, dim)
    // partial-agg means (the s36 shape — never a per-vector window),
    // joined to the exploded centroid components keyed by (cid, dim),
    // then one 16-row agg. Means round at 6 before the exact-operand
    // subtraction; the 64-term L1 sum rounds at 4 (FP order).
    "s58_centroid_shift" -> { (s, d) =>
      val e = emb(s, d)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val means = cellAssign(s, d)
        .select(col("cid"), posexplode(col("emb")))
        .toDF("cid", "pos", "v")
        .groupBy(col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"), round(avg(col("v")), 6).as("mean_v"))
      val cdim = cents
        .select(col("cid"), posexplode(col("cemb")))
        .toDF("cid", "pos", "cv")
      means.join(cdim, Seq("cid", "pos"))
        .groupBy(col("cid"))
        .agg(max(col("n")).as("n_members"),
          round(sum(abs(col("mean_v") - col("cv"))), 4).as("l1_shift"),
          round(max(abs(col("mean_v") - col("cv"))), 6).as("max_dim_shift"))
    },

    // All pairs with cosine ≥ 0.4 — embedding-space near-duplicates.
    //
    // SCALE FENCE — this is the deliberate O(n²) EXACTNESS BASELINE,
    // not a production path: it exists as the recall oracle the banded/
    // bucketed ANN variants (s35 LSH, s37/s40 IVF, s41-s43 PQ) are
    // measured against in SimilaritySpec. All-pairs over 100 TB would
    // be ~10^18 comparisons, so the query refuses inputs larger than
    // `spark.graft.exact.maxRows` (default 1,000,000) up front — the
    // one extra count() job is noise next to the join it fences.
    "s34_embedding_neardup" -> { (s, d) =>
      val e = emb(s, d)
      val maxRows = s.conf.get("spark.graft.exact.maxRows", "1000000").toLong
      val n = e.count()
      require(n <= maxRows,
        s"s34_embedding_neardup is the all-pairs exactness baseline (O(n^2) in rows); " +
          s"input has $n rows > spark.graft.exact.maxRows=$maxRows — " +
          "use s35_ann_lsh / s37_ann_ivf / s41_pq_adc for at-scale near-dup")
      val a = e.select(col("vec_id").as("ia"), col("emb").as("ea"))
      val b = e.select(col("vec_id").as("ib"), col("emb").as("eb"))
      a.join(b, col("ia") < col("ib"))
        .withColumn("cosine", cos(col("ea"), col("eb")))
        .filter(col("cosine") >= 0.4)
        .select(col("ia"), col("ib"), round(col("cosine"), 4).as("cosine"))
    },

    // Sign-LSH bucketed near-dup with OR-amplification: 6 hash tables of
    // 4 fixed hyperplanes each. A pair is a candidate if it collides in
    // ANY table (union → distinct), then exact cosine confirms. The
    // self-join key is (table, bucket), so the shuffle partitions by
    // bucket and never materializes the cross product — the variant of
    // s34 that survives 1000× data. Approximate (recall < 1) —
    // rows-only for the driver; recall vs s34 asserted in scalatest.
    "s35_ann_lsh" -> { (s, d) =>
      val nTables = 6
      val planesPerTable = 4
      val planes = s35Planes
      // the base table feeds three plan branches (bucket keying + both
      // sides of the exact-confirm join) — persist once instead of
      // re-scanning and re-shuffling parquet per branch (same documented
      // reuse point discipline as d28)
      val e = graft.Blocks.persist(emb(s, d))
      val tableBuckets = (0 until nTables).map { tb =>
        val bucket = (0 until planesPerTable).map { p =>
          val proj = aggregate(
            zip_with(col("emb"), typedlit(planes(tb)(p).toSeq), (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v)
          when(proj >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ bitwiseOR _)
        struct(lit(tb).as("table"), bucket.as("bucket"))
      }
      val keyed = e.withColumn("tb", explode(array(tableBuckets: _*)))
        .select(col("vec_id"), col("tb"))
      val cands = keyed.select(col("vec_id").as("ia"), col("tb"))
        .join(keyed.select(col("vec_id").as("ib"), col("tb").as("tbb")),
          col("tb") === col("tbb") && col("ia") < col("ib"))
        .select(col("ia"), col("ib")).distinct()
      val va = e.select(col("vec_id").as("ia"), col("emb").as("ea"))
      val vb = e.select(col("vec_id").as("ib"), col("emb").as("eb"))
      cands.join(va, "ia").join(vb, "ib")
        .withColumn("cosine", cos(col("ea"), col("eb")))
        .filter(col("cosine") >= 0.4)
        .select(col("ia"), col("ib"), round(col("cosine"), 4).as("cosine"))
    },

    // NPROBE TUNING SWEEP — the table that answers "how many cells
    // must this IVF index probe": recall@3 AND scanned-candidate cost
    // of the trained index at nprobe ∈ {1, 2, 4}, one row per setting,
    // against the s33 exact ground truth. s48 compares index FAMILIES;
    // this sweeps the one knob a deployed IVF actually tunes, and the
    // candidate count makes the recall/cost trade explicit (recall
    // rises with nprobe, scan cost rises linearly — pick the knee).
    // All three arms share the trained ranking and the persisted exact
    // arm; every join is (cell) equi or broadcast; trained centroids
    // are literals in both engines, so the whole sweep hash-checks.
    "s53_nprobe_sweep" -> { (s, d) =>
      val ranked = trainedRanked(s, d)
      val corpus = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("emb"), col("cid"))
      // served (r21; s33 is the gt10 build row) — the old per-query
      // persist is subsumed by the tier's checkpoint
      val exact = gt10Index(s, d)
        .filter(col("rnk") <= 3)
        .select(col("qid").as("eqid"), col("neighbor_id"))
      def arm(nprobe: Int): DataFrame = {
        val probes = ranked.filter(col("rn") <= nprobe && col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("emb").as("qemb"),
            col("cid").as("pcell"))
        val cand = corpus.join(broadcast(probes),
            col("cid") === col("pcell") && col("vec_id") =!= col("qid"))
          .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
          .select(col("qid"), col("vec_id"), col("cosine"))
        val top3 = graft.operators.TopKPerKeyApi.topKPerKey(cand,
            Seq("qid"), Seq(("cosine", false), ("vec_id", true)), 3)
          .select(col("qid").as("aqid"), col("vec_id").as("aneib"))
        val rec = exact.join(top3,
            col("eqid") === col("aqid") && col("neighbor_id") === col("aneib"),
            "left")
          .groupBy(col("eqid"))
          .agg(count(lit(1)).as("k"),
            sum(when(col("aneib").isNotNull, 1L).otherwise(0L)).as("hits"))
        rec.agg(count(lit(1)).as("n_queries"),
            sum(col("k")).as("total_k"), sum(col("hits")).as("total_hits"))
          .crossJoin(cand.agg(count(lit(1)).as("total_candidates")))
          .select(lit(nprobe.toLong).as("nprobe"), col("n_queries"),
            col("total_hits"),
            round(col("total_hits") / col("total_k"), 4).as("recall_at_3"),
            col("total_candidates"))
      }
      arm(1).unionByName(arm(2)).unionByName(arm(4))
    },

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023) — the curation pass
    // that removes semantically-redundant documents an n-gram dedup
    // can't see (paraphrases, translations, templated rewrites):
    // cluster the embedding space, then inside each cluster drop any
    // vector with a LOWER-ID neighbor above the cosine threshold —
    // the paper's keep-one-per-epsilon-ball rule made deterministic by
    // id order. Pairwise work is CELL-BOUNDED (the s47 kNN-graph
    // discipline): the self-join keys on cell id, so the shuffle
    // partitions by cell and the comparison count is O(Σ cell²), never
    // corpus². At 100 TB the quantizer's k grows with the corpus so
    // cells stay bounded — exactly how SemDeDup runs on real
    // pretraining data. Deterministic fixed quantizer (s37's), 6-dp
    // rounded cosine → fully DuckDB-oracle-checked.
    "d51_semdedup" -> { (s, d) =>
      val tau = 0.35
      val cell = cellAssign(s, d)
      val a = cell.select(col("cid"), col("vec_id").as("ia"),
        col("emb").as("ea"))
      val b = cell.select(col("cid").as("cidb"), col("vec_id").as("ib"),
        col("emb").as("eb"))
      val dropped = a.join(b,
          col("cid") === col("cidb") && col("ia") < col("ib"))
        .withColumn("c", round(cos(col("ea"), col("eb")), 6))
        .filter(col("c") >= tau)
        .select(col("ib").as("vec_id")).distinct()
        .withColumn("hit", lit(true))
      cell.select(col("vec_id"), col("cid"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(!col("hit"), lit(true)).as("keep"))
    },

    // LSH BUCKET-BALANCE DIAGNOSTIC — s49's index-health discipline
    // pointed at the SIGN-LSH layout (s35/s63): the full per-(table,
    // bucket) occupancy table with each bucket's corpus fraction. A
    // collapsed hyperplane (all mass in few buckets) turns the bucket
    // equi-join into a near-cross-join — this table is where that is
    // visible BEFORE the join cost lands. Same seeded plane literals
    // as s35 (both engines), one map-side bucket computation with a
    // bounded ×6 fan-out, one (table, bucket) partial agg — ≤96 rows
    // of output at any corpus size; the corpus total broadcasts.
    "d63_lsh_bucket_stats" -> { (s, d) =>
      val nTables = 6
      val planesPerTable = 4
      val planes = s35Planes
      val e = emb(s, d)
      val tableBuckets = (0 until nTables).map { tb =>
        val bucket = (0 until planesPerTable).map { p =>
          val proj = aggregate(
            zip_with(col("emb"), typedlit(planes(tb)(p).toSeq),
              (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v)
          when(proj >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ bitwiseOR _)
        struct(lit(tb).as("table_id"), bucket.as("bucket"))
      }
      val keyed = e.withColumn("tb", explode(array(tableBuckets: _*)))
        .select(col("tb.table_id").cast("long").as("table_id"),
          col("tb.bucket").cast("long").as("bucket"))
      val tot = e.agg(count(lit(1)).as("n_vectors"))
      keyed.groupBy(col("table_id"), col("bucket"))
        .agg(count(lit(1)).as("n_in_bucket"))
        .crossJoin(broadcast(tot))
        .select(col("table_id"), col("bucket"), col("n_in_bucket"),
          col("n_vectors"),
          round(col("n_in_bucket") / col("n_vectors"), 4).as("frac"))
    },

    // SEMDEDUP THRESHOLD SWEEP — d52's operating-curve discipline
    // pointed at the EMBEDDING dedup (d51): how much of the corpus
    // would the semantic dedup drop at τ ∈ {0.30, 0.35, 0.40}? The
    // knob that trades recall-of-redundancy against kept-data volume,
    // decided BEFORE committing a τ corpus-wide. One cell-bounded
    // pairwise pass (d51's O(Σ cell²) shape) reduces each vector to
    // its MAX cosine against lower-id cell-mates; all three arms are
    // then conditional counts over that per-vector aggregate — the
    // sweep costs ONE extra scan of a vec-count-sized frame, not
    // three pairwise passes. τ=0.35 reproduces d51's drop set by
    // construction (spec-pinned).
    "d62_semdedup_sweep" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val a = cell.select(col("cid"), col("vec_id").as("ia"),
        col("emb").as("ea"))
      val b = cell.select(col("cid").as("cidb"), col("vec_id").as("ib"),
        col("emb").as("eb"))
      val maxcos = a.join(b,
          col("cid") === col("cidb") && col("ia") < col("ib"))
        .withColumn("c", round(cos(col("ea"), col("eb")), 6))
        .groupBy(col("ib").as("vec_id"))
        .agg(max(col("c")).as("maxc"))
      val agg = cell.select(col("vec_id"))
        .join(maxcos, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("nv"),
          sum(when(col("maxc") >= 0.30, 1L).otherwise(0L)).as("d30"),
          sum(when(col("maxc") >= 0.35, 1L).otherwise(0L)).as("d35"),
          sum(when(col("maxc") >= 0.40, 1L).otherwise(0L)).as("d40"))
      Seq(("0.3", "d30"), ("0.35", "d35"), ("0.4", "d40")).map {
        case (tau, cn) =>
          agg.select(expr(s"CAST($tau AS DOUBLE)").as("tau"),
            col("nv").as("n_vectors"), col(cn).as("n_dropped"),
            round(col(cn) / col("nv"), 4).as("drop_rate"))
      }.reduce(_ unionByName _)
    },

    // GREEDY k-CENTER CORESET — farthest-point traversal over the
    // embedding space (Gonzalez 1985; the "diverse subset" selection a
    // curation pipeline runs to seed eval sets or active-learning
    // batches): start from vec_id 0, then k−1 times pick the vector
    // farthest (max min-cosine-distance) from everything selected so
    // far. Each round is ONE distributed aggregate — the selected
    // vectors are bounded driver-side literals (the trained-quantizer
    // discipline: O(k) rows ever collected, k fixed), the min-distance
    // scan is map-only over the corpus, and the arg-max is a
    // TakeOrdered(1), so at 100 TB the cost is k corpus scans with no
    // wide shuffle. 6-dp rounded cosine + id tie-break → the whole
    // traversal replays exactly in the DuckDB oracle as k unrolled
    // CTE steps.
    "q98_kcenter_coreset" -> { (s, d) =>
      val k = 4
      // feeds k sequential bounded-aggregate rounds — persist so the
      // parquet scan + float→double widening runs once; released by
      // SparkEntry.release()
      val e = graft.Blocks.persist(emb(s, d).select(col("vec_id"), col("emb")))
      val first = e.filter(col("vec_id") === 0L)
        .select(col("emb")).head().getSeq[Double](0)
      var picked = Vector((1, 0L, null.asInstanceOf[java.lang.Double],
        first))
      while (picked.size < k) {
        val dists = picked.map { case (_, _, _, semb) =>
          lit(1.0) - round(cos(col("emb"), typedlit(semb)), 6)
        }
        val mind = if (dists.size == 1) dists.head else least(dists: _*)
        val ids = picked.map(_._2)
        val win = e.filter(!col("vec_id").isInCollection(ids))
          .withColumn("mind", mind)
          .orderBy(col("mind").desc, col("vec_id").asc)
          .select(col("vec_id"), col("mind"), col("emb"))
          .head()
        picked = picked :+ ((picked.size + 1, win.getLong(0),
          Double.box(win.getDouble(1)), win.getSeq[Double](2)))
      }
      val s2 = s
      import s2.implicits._
      picked.map { case (step, id, mind, _) =>
        (step, id, Option(mind).map(_.doubleValue))
      }.toDF("step", "vec_id", "min_dist")
    },

    // FILTERED ANN — the vector-DB staple s37 can't express: top-k
    // restricted to candidates matching the query's metadata predicate
    // (here: same label — "search only my tenant/category"). The
    // filter is NOT post-hoc (which under-fills k when the predicate is
    // selective): it rides IN the candidate join condition, so the
    // equi-join keys on (cell, label) and the shuffle partitions by
    // both — at 100 TB the scan per query is its cell∩label slice,
    // and a label-skewed corpus just means more (cell,label) buckets,
    // never a bigger one. Top-3 via the native bounded-heap exec on
    // the rounded cosine; fully DuckDB-oracle-checked.
    "s52_filtered_ann" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val q = cell.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("cid").as("qcell"), col("label").as("qlabel"))
      val cand = cell.join(broadcast(q),
          col("cid") === col("qcell") && col("label") === col("qlabel") &&
            col("vec_id") =!= col("qid"))
        .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("cosine"))
      graft.operators.TopKPerKeyApi.topKPerKey(cand, Seq("qid"),
        Seq(("cosine", false), ("vec_id", true)), 3)
        .select(col("qid"), col("qlabel").as("label"), col("rnk"),
          col("vec_id").as("neighbor_id"), col("cosine"))
    },

    // HARD-NEGATIVE MINING — the contrastive-training batch
    // constructor (DPR/SimCSE shape): for each anchor, the top-3
    // most-similar vectors with a DIFFERENT label (the negatives a
    // random sampler would almost never find), each carrying the
    // anchor's nearest SAME-label cosine so the row directly reads as
    // a triplet-loss margin — is_violation marks negatives that are
    // closer than the nearest positive, the pairs that actually move
    // a contrastive model. s52's inverse on the same machinery: ONE
    // cell-bounded candidate stage off the shared IVF assignment
    // (never all-pairs), one scoring pass split into the neg top-3
    // (native bounded-heap TopKPerKey) and the pos top-1; anchors
    // without a same-label cell-mate ship a NULL margin (left join —
    // the honest answer, not a silent drop).
    "s70_hard_negatives" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val q = cell.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("cid").as("qcell"), col("label").as("qlabel"))
      val scored = cell.join(broadcast(q),
          col("cid") === col("qcell") && col("vec_id") =!= col("qid"))
        .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
      val negs = graft.operators.TopKPerKeyApi.topKPerKey(
        scored.filter(col("label") =!= col("qlabel"))
          .select(col("qid"), col("qlabel"), col("vec_id"),
            col("label"), col("cosine")),
        Seq("qid"), Seq(("cosine", false), ("vec_id", true)), 3)
      val pos = scored.filter(col("label") === col("qlabel"))
        .groupBy(col("qid").as("pqid"))
        .agg(max(col("cosine")).as("pos_cosine"))
      negs.join(pos, col("qid") === col("pqid"), "left")
        .select(col("qid"), col("qlabel"), col("rnk"),
          col("vec_id").as("neg_id"), col("label").as("neg_label"),
          col("cosine").as("neg_cosine"), col("pos_cosine"),
          round(col("cosine") - col("pos_cosine"), 6).as("margin"),
          // no positive ⇒ nothing to violate: coalesce keeps the flag
          // a NON-NULL boolean (nullable booleans stringify
          // differently across engine→pandas paths and would misalign
          // the driver's row sort; the nullable DOUBLEs are safe —
          // both engines land on NaN)
          coalesce(col("cosine") >= col("pos_cosine"), lit(false))
            .as("is_violation"))
    },

    // GRAPH-BASED ANN — beam search over the s47 kNN graph, the
    // navigable-graph family (NSW/HNSW's flat tier) beside the
    // IVF/LSH/PQ index variants already in the registry. Each query
    // starts at its OWN node's out-edges (queries are corpus members,
    // the s33 posture), then runs two fixed expansion supersteps:
    // keep the beam (top-4 visited by exact rounded cosine, id
    // tie-break), walk the beam's out-edges, score only the
    // NOT-YET-VISITED arrivals (anti-join, so no pair is ever scored
    // twice), union into the visited set. Final answer = top-5
    // visited. Everything is bounded and keyed: per query per hop the
    // frontier is ≤ beam × out-degree (4 × 3) rows, the edge walk is
    // an equi-join on the source node id, the beam is a per-qid window
    // over ≤ a few dozen rows, and the scoring join fetches vectors by
    // node id — at 100 TB a graph search touches O(hops × beam ×
    // degree) nodes per query while the graph table shuffles only by
    // node id, never pairwise. Fixed hop count keeps the whole walk
    // one lazy Catalyst plan (and lets the oracle unroll the identical
    // two hops as chained CTEs); recall vs the s33 exact ground truth
    // is asserted in SimilaritySpec. The edge table is persisted at a
    // documented reuse point (three hops read it; released by
    // SparkEntry.release — the d28 discipline).
    "s71_graph_ann" -> { (s, d) =>
      val edges = graft.Blocks.persist(queries("s47_knn_graph")(s, d)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
      flatWalk(s, d, edges)
    },

    // GRAPH-ANN OVER THE NN-DESCENT GRAPH — the end-to-end closure of
    // the navigable-graph family: s71 proved the beam SEARCH scales
    // (StressBench: flat at 10× corpus) but walked edges built by
    // s47's quadratic cell join; s72 proved the BUILD scales
    // (near-linear at 10× corpus) — this query is the two composed,
    // the same [[flatWalk]] (shared code, shared knobs) over s72's
    // out-degree-K graph. Recall@3 vs brute force: 0.933 at sf0.001
    // (matching s71's, floor-asserted in QueriesSpec); 0.667 at sf0.1,
    // where the walk honestly inherits the s72 graph's 0.61 edge
    // recall on the structureless corpus — the documented trade of the
    // scalable build, bought back with more NN-descent rounds / larger
    // K (s72's knobs), not by reverting to the quadratic join. The
    // oracle is the shared walk generator over s72's SQL verbatim
    // (the s45/s71 composed-SQL discipline).
    "s73_graph_ann_nndescent" -> { (s, d) =>
      // serve over the memoized layer-0 index (build-on-miss): the
      // search query pays the walk, not a rebuild of the same fixed
      // point s72 just built (VERDICT r18 item 1a). The edge table is
      // already checkpoint-resident — no per-query persist needed.
      flatWalk(s, d, nndescentEdges(s, d).select(col("src"), col("dst")))
    },

    // IVF-style ANN: a fixed coarse quantizer (vectors 0..15 as cell
    // centroids — stands in for trained centroids), every vector
    // assigned to its nearest cell, queries search ONLY their own cell
    // (nprobe=1). Fully deterministic → unlike seeded LSH this scale
    // path is DuckDB-oracle-checked end to end. At 100 TB: centroids
    // broadcast, assignment is a map-only pass, search shuffles once on
    // cell id.
    // BUILD row of the s37p probe tier (r21): rebuilds the cell-
    // restricted probe unconditionally; s45/s48 serve its result.
    "s37_ivf_ann" -> { (s, d) => ivfProbeIndex(s, d, rebuild = true) },

    // IVF with TRAINED centroids and nprobe=2 — the production shape
    // of s37: a seeded k-means coarse quantizer (fit on a bounded
    // sample), corpus vectors assigned to their single nearest cell,
    // queries probing their 2 nearest cells. The fitted centroids are
    // rounded and enter the plan as literals, so unlike most trained
    // models this stays DuckDB-oracle-checkable end to end. At 100 TB:
    // centroids broadcast, assignment map-only, one shuffle on cell id;
    // nprobe trades recall for the number of cells scanned.
    // BUILD row of the s40p probe tier (r21): rebuilds the trained-
    // quantizer nprobe=2 search unconditionally; s48 serves.
    "s40_ivf_trained" -> { (s, d) => trainedProbeIndex(s, d, rebuild = true) },

    // EMBEDDING-TABLE QA SCREEN — the validation a vector pipeline
    // runs BEFORE building any index: per label, the vector count,
    // how many vectors are degenerate (zero norm — cosine is undefined
    // for them and they poison centroid training) or mis-dimensioned
    // (ragged arrays from an upstream writer bug), and the norm
    // envelope (min/avg/max). A shifted norm envelope is the cheapest
    // embedding-model-drift alarm there is. MAP-ONLY per row (one
    // aggregate() fold for the norm, a size() for the dim) into a
    // per-label partial agg — no joins, no windows; at 100 TB this is
    // one scan. The expected dim is the corpus-wide max — a constant
    // broadcast from a 1-row aggregate, not a literal, so the screen
    // adapts to any corpus.
    "s55_embedding_qa" -> { (s, d) =>
      val base = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("dim", size(col("emb")))
        .withColumn("norm", round(sqrt(expr(
          "aggregate(emb, 0D, (a, x) -> a + x * x)")), 6))
      val expected = base.agg(max(col("dim")).as("exp_dim"))
      base.crossJoin(broadcast(expected))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("norm") === 0.0d, 1L).otherwise(0L))
            .as("n_zero_norm"),
          sum(when(col("dim") =!= col("exp_dim"), 1L).otherwise(0L))
            .as("n_bad_dim"),
          min(col("norm")).as("min_norm"),
          round(avg(col("norm")), 4).as("avg_norm"),
          max(col("norm")).as("max_norm"))
    },

    // K-MEANS ELBOW / QUANTIZER-CAPACITY SWEEP — the tuning curve run
    // BEFORE committing to a coarse quantizer size: seeded k-means at
    // k ∈ {4, 8, 16}, and per k the L2 inertia (the k-means objective)
    // plus the heaviest cell and cells actually used — inertia says
    // when more cells stop paying, the balance columns say whether the
    // cells are usable (a 90%-share cell makes nprobe=1 a full scan;
    // s49's diagnostic, here across capacities). Each arm is MAP-ONLY
    // to the final 16-row aggregate: centroids are driver literals, the
    // per-vector argmin folds over a transform() array via array_min on
    // (rounded d2, cid) structs — no per-centroid explode, no window,
    // no shuffle before the per-cell partial agg. Rounding discipline:
    // d2 rounds to 6 dp before the argmin (the s40 cosine contract) so
    // both engines pick identical cells; per-cell sums round once at 4.
    "s54_kmeans_elbow" -> { (s, d) =>
      val e = emb(s, d)
      Seq(4, 8, 16).map { k =>
        val cents = kmeansCentroids(s, d, k)
        val cArr = array(cents.zipWithIndex.map { case (c, i) =>
          struct(array(c.map(lit(_)): _*).as("cemb"), lit(i).as("cid"))
        }: _*)
        e.select(col("vec_id"), col("emb"))
          .withColumn("cs", cArr)
          .withColumn("best", array_min(expr(
            "transform(cs, c -> struct(" +
              "round(aggregate(zip_with(emb, c.cemb, " +
              "(x, y) -> (x-y)*(x-y)), 0D, (a, x) -> a + x), 6) AS d2, " +
              "c.cid AS cid))")))
          .groupBy(col("best.cid").as("cid"))
          .agg(count(lit(1)).as("n"), sum(col("best.d2")).as("sd2"))
          .agg(round(sum(col("sd2")), 4).as("inertia"),
            max(col("n")).as("max_cell_n"),
            count(lit(1)).as("n_cells_used"))
          .select(lit(k).as("k"), col("inertia"), col("max_cell_n"),
            col("n_cells_used"))
      }.reduce(_ unionByName _)
    },

    // Product-quantized ANN search: corpus stored as 16 4-bit codes per
    // vector (32× smaller than the raw floats — at 100 TB the scan
    // itself shrinks 32×), queries stay uncompressed and rank by
    // ASYMMETRIC distance: per subspace, exact squared distance from
    // the query slice to the centroid named by the code, summed across
    // subspaces. Codebooks are trained driver-side on a bounded sample
    // (seeded Lloyd's, partition-independent) and enter both engines'
    // plans as literals — like s40, a trained model that stays
    // hash-checked. Top-5 served by the native bounded-heap exec.
    "s41_pq_adc" -> { (s, d) =>
      val pq = pqModel(s, d, 16)
      val e = emb(s, d)
      val codes = pq.encode(e).select(col("vec_id"), col("pq_code"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      // ADC via the native codegen'd PqAdcDistance expression — one
      // fused loop, bitwise-identical accumulation to the HOF/oracle
      // rendering (parity asserted in VectorFunctionsSpec)
      val searched = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("adc",
          round(pq.adcNative(col("pq_code"), col("qemb")), 6))
        .select(col("qid"), col("vec_id"), col("adc"))
      graft.operators.TopKPerKeyApi.topKPerKey(searched, Seq("qid"),
        Seq(("adc", true), ("vec_id", true)), 5)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
          col("adc"))
    },

    // IVF-PQ — the production ANN pipeline (the FAISS IndexIVFPQ
    // shape): the trained coarse quantizer prunes the corpus to the
    // query's 2 probe cells, then PQ codes rank the survivors by
    // asymmetric distance through the native codegen'd expression.
    // At 100 TB: cells cut the scan to nprobe/k of the corpus AND the
    // scanned rows are 8-byte codes, so the two quantizers multiply —
    // ~1/4 of the rows at 1/32 of the bytes here. Both models enter the
    // plans as literals, so the whole pipeline stays hash-checked.
    // BUILD row of the s42p probe tier (r21): rebuilds the IVF-PQ ADC
    // search unconditionally; s48 serves.
    "s42_ivfpq_ann" -> { (s, d) => pqProbeIndex(s, d, rebuild = true) },

    // IVF-PQ with RESIDUAL encoding — the refinement FAISS's
    // IndexIVFPQ applies over s42: PQ codes encode (vector − home-cell
    // centroid) instead of the raw vector, and each query is likewise
    // re-expressed relative to every probed cell's centroid before the
    // ADC lookup. The residual domain is much tighter than the raw
    // domain, so the same 16×16 codebooks quantize finer — higher
    // recall at IDENTICAL storage and scan cost (same 8-byte codes,
    // same broadcast, same single shuffle on cell id). Both trained
    // models (centroids + residual codebooks) enter both engines'
    // plans as rounded literals — still end-to-end hash-checked.
    // BUILD row of the s43p probe tier (r21): rebuilds the residual
    // IVF-PQ search unconditionally; s48 serves.
    "s43_ivfpq_residual" -> { (s, d) => residProbeIndex(s, d, rebuild = true) },

    // L2 vector normalization (unit vectors), flat output — the
    // preprocessing step that turns cosine search into dot-product
    // search.
    "s38_vector_normalize" -> { (s, d) =>
      val e = emb(s, d)
      e.withColumn("norm",
          sqrt(aggregate(zip_with(col("emb"), col("emb"), (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v)))
        .select(col("vec_id"), col("norm"),
          posexplode(col("emb")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          round(col("v") / col("norm"), 6).as("nval"))
    },

    // Scalar (int8) quantization: the 4× storage-compression path for
    // embedding columns at scale. Measures the cosine error the
    // compression costs on candidate pairs — pairs sharing an IVF cell
    // (the same deterministic assignment s37 searches with), NOT the
    // all-pairs cross product: the join key is the cell id, so the
    // shuffle partitions by cell and the pair space is per-cell local.
    // This is the shape that survives 100×; the error statistic it
    // measures is exactly the one a quantized IVF search would incur.
    "s39_scalar_quantization" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val quant = (c: org.apache.spark.sql.Column) =>
        transform(c, x => round(x * 127.0, 0) / 127.0)
      val a = cell.select(col("vec_id").as("ia"), col("emb").as("ea"),
        col("cid"))
      val b = cell.select(col("vec_id").as("ib"), col("emb").as("eb"),
        col("cid").as("cidb"))
      a.join(b, col("cid") === col("cidb") && col("ia") < col("ib"))
        .withColumn("cos_exact", cos(col("ea"), col("eb")))
        .filter(col("cos_exact") >= 0.4)
        .withColumn("cos_quant", cos(quant(col("ea")), quant(col("eb"))))
        .select(col("ia"), col("ib"),
          round(col("cos_exact"), 4).as("cos_exact"),
          round(col("cos_quant"), 4).as("cos_quant"),
          round(abs(col("cos_exact") - col("cos_quant")), 4).as("quant_err"))
    },

    // Per-label centroids: the vector-aggregation shape (mean embedding
    // per class), flat (label, dim, value) output for verifiability.
    "s36_label_centroids" -> { (s, d) =>
      emb(s, d)
        .select(col("label"), posexplode(col("emb")).as(Seq("dim", "value")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(round(avg(col("value")), 6).as("centroid"),
          count(lit(1)).as("n"))
    },

    // MIPS — maximum-INNER-PRODUCT top-k, the recommender/retrieval
    // scoring the cosine family deliberately cannot express (cosine
    // normalizes away exactly the norm signal a trained factorization
    // puts into popular items). Scoring runs through the native
    // codegen'd DotProduct expression (one fused loop, no intermediate
    // array), queries broadcast against one corpus scan — map-only —
    // and top-5 lands in the native bounded-heap exec. The output also
    // carries the norm-augmentation reduction (Bachrach et al. 2014:
    // x → [x, √(M²−‖x‖²)] turns MIP order into cosine order): aug_cos
    // = ip / (‖q‖·M) re-ranked within the top-k, with a rank_match
    // column PROVING the reduction is order-preserving — the audit
    // that licenses serving MIPS through any cosine-only ANN index
    // (s35/s37) after the augmentation. M is a 1-row global agg,
    // broadcast; at 100 TB nothing here shuffles except the top-k's
    // per-query heap merge.
    "s60_mips_topk" -> { (s, d) =>
      val dot = VectorFunctions.dotProduct _
      val e = emb(s, d)
      val mx = e.agg(sqrt(max(dot(col("emb"), col("emb")))).as("mnorm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          sqrt(dot(col("emb"), col("emb"))).as("qnorm"))
      val cand = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .crossJoin(broadcast(mx))
        .withColumn("ipr", dot(col("qemb"), col("emb")))
        .select(col("qid"), col("vec_id"),
          round(col("ipr"), 6).as("ip"),
          round(col("ipr") / (col("qnorm") * col("mnorm")), 6).as("aug_cos"))
      val top = graft.operators.TopKPerKeyApi.topKPerKey(cand, Seq("qid"),
        Seq(("ip", false), ("vec_id", true)), 5)
      val wAug = Window.partitionBy(col("qid"))
        .orderBy(col("aug_cos").desc, col("vec_id").asc)
      top.withColumn("aug_rnk", row_number().over(wAug))
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
          col("ip"), col("aug_cos"),
          (col("rnk") === col("aug_rnk")).as("rank_match"))
    },

    // MMR DIVERSIFIED RE-RANK (Carbonell & Goldstein 1998) — the
    // post-retrieval stage every RAG/search stack runs: from each
    // query's top-8 relevance candidates, greedily pick 3 maximizing
    // λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.7), so
    // near-duplicate neighbors don't crowd the slate. The greedy
    // recurrence is unrolled into 3 deterministic dataflow steps (the
    // q98 discipline — no driver loop): each step is a qid-equi-join
    // of the ≤8-row-per-query candidate slate against the previous
    // picks plus one arg-max window. Score arithmetic is INTEGER-exact:
    // the 6-dp-rounded cosines become int64 micro-units and the MMR
    // score is 7·rel_u − 3·sim_u (λ=0.7 scaled by 10), divided by 1e7
    // only at display — a double-rounding of the float combination sat
    // exactly on a round-half boundary in early testing, and integer
    // scores make the argmax (and the oracle replay) bit-exact by
    // construction. At 100 TB the candidate slate is the BOUNDED output
    // of the ANN stage (k per query), so every step is linear in
    // #queries — the pairwise MMR work is k² per query by construction,
    // never corpus-quadratic.
    "s61_mmr_diversify" -> { (s, d) =>
      val e = emb(s, d)
      def u(c: org.apache.spark.sql.Column) = round(c * 1e6d).cast("long")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("rel", round(cos(col("qemb"), col("emb")), 6))
        .select(col("qid"), col("vec_id"), col("rel"), col("emb"))
      val cand = graft.operators.TopKPerKeyApi.topKPerKey(scored, Seq("qid"),
        Seq(("rel", false), ("vec_id", true)), 8)
      val s1 = cand.filter(col("rnk") === 1)
        .select(col("qid"), col("vec_id").as("v1"), col("rel").as("rel1"),
          col("emb").as("e1"))
      val c2 = cand.filter(col("rnk") > 1)
        .join(broadcast(s1), "qid")
        .withColumn("score_u", lit(7L) * u(col("rel")) -
          lit(3L) * u(round(cos(col("emb"), col("e1")), 6)))
      val wPick = Window.partitionBy(col("qid"))
        .orderBy(col("score_u").desc, col("vec_id").asc)
      val s2 = c2.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("v2"),
          col("rel").as("rel2"), col("score_u").as("score2_u"),
          col("emb").as("e2"))
      val c3 = cand.join(broadcast(s1), "qid")
        .join(broadcast(s2.select(col("qid"), col("v2"), col("e2"))), "qid")
        .filter(col("vec_id") =!= col("v1") && col("vec_id") =!= col("v2"))
        .withColumn("score_u", lit(7L) * u(col("rel")) - lit(3L) * greatest(
          u(round(cos(col("emb"), col("e1")), 6)),
          u(round(cos(col("emb"), col("e2")), 6))))
      val s3 = c3.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("v3"),
          col("rel").as("rel3"), col("score_u").as("score3_u"))
      s1.select(col("qid"), lit(1L).as("step"), col("v1").as("picked_id"),
          col("rel1").as("rel"), col("rel1").as("mmr_score"))
        .unionAll(s2.select(col("qid"), lit(2L).as("step"),
          col("v2").as("picked_id"), col("rel2").as("rel"),
          (col("score2_u") / 1e7d).as("mmr_score")))
        .unionAll(s3.select(col("qid"), lit(3L).as("step"),
          col("v3").as("picked_id"), col("rel3").as("rel"),
          (col("score3_u") / 1e7d).as("mmr_score")))
    },

    // MULTI-PROBE LSH — the recall lever that does NOT cost more hash
    // tables (Lv et al. 2007): the probe side of s35's sign-LSH
    // self-join additionally visits the 4 single-bit-flip neighbor
    // buckets per table, so near-miss pairs separated by one
    // hyperplane are recovered. Two arms — probe_bits 0 (s35's exact
    // buckets) and 1 (plus Hamming-1 probes) — each reporting
    // candidate volume, confirmed ≥0.4 pairs, and the confirm yield:
    // the operating table that says what the extra probes buy and
    // what they cost. The probe expansion is a bounded ×5 explode of
    // the KEYED stream (never the corpus²); the join stays a (table,
    // bucket) equi-join, so the shuffle partitions by bucket exactly
    // as s35's does and the arm never materializes a cross product.
    "s63_multiprobe_lsh" -> { (s, d) =>
      val nTables = 6
      val planesPerTable = 4
      val planes = s35Planes
      val e = graft.Blocks.persist(emb(s, d))
      val tableBuckets = (0 until nTables).map { tb =>
        val bucket = (0 until planesPerTable).map { p =>
          val proj = aggregate(
            zip_with(col("emb"), typedlit(planes(tb)(p).toSeq), (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v)
          when(proj >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ bitwiseOR _)
        struct(lit(tb).as("tbl"), bucket.as("bucket"))
      }
      // feeds both arms' probe and corpus sides — persist the keyed
      // stream once; released by SparkEntry.release()
      val keyed = graft.Blocks.persist(
        e.withColumn("tb", explode(array(tableBuckets: _*)))
        .select(col("vec_id"), col("tb.tbl").as("tbl"),
          col("tb.bucket").as("bucket")))
      val va = e.select(col("vec_id").as("ia"), col("emb").as("ea"))
      val vb = e.select(col("vec_id").as("ib"), col("emb").as("eb"))
      Seq(0, 1).map { probeBits =>
        val masks = if (probeBits == 0) Seq(0) else Seq(0, 1, 2, 4, 8)
        val probe = keyed.withColumn("pbucket",
            explode(array(masks.map(m =>
              col("bucket").bitwiseXOR(lit(m))): _*)))
          .select(col("vec_id").as("ia"), col("tbl").as("ptbl"),
            col("pbucket"))
        val cands = probe.join(
            keyed.select(col("vec_id").as("ib"), col("tbl"), col("bucket")),
            col("ptbl") === col("tbl") && col("pbucket") === col("bucket") &&
              col("ia") < col("ib"))
          .select(col("ia"), col("ib")).distinct()
        cands.join(va, "ia").join(vb, "ib")
          .withColumn("conf",
            when(cos(col("ea"), col("eb")) >= 0.4, 1L).otherwise(0L))
          .agg(count(lit(1)).as("n_candidate_pairs"),
            sum(col("conf")).as("n_confirmed"))
          .select(lit(probeBits.toLong).as("probe_bits"),
            col("n_candidate_pairs"), col("n_confirmed"),
            round(col("n_confirmed") / col("n_candidate_pairs"), 4)
              .as("confirm_yield"))
      }.reduce(_.unionAll(_))
    },

    // PQ CODE-BUDGET SWEEP — the sizing sheet behind s41/s59's fixed
    // m=16 choice: the same bounded-sample PQ recipe fitted at
    // m ∈ {2, 4, 8} subspaces (1/2/4 bytes per vector at k=16), each
    // arm scoring its full-vector reconstruction error over the
    // corpus. Per-vector error is the FIXED left-to-right sum of the
    // per-subspace min-distances, so the oracle replays it as the same
    // parenthesized addition chain over codebook VALUES literals (the
    // s59 discipline, swept). Each arm is one map-only pass (codebooks
    // are broadcast literals) + a 1-row agg; the three arms union.
    // This is the table a platform team reads before committing a
    // 100 TB index to a byte budget.
    "s62_pq_budget_sweep" -> { (s, d) =>
      val e = emb(s, d)
      pqSweepMs.map { m =>
        val pq = pqModel(s, d, m)
        val dmins = (0 until pq.m).map { j =>
          val cb = typedlit(pq.codebooks(j).map(_.toSeq).toSeq)
          val sub = slice(col("emb"), j * pq.dsub + 1, pq.dsub)
          array_min(transform(cb, c =>
            aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
              lit(0.0), (a, v) => a + v)))
        }
        e.select(dmins.reduce(_ + _).as("sqerr"))
          .agg(count(lit(1)).as("n_vectors"),
            round(avg(col("sqerr")), 6).as("mse"),
            round(max(col("sqerr")), 6).as("max_sqerr"))
          .select(lit(m.toLong).as("m"), lit(pq.dsub.toLong).as("dsub"),
            lit(pq.bytesPerVector).as("bytes_per_vector"),
            col("n_vectors"), col("mse"), col("max_sqerr"))
      }.reduce(_.unionAll(_))
    },

    // SCALAR QUANTIZATION (SQ8) DISTORTION AUDIT — the third point on
    // the index compression curve beside full floats and PQ (s59/s62),
    // and the DATA-ADAPTIVE codec s39's fixed 1/127 grid is not:
    // quantize every dimension to an 8-bit code against GLOBAL per-dim
    // [min, max] ranges and measure per-dim reconstruction error. This
    // is the FAISS-style SQ8 storage arm (4 B → 1 B per dim) whose
    // distortion-vs-budget numbers sit between raw vectors and PQ's
    // 0.125 B/dim, and the per-dim table shows WHICH dimensions lose
    // resolution (wide ranges → coarse steps). Determinism: the range
    // table is an exact min/max aggregate (no FP summation); code =
    // min(255, floor((v−min)·256/(max−min))) — 256 uniform buckets,
    // mid-bucket reconstruction, so |err| ≤ range/512 by construction
    // (the bound the spec asserts) — is the identical double expression
    // in both engines (floor of identical doubles); errors quantize to
    // integer micro-units so the per-dim SSE is an order-free BIGINT
    // sum. Plan: one posexplode scan → 64-row range aggregate broadcast
    // back → map-side encode → (dim) partial agg. At corpus scale the
    // range table is still 64 rows and the encode never shuffles the
    // vectors — the same two-pass shape a real SQ8 index build runs.
    "s64_sq8_quant" -> { (s, d) =>
      sq8Enc(s, d)
        .withColumn("eu",
          expr("CAST(round((v - recon) * 1000000) AS BIGINT)"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n_vals"),
          max(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
          countDistinct(col("code")).as("n_codes"),
          sum(col("eu") * col("eu")).as("sse_u"),
          max(abs(col("eu"))).as("max_abs_eu"))
    },

    // SQ8 SEARCH RECALL — does the 4× cheaper storage arm still FIND
    // the right neighbors? Asymmetric-distance search (full-precision
    // queries against the SQ8-reconstructed corpus — the FAISS ADC
    // convention, same as s41's PQ-ADC) compared against the exact
    // brute-force top-10 per query: recall@10 closes the loop s64's
    // distortion table opens, and pairs with s48's recall matrix as
    // the scalar-codec arm. Both arms share the s33 shape — the 10
    // queries broadcast, corpus scored map-side, top-10 through the
    // NATIVE bounded-heap operator (no per-query sort). The corpus
    // reconstruction reuses the SAME sq8Enc codec as s64 (no drift
    // possible), rebuilt into dim-ordered arrays via array_sort so the
    // fused cosine loop runs left-to-right identically in both engines.
    // BUILD row of the s65r recall tier (r21, served by s69); the
    // exact arm serves the gt10 ground-truth tier (s33 builds) — the
    // TopKPerKey exact ranking it replaced used the same rounded-
    // cosine + vec_id order, so the served rows are identical.
    "s65_sq8_recall" -> { (s, d) => sq8RecallIndex(s, d, rebuild = true) },

    // BINARY QUANTIZATION (1 bit/dim) — the fourth and cheapest point
    // on the compression curve (floats 4 B/dim → SQ8 1 B/dim → PQ
    // 0.125 B/dim → sign bits 1/32 B/dim): each dimension collapses to
    // one bit ("above this dim's corpus mean?"), the 64-dim vector to
    // TWO 32-bit halves packed in BIGINTs (one 64-bit word would need
    // bit 63 = the sign bit; two halves keep every shift in signed
    // range in BOTH engines). The threshold is the per-dim MEAN so the
    // bits are balanced — computed in integer micro-units (order-free
    // BIGINT sum) and compared as the exact rational n·v_u > sum_u, so
    // no FP mean ever enters the plan. Plan: one posexplode scan → a
    // 64-row threshold aggregate broadcast back → map-side pack into a
    // (vec_id) partial agg. At corpus scale this is the same two-pass
    // shape as s64's SQ8 build, and the output table is 16 bytes/vector
    // — the artifact a Hamming-distance ANN stage (s67) scans.
    "s66_binary_quant" -> { (s, d) =>
      binCodes(s, d)
        .withColumn("n_bits_set",
          expr("CAST(bit_count(code_lo) + bit_count(code_hi) AS BIGINT)"))
        .select(col("vec_id"), col("code_lo"), col("code_hi"),
          col("n_bits_set"))
    },

    // BINARY HAMMING RECALL — does 1 bit/dim still FIND the right
    // neighbors? Symmetric Hamming search (queries and corpus both
    // sign-quantized, distance = popcount of the XOR — the integer
    // kernel real binary indexes ship because it is 2 machine
    // instructions per 64 dims) against the exact brute-force cosine
    // top-10: recall@10 per query, the s65/s48 eval discipline applied
    // to the cheapest codec. Hamming distances are small integers —
    // no rounding discipline needed, the (ham ASC, vec_id ASC) order
    // is exact in both engines. Both arms broadcast the 10 queries,
    // score map-side, and rank through the NATIVE bounded-heap
    // operator; the codes table is rebuilt from the shared binCodes
    // codec so s66/s67 cannot drift apart.
    // BUILD row of the s67r recall tier (r21, served by s69); the
    // exact arm serves gt10 (same rounded-cosine + vec_id order as
    // the TopKPerKey ranking it replaced — identical rows).
    "s67_hamming_recall" -> { (s, d) =>
      hammingRecallIndex(s, d, rebuild = true) },

    // RECALL@K CURVE — the third axis of the index-eval suite: s53
    // sweeps nprobe, s48 sweeps the index VARIANT, this sweeps the
    // RESULT DEPTH k ∈ {1, 3, 5, 10} for the deterministic IVF (s37's
    // cell restriction) against the exact arm — the curve that says
    // whether an index that looks fine at k=1 starves a k=10 consumer
    // (cells hold fewer good candidates than the caller asks for).
    // Both arms rank ONCE to depth 10 (broadcast queries, map-side
    // scoring, the s33/s37 rounded-cosine + vec_id order) and every
    // prefix is read off the same two ranked lists — four k's cost no
    // extra corpus passes; everything after the two rankings runs on
    // ≤ 100 matched rows crossed with a 4-row k table.
    "s68_recall_at_k" -> { (s, d) =>
      val cell = cellAssign(s, d)
      val q = cell.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("cid").as("qcell"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
      // served (r21; s33 is the build row) — gt10 IS this arm's
      // derivation (same rounded-cosine + vec_id window, depth 10)
      val exact = gt10Index(s, d)
        .select(col("qid"), col("neighbor_id").as("vec_id"),
          col("rnk").as("re"))
      val approx = cell
        .join(broadcast(q),
          col("cid") === col("qcell") && col("vec_id") =!= col("qid"))
        .withColumn("cosine", round(cos(col("qemb"), col("emb")), 6))
        .withColumn("ra", row_number().over(w))
        .filter(col("ra") <= 10)
        .select(col("qid").as("aqid"), col("vec_id").as("avid"), col("ra"))
      val matched = exact.join(approx,
        col("qid") === col("aqid") && col("vec_id") === col("avid"))
        .select(col("qid"), col("re"), col("ra"))
      val ks = s.sql(
        "SELECT CAST(k AS BIGINT) AS k FROM VALUES (1),(3),(5),(10) AS t(k)")
      val hits = matched.crossJoin(broadcast(ks))
        .filter(col("re") <= col("k") && col("ra") <= col("k"))
        .groupBy(col("k"), col("qid")).agg(count(lit(1)).as("n"))
      q.select(col("qid")).crossJoin(broadcast(ks))
        .join(hits, Seq("k", "qid"), "left")
        .select(col("k"), col("qid"),
          coalesce(col("n"), lit(0L)).as("n_hits"),
          round(coalesce(col("n"), lit(0L)) / col("k"), 4).as("recall"))
    },

    // CODEC STORAGE/RECALL FRONTIER — the capstone sizing sheet that
    // joins the compression family into ONE table: bytes per vector
    // vs mean recall@10 for full floats (256 B, 1.0 by definition —
    // the exact arm against itself), SQ8 (64 B, s65's audit), and
    // sign bits (8 B, s67's). The decision "can we afford 4×/32×
    // cheaper storage" is read straight off this curve. Each codec
    // row AGGREGATES the corresponding registry twin (shared query
    // code on the Spark side, shared oracle SQL wrapped as a subquery
    // on the DuckDB side — the s45 composition discipline), and the
    // mean is Σ n_hits / (10·n) — an exact-integer quotient, no FP
    // mean of rounded recalls.
    "s69_codec_frontier" -> { (s, d) =>
      def frontierRow(codec: String, bytes: Long, rec: DataFrame) =
        rec.agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("total_hits"))
          .select(lit(codec).as("codec"),
            lit(bytes).as("bytes_per_vector"),
            col("n_queries"), col("total_hits"),
            round(col("total_hits")
              / (lit(10L) * col("n_queries")).cast("double"), 4)
              .as("mean_recall_at_10"))
      val full = s.sql(
        "SELECT CAST('float32' AS STRING) AS codec, " +
          "CAST(256 AS BIGINT) AS bytes_per_vector, " +
          "CAST(10 AS BIGINT) AS n_queries, " +
          "CAST(100 AS BIGINT) AS total_hits, " +
          "CAST(1.0 AS DOUBLE) AS mean_recall_at_10")
      full
        // served (r21; s65/s67 are the recall tiers' build rows) —
        // the frontier aggregates the published per-query recall
        // tables instead of re-running both codec evals wholesale
        .unionByName(frontierRow("sq8", 64L, sq8RecallIndex(s, d)))
        .unionByName(frontierRow("binary", 8L, hammingRecallIndex(s, d)))
    },

    // NN-DESCENT kNN-GRAPH BUILD — the construction path that scales
    // where s47's cell-mate join cannot: s47 bounds candidates to IVF
    // cell-mates, O(Σ cell²) with a FIXED 16-cell quantizer, i.e.
    // quadratic in corpus at 1B vectors. NN-descent (Dong et al.,
    // WWW'11) instead refines an O(n)-cost initial graph through
    // bounded neighbor-of-neighbor supersteps: per round, every node's
    // candidate set is the pairs of its UNDIRECTED adjacency (forward
    // + reverse edges, ≤ 2K members), so each superstep generates at
    // most 2K·(2K−1) candidates per node — O(n·K²) scored pairs per
    // round at ANY corpus size, shuffled only on node id, never
    // pairwise and never cell². The loop is [[graft.operators
    // .GraphRank]]'s d37 discipline verbatim: a fixed iteration count
    // (so the DuckDB oracle unrolls the identical supersteps as
    // chained CTEs), eager localCheckpoint per round to truncate
    // lineage, superseded generations released in-loop.
    //
    // Determinism end to end: the init graph is a SEEDLESS HASH MIX —
    // dst = (src·1103515245 + 12345 + j·2654435761) mod n, j ∈ 1..K
    // (glibc LCG × Knuth multiplier — the reproducible stand-in for
    // the literature's random init; a RING init is provably wrong
    // here: it builds a 1-D lattice whose neighbor-of-neighbor
    // expansion only ever reaches ±K·iters ids, measured recall 0.03.
    // All products stay under 2⁶³ up to ~8×10⁹ vectors). n enters the
    // plan via a broadcast scalar (the d35 posture), every score is
    // the exact 6-dp rounded cosine, every top-K runs the NATIVE
    // bounded-heap TopKPerKey on (cosine DESC, id ASC) — the total
    // order the oracle's row_number replays — and candidate/edge dedup
    // is a distinct on exact values. Candidates are generated in BOTH
    // directions (a.dst ≠ b.dst, not <) so one scoring join covers the
    // symmetric pair and neither engine needs a mirror-union of a
    // recomputed branch. Production refinements (new/old incremental
    // flags, sampling ρ) drop candidate volume by constants; the
    // superstep SHAPE — the thing that had to replace s47's join — is
    // this one. SimilaritySpec asserts the convergence contract:
    // recall@3 vs the exact all-pairs ground truth ≥ 0.80 at sf0.001
    // (measured 0.875; 0.613 at sf0.1 — these synthetic embeddings
    // are label-structureless, i.e. NN-descent's hardest regime) and
    // ≥ 10× the init graph's, and StressBench's nndescent_build row
    // pins the near-linear build slope at 10× corpus against s47's
    // quadratic cell join.
    "s72_nndescent_knn_graph" -> { (s, d) =>
      // this query IS the index build: it always rebuilds (never
      // reports a memo hit — its bench row keeps measuring the build),
      // and the rebuild refreshes what s73/s74 serve
      val g = nndescentEdges(s, d, rebuild = true)
      // final ranks: ≤ K rows per src — the only acceptable use of a
      // bounded per-key window (the s44 posture)
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst").asc)
      g.withColumn("rnk", row_number().over(w))
        .select(col("src").as("vec_id"), col("rnk"),
          col("dst").as("neighbor_id"), col("cosine"))
    },

    // HNSW-STYLE ENTRY-TIER SEARCH — the multi-layer refinement of
    // s73's flat walk (Malkov & Yashunin 2018): a sparse UPPER layer
    // (every 8th node — the deterministic stand-in for HNSW's
    // exponential level assignment; layer ids are vec_id/8, contiguous
    // by construction so the NN-descent init mix applies unchanged)
    // gets its own NN-descent kNN graph, every query first walks THAT
    // graph from the single global entry node (rid 0 — HNSW's
    // top-level entry) to elect its top-BEAM entry points, and only
    // then runs a DEEPER layer-0 beam walk (hnswDescentHops) seeded
    // from the entries' out-edges instead of the query's own. That
    // seeding is the capability the flat tier lacks: s71/s73 assume
    // the query IS a corpus member with known edges — an entry tier is
    // what serves a NOVEL query at 100 TB, and the upper walk costs
    // O(hops × beam × degree) over a graph 1/8 the size (1/64 the
    // edges). Both graphs build via the shared [[nndescentGraph]]
    // supersteps and both walks are [[GraphWalk.entrySearch]]; the
    // oracle composes the same generator twice (prefixed CTE chains)
    // plus both walks unrolled. Self-matches are
    // excluded (an entry-seeded walk can reach the query's own node;
    // its cosine-1.0 row would be a degenerate answer).
    //
    // HONEST RECALL CHARACTERIZATION (all configs measured before
    // pinning): 0.467 at sf0.001 / 0.400 at sf0.1 — and that is the
    // CORPUS, not the machinery: these embeddings are uniform-random,
    // and greedy graph navigation provably degrades without local
    // structure to route through (single-entry/2-hop read 0.23; wider
    // beams and deeper walks all plateau ≤ 0.47 here). On vectors with
    // real neighborhood structure the SAME search reads recall 0.9 on
    // QueriesSpec's 2000 hash vectors and 1.0 on StressBench's 10k
    // (hnsw_entry row), both gated ≥ 0.7. The flat
    // tier (s73, own-node seeding) remains the corpus-member serving
    // path at 0.933; this tier is what answers queries that are NOT
    // corpus members. QueriesSpec floors the corpus recall at 0.35.
    "s74_hnsw_entry_search" -> { (s, d) => hnswEntrySearch(s, d) }
  )

  /** s74's whole search — [[GraphWalk.entrySearch]] over the corpus
    * embeddings and both served NN-descent layers — parameterized over
    * the layer-0 descent depth so the hop plateau can be RE-MEASURED
    * (not re-estimated) whenever the corpus or the graph build changes;
    * the registry query and the oracle both pin [[hnswDescentHops]]. */
  private[graft] def hnswEntrySearch(s: SparkSession, d: String,
      descentHops: Int = hnswDescentHops): DataFrame = {
      val e = emb(s, d).select(col("vec_id"), col("emb"))
      val e1 = entryLayer(e)
      // both layers serve from the memoized indexes (build-on-miss,
      // VERDICT r18 item 1a — the r18 shape rebuilt BOTH fixed points
      // on every invocation, 2 of the pass's 4 redundant builds); the
      // checkpointed edge tables are block-resident, no persist needed
      val edges0 = nndescentEdges(s, d).select(col("src"), col("dst"))
      val edges1 = nndescentEdges1(s, d).select(col("src"), col("dst"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val nodes1 = e1.select(col("vec_id").as("nid"), col("emb").as("nemb"))
      val nodes0 = e.select(col("vec_id").as("nid"), col("emb").as("nemb"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid").asc)
      graft.operators.GraphWalk.entrySearch(q, nodes0, edges0, nodes1,
          edges1, hnswStride, graphAnnDefaultBeam, graphAnnDefaultHops,
          descentHops)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("nid").as("neighbor_id"),
          col("cosine"))
  }

  /** The NN-descent fixed-point behind every kNN graph of the family
    * (s72's corpus, s74's [[entryLayer]], StressBench's graph rows):
    * hash-mix init, [[nndescentIters]] bounded neighbor-of-neighbor
    * supersteps with the d37 localCheckpoint discipline in one
    * [[graft.Blocks]] scope, final out-degree ≤ [[nndescentK]]. `vecs`
    * must carry (vec_id, emb) with CONTIGUOUS ids 0..n−1 — the init mix
    * maps into [0, n). */
  private[graft] def nndescentGraph(vecs: DataFrame): DataFrame = {
    val nRow = vecs.agg(count(lit(1)).as("n"))
    val init = vecs.select(col("vec_id").as("src"))
      .crossJoin(broadcast(nRow))
      .select(col("src"),
        explode(array((1 to nndescentK).map(j => lit(j.toLong)): _*))
          .as("j"), col("n"))
      .select(col("src"),
        ((col("src") * lit(1103515245L) + lit(12345L)
          + col("j") * lit(2654435761L)) % col("n")).as("dst"))
      .filter(col("dst") =!= col("src")).distinct()
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(vecs.select(col("vec_id").as("src"), col("emb").as("semb")),
          "src")
        .join(vecs.select(col("vec_id").as("dst"), col("emb").as("demb")),
          "dst")
        .select(col("src"), col("dst"),
          round(cos(col("semb"), col("demb")), 6).as("cosine"))
    graft.Blocks.scoped { b =>
      var g = b.checkpoint(score(init))
      for (_ <- 1 to nndescentIters) {
        val adj = g.union(g.select(col("dst").as("src"),
            col("src").as("dst"), col("cosine"))).distinct()
        // FUSED superstep (VERDICT r18 item 1b): the r18 shape scored
        // EVERY neighbor-of-neighbor candidate and then ran a third full
        // distinct over adj ∪ scored — but a candidate pair already in
        // adj carries its (deterministic, 6-dp) cosine there, so scoring
        // it again only feeds the dedup. Anti-joining candidates against
        // adj first (a) skips the two vector-fetch joins for the ~2K
        // known edges per node and (b) makes adj and score(fresh)
        // disjoint-by-(src,dst) with each side internally distinct, so
        // the union needs NO third distinct before the bounded top-K.
        // Set-identical to the unfused shape — the oracle's distinct-
        // union CTE chain replays the same fixed point unchanged.
        val cand = adj.select(col("src").as("p"), col("dst").as("ua"))
          .join(adj.select(col("src").as("p"), col("dst").as("ub")), "p")
          .filter(col("ua") =!= col("ub"))
          .select(col("ua").as("src"), col("ub").as("dst")).distinct()
        val fresh = cand.join(adj.select(col("src"), col("dst")),
          Seq("src", "dst"), "left_anti")
        val next = b.checkpoint(graft.operators.TopKPerKeyApi.topKPerKey(
            adj.union(score(fresh)),
            Seq("src"), Seq(("cosine", false), ("dst", true)), nndescentK)
          .select(col("src"), col("dst"), col("cosine")))
        b.release(g)
        g = next
      }
      g
    }
  }

  /** s72's shared constants — ONE definition drives both the Spark
    * superstep loop and the oracle's unrolled CTE generator, so the
    * two engines provably run the same fixed-point. K = 10: NN-descent
    * convergence rides the undirected degree (candidates/node/round ≈
    * 2K·(2K−1)); on THIS corpus's structureless embeddings K = 3
    * plateaus at recall 0.03 while K = 10 reaches 0.87/0.61
    * (sf0.001/sf0.1) in 6 rounds — measured before pinning. */
  private[graft] val nndescentK = 10
  private[graft] val nndescentIters = 6

  /** s71/s73's default beam width / hop count — ONE definition drives
    * the walk's conf defaults AND the oracle's unrolled hop generator,
    * so the oracle always replays exactly the default walk. */
  private[graft] val graphAnnDefaultBeam = 4
  private[graft] val graphAnnDefaultHops = 2

  /** s74's layer-0 descent depth — deeper than the flat walk's 2
    * because an entry-seeded search must TRAVEL to the query's
    * neighborhood where s71/s73 start inside it. RE-MEASURED r19
    * (hops 3/4/5/6, [[hnswEntrySearch]] parameterized): the registry's
    * structureless corpus is FLAT from hop 3 (0.467 sf0.001 / 0.400
    * sf0.1 at every depth — greedy navigation can't improve without
    * local structure), but on NAVIGABLE vectors (StressBench's 10k
    * structured corpus) recall@3 still climbs through the last hop —
    * 0.733 / 0.800 / 0.933 / 1.000 at 3/4/5/6. Hop 6 is load-bearing
    * where navigation actually works; cutting to 4 would save ~2
    * checkpoint barriers (~2 s at sf0.1) and cost 20 points of real
    * recall, so 6 stays. */
  private[graft] val hnswDescentHops = 6

  /** s74's layer-1 stride: every 8th vector is an entry node. Read by
    * [[entryLayer]], the entry election and the oracle's `e1`/`bestE`
    * CTEs. */
  private[graft] val hnswStride = 8

  /** s71/s73's flat walk: [[GraphWalk.beamWalk]] over the corpus
    * embeddings and `edges` (s47's cell-built graph for s71, s72's
    * NN-descent graph for s73), one lazy plan. Each query starts at its
    * own node's out-edges (queries are corpus members, the s33
    * posture), never re-enters its own node, and answers its top-5
    * visited.
    *
    * Serving-time knobs (the q83 spark.graft.fuzzy.buckets posture):
    * spark.graft.graphann.{beam,hops} are THE latency/recall dials —
    * widen for offline eval, narrow for serving, no redeploy. DEFAULTS
    * (graphAnnDefault*) are what the DuckDB oracle unrolls; non-default
    * settings trade scored nodes for recall and are covered by
    * QueriesSpec's widened-beam recall re-assertion, not the oracle. */
  private def flatWalk(s: SparkSession, d: String,
      edges: DataFrame): DataFrame = {
    val beamW = {
      val v = s.conf.get("spark.graft.graphann.beam",
        graphAnnDefaultBeam.toString).toInt
      require(v >= 1 && v <= 64,
        s"spark.graft.graphann.beam must be in [1, 64], got $v")
      v
    }
    val hops = {
      val v = s.conf.get("spark.graft.graphann.hops",
        graphAnnDefaultHops.toString).toInt
      require(v >= 1 && v <= 8,
        s"spark.graft.graphann.hops must be in [1, 8], got $v")
      v
    }
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val nodes = e.select(col("vec_id").as("nid"), col("emb").as("nemb"))
    val seeds = q.select(col("qid")).join(edges, col("qid") === col("src"))
      .select(col("qid"), col("dst").as("nid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    graft.operators.GraphWalk.beamWalk(q, nodes, edges, seeds, hops, beamW,
        excludeQ = true, checkpointEvery = 0)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("nid").as("neighbor_id"),
        col("cosine"))
  }

  /** Shared binary codec (s66/s67): per-dim corpus-mean threshold in
    * integer micro-units (exact rational compare n·v_u > sum_u — no FP
    * mean), bits packed into two 32-bit halves (dims 1–32 → code_lo,
    * 33–64 → code_hi) so every shift stays in signed-BIGINT range in
    * both engines. One posexplode scan + a 64-row broadcast threshold
    * table; packing sums are order-free BIGINT adds. */
  private def binCodes(s: SparkSession, d: String): DataFrame = {
    val ev = emb(s, d).select(col("vec_id"),
      posexplode(col("emb")).as(Seq("pos", "v")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        expr("CAST(round(v * 1000000) AS BIGINT)").as("vu"))
    val th = ev.groupBy(col("dim"))
      .agg(sum(col("vu")).as("sum_u"), count(lit(1)).as("n"))
    ev.join(broadcast(th), "dim")
      .withColumn("bit",
        when(col("vu") * col("n") > col("sum_u"), lit(1L)).otherwise(lit(0L)))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("dim") <= 32,
          expr("shiftleft(bit, CAST(dim - 1 AS INT))")).otherwise(lit(0L)))
          .as("code_lo"),
        sum(when(col("dim") > 32,
          expr("shiftleft(bit, CAST(dim - 33 AS INT))")).otherwise(lit(0L)))
          .as("code_hi"))
  }

  /** s65's full oracle (a complete SELECT) — shared with s69, which
    * wraps it as a subquery to aggregate the frontier row. */
  private def s65OracleSql: String =
    s"""WITH $sq8CteSql,
      |re AS (
      | SELECT vec_id, list(recon ORDER BY dim) AS remb
      | FROM enc GROUP BY 1),
      |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
      |ext AS (
      | SELECT qid, vec_id FROM (
      |  SELECT q.qid, e.vec_id,
      |   row_number() OVER (PARTITION BY q.qid ORDER BY
      |    round(list_dot_product(q.qemb, e.emb) /
      |     (sqrt(list_dot_product(q.qemb, q.qemb))
      |      * sqrt(list_dot_product(e.emb, e.emb))), 6) DESC,
      |    e.vec_id ASC) AS rn
      |  FROM q, e WHERE e.vec_id <> q.qid) WHERE rn <= 10),
      |apt AS (
      | SELECT qid, vec_id FROM (
      |  SELECT q.qid, re.vec_id,
      |   row_number() OVER (PARTITION BY q.qid ORDER BY
      |    round(list_dot_product(q.qemb, re.remb) /
      |     (sqrt(list_dot_product(q.qemb, q.qemb))
      |      * sqrt(list_dot_product(re.remb, re.remb))), 6) DESC,
      |    re.vec_id ASC) AS rn
      |  FROM q, re WHERE re.vec_id <> q.qid) WHERE rn <= 10),
      |hits AS (
      | SELECT ext.qid, count(*) AS n
      | FROM ext JOIN apt USING (qid, vec_id) GROUP BY 1)
      |SELECT q.qid, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
      | round(coalesce(hits.n, 0) / 10.0, 4) AS recall
      |FROM q LEFT JOIN hits ON q.qid = hits.qid""".stripMargin

  /** s67's full oracle — shared with s69 (same composition rule). */
  private def s67OracleSql: String =
    s"""WITH $binCteSql,
      |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
      |qc AS (SELECT vec_id AS qid, code_lo AS qlo, code_hi AS qhi
      |       FROM codes WHERE vec_id < 10),
      |ext AS (
      | SELECT qid, vec_id FROM (
      |  SELECT q.qid, e.vec_id,
      |   row_number() OVER (PARTITION BY q.qid ORDER BY
      |    round(list_dot_product(q.qemb, e.emb) /
      |     (sqrt(list_dot_product(q.qemb, q.qemb))
      |      * sqrt(list_dot_product(e.emb, e.emb))), 6) DESC,
      |    e.vec_id ASC) AS rn
      |  FROM q, e WHERE e.vec_id <> q.qid) WHERE rn <= 10),
      |bin AS (
      | SELECT qid, vec_id FROM (
      |  SELECT qc.qid, c.vec_id,
      |   row_number() OVER (PARTITION BY qc.qid ORDER BY
      |    bit_count(xor(c.code_lo, qc.qlo))
      |     + bit_count(xor(c.code_hi, qc.qhi)) ASC,
      |    c.vec_id ASC) AS rn
      |  FROM qc, codes c WHERE c.vec_id <> qc.qid) WHERE rn <= 10),
      |hits AS (
      | SELECT ext.qid, count(*) AS n
      | FROM ext JOIN bin USING (qid, vec_id) GROUP BY 1)
      |SELECT q.qid, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
      | round(coalesce(hits.n, 0) / 10.0, 4) AS recall
      |FROM q LEFT JOIN hits ON q.qid = hits.qid""".stripMargin

  /** DuckDB rendering of [[binCodes]] — the shared CTE prefix of the
    * s66/s67 oracles, operation-for-operation the Spark codec (integer
    * micro-unit thresholds, exact rational compare, two-half packing). */
  private val binCteSql: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |x AS (
      | SELECT vec_id, CAST(r.i AS BIGINT) AS dim,
      |  CAST(round(emb[r.i] * 1000000) AS BIGINT) AS vu
      | FROM e, range(1, 65) r(i)),
      |th AS (
      | SELECT dim, CAST(sum(vu) AS BIGINT) AS sum_u, count(*) AS n
      | FROM x GROUP BY 1),
      |b AS (
      | SELECT vec_id, dim,
      |  CASE WHEN x.vu * th.n > th.sum_u THEN CAST(1 AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS bit
      | FROM x JOIN th USING (dim)),
      |codes AS (
      | SELECT vec_id,
      |  CAST(sum(CASE WHEN dim <= 32 THEN bit << CAST(dim - 1 AS INT)
      |           ELSE 0 END) AS BIGINT) AS code_lo,
      |  CAST(sum(CASE WHEN dim > 32 THEN bit << CAST(dim - 33 AS INT)
      |           ELSE 0 END) AS BIGINT) AS code_hi
      | FROM b GROUP BY 1)""".stripMargin

  /** DuckDB rendering of [[sq8Enc]] — the shared CTE prefix of the
    * s64/s65 oracles (e → per-dim x → rng → enc with code + recon),
    * operation-for-operation the Spark codec. */
  private val sq8CteSql: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |x AS (
      | SELECT vec_id, CAST(r.i AS BIGINT) AS dim, emb[r.i] AS v
      | FROM e, range(1, 65) r(i)),
      |rng AS (
      | SELECT dim, min(v) AS vmin, max(v) AS vmax FROM x GROUP BY 1),
      |enc AS (
      | SELECT vec_id, dim, v, vmin, vmax, code,
      |  vmin + ((code + 0.5) * (vmax - vmin)) / 256.0 AS recon
      | FROM (
      |  SELECT x.vec_id, x.dim, x.v, rng.vmin, rng.vmax,
      |   CASE WHEN rng.vmax = rng.vmin THEN 0
      |        ELSE least(255, CAST(floor(((x.v - rng.vmin) * 256.0)
      |          / (rng.vmax - rng.vmin)) AS BIGINT)) END AS code
      |  FROM x JOIN rng USING (dim)))""".stripMargin

  /** Shared SQ8 codec (s64/s65): per-dim global [min,max] ranges, 256
    * uniform buckets, mid-bucket reconstruction — |err| ≤ range/512 by
    * construction. One posexplode scan + a 64-row broadcast range
    * table; every expression is the identical IEEE double computation
    * in the DuckDB oracle rendering. */
  private def sq8Enc(s: SparkSession, d: String): DataFrame = {
    val ev = emb(s, d).select(col("vec_id"),
      posexplode(col("emb")).as(Seq("pos", "v")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        col("v"))
    val rng = ev.groupBy(col("dim"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    ev.join(broadcast(rng), "dim")
      .withColumn("code",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(255L),
            floor(((col("v") - col("vmin")) * lit(256.0d)) /
              (col("vmax") - col("vmin"))).cast("long"))))
      .withColumn("recon",
        col("vmin") + ((col("code").cast("double") + lit(0.5d)) *
          (col("vmax") - col("vmin"))) / lit(256.0d))
  }

  /** s54 oracle: per-k centroid VALUES literals (captured post-run like
    * s40), the same rounded-d2 argmin replayed as a (d2, cid) ordered
    * row_number, the same two-level aggregate. */
  private def s54Oracle: String =
    if (kmeansFits.last(4).isEmpty)
      "SELECT 1 WHERE 1=0 -- s54 not yet run in this session"
    else {
      val arms = Seq(4, 8, 16).map { k =>
        val values = centroidValues(kmeansFits.last(k).getOrElse(Array.empty))
        s"""c$k(cid, cemb) AS (VALUES $values),
           |sim$k AS (
           | SELECT e.vec_id, c.cid,
           |  round(list_sum(list_transform(range(1, len(e.emb) + 1),
           |   i -> (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i]))), 6)
           |   AS d2
           | FROM e, c$k c),
           |b$k AS (
           | SELECT vec_id, d2, cid, row_number() OVER (
           |  PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM sim$k),
           |g$k AS (
           | SELECT cid, count(*) AS n, sum(d2) AS sd2
           | FROM b$k WHERE rn = 1 GROUP BY 1),
           |r$k AS (
           | SELECT CAST($k AS INTEGER) AS k, round(sum(sd2), 4) AS inertia,
           |  CAST(max(n) AS BIGINT) AS max_cell_n, count(*) AS n_cells_used
           | FROM g$k)""".stripMargin
      }.mkString(",\n")
      val unions = Seq(4, 8, 16).map(k => s"SELECT * FROM r$k")
        .mkString("\nUNION ALL\n")
      s"""WITH e AS (
         | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         | FROM embeddings),
         |$arms
         |$unions""".stripMargin
    }

  /** Fitted centroids as the rows of a DuckDB `VALUES (cid, cemb)`
    * clause — the same rounded literals the Spark plan used. */
  private def centroidValues(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map {
      case (c, i) => s"($i, [${c.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")

  /** A PQ model's codebooks as one DuckDB `DOUBLE[][][]` literal. */
  private def codebookLiteral(pq: graft.ml.ProductQuantizerModel): String =
    pq.codebooks.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** s40's oracle carries the trained centroids as a VALUES clause —
    * identical literals to the ones the Spark plan used, captured from
    * the most recent fit (Verify dumps oracle SQL after running the
    * queries, so the capture is always populated in the driver flow). */
  private def s40Oracle: String = if (kmeansFits.last(8).isEmpty)
    "SELECT 1 WHERE 1=0 -- s40 not yet run in this session"
  else {
    val values = centroidValues(kmeansFits.last(8).get)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |c(cid, cemb) AS (VALUES $values),
       |sim AS (
       | SELECT e.vec_id, e.emb, c.cid,
       |  round(list_dot_product(e.emb, c.cemb) /
       |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
       | FROM e, c),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cosc DESC, cid ASC) AS rn FROM sim),
       |corpus AS (SELECT vec_id, emb, cid FROM ranked WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, emb AS qemb, cid AS pcell
       |  FROM ranked WHERE rn <= 2 AND vec_id < 10),
       |cand AS (
       | SELECT p.qid, corpus.vec_id,
       |  round(list_dot_product(p.qemb, corpus.emb) /
       |   (sqrt(list_dot_product(p.qemb, p.qemb)) * sqrt(list_dot_product(corpus.emb, corpus.emb))), 6) AS cosine
       | FROM probes p JOIN corpus ON corpus.cid = p.pcell AND corpus.vec_id <> p.qid)
       |SELECT qid, rnk, vec_id AS neighbor_id, cosine FROM (
       | SELECT *, row_number() OVER (PARTITION BY qid
       |   ORDER BY cosine DESC, vec_id ASC) AS rnk FROM cand)
       |WHERE rnk <= 3""".stripMargin
  }

  /** s53's oracle: s40's trained-centroid cell CTEs (same captured
    * literals) shared by three probe arms, each replaying candidate
    * generation, top-3 and the recall join at its own rn bound;
    * composes s33's exact-arm SQL verbatim (the s45/s48 discipline). */
  private def s53Oracle: String = if (kmeansFits.last(8).isEmpty)
    "SELECT 1 WHERE 1=0 -- s53 not yet run in this session"
  else {
    val values = centroidValues(kmeansFits.last(8).get)
    def armSql(n: Int) =
      s"""probes$n AS (SELECT vec_id AS qid, emb AS qemb, cid AS pcell
         |  FROM ranked WHERE rn <= $n AND vec_id < 10),
         |cand$n AS (
         | SELECT p.qid, corpus.vec_id,
         |  round(list_dot_product(p.qemb, corpus.emb) /
         |   (sqrt(list_dot_product(p.qemb, p.qemb)) * sqrt(list_dot_product(corpus.emb, corpus.emb))), 6) AS cosine
         | FROM probes$n p JOIN corpus ON corpus.cid = p.pcell AND corpus.vec_id <> p.qid),
         |top$n AS (
         | SELECT qid AS aqid, vec_id AS aneib FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vec_id ASC) AS rnk FROM cand$n) WHERE rnk <= 3),
         |rec$n AS (
         | SELECT e2.qid, count(*) AS k,
         |  sum(CASE WHEN t.aneib IS NOT NULL THEN 1 ELSE 0 END) AS hits
         | FROM exact e2 LEFT JOIN top$n t
         |   ON e2.qid = t.aqid AND e2.neighbor_id = t.aneib
         | GROUP BY e2.qid)""".stripMargin
    def armSelect(n: Int) =
      s"""SELECT CAST($n AS BIGINT) AS nprobe,
         | count(*) AS n_queries,
         | CAST(sum(hits) AS BIGINT) AS total_hits,
         | round(CAST(sum(hits) AS BIGINT) / CAST(sum(k) AS BIGINT), 4) AS recall_at_3,
         | (SELECT CAST(count(*) AS BIGINT) FROM cand$n) AS total_candidates
         |FROM rec$n""".stripMargin
    s"""WITH exact AS (
       | SELECT qid, neighbor_id FROM (${s33OracleSql}) x WHERE rnk <= 3),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |c(cid, cemb) AS (VALUES $values),
       |sim AS (
       | SELECT e.vec_id, e.emb, c.cid,
       |  round(list_dot_product(e.emb, c.cemb) /
       |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
       | FROM e, c),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cosc DESC, cid ASC) AS rn FROM sim),
       |corpus AS (SELECT vec_id, emb, cid FROM ranked WHERE rn = 1),
       |${armSql(1)},
       |${armSql(2)},
       |${armSql(4)}
       |${armSelect(1)}
       |UNION ALL ${armSelect(2)}
       |UNION ALL ${armSelect(4)}""".stripMargin
  }

  /** s41's oracle replays encode + ADC with the SAME rounded codebook
    * literals. Accumulation-order parity: every sum is rendered as
    * list_dot_product (left-to-right from 0, matching Spark's
    * aggregate-with-0.0-init), including the cross-subspace sum (dot
    * with a ones vector). */
  private def s41Oracle: String = pqFits.last(16) match {
    case None => "SELECT 1 WHERE 1=0 -- s41 not yet run in this session"
    case Some(pq) =>
      val cbLit = codebookLiteral(pq)
      val ones = Seq.fill(pq.m)("1.0").mkString("[", ", ", "]")
      val m = pq.m
      val k = pq.k
      val dsub = pq.dsub
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cb(B) AS (VALUES ($cbLit::DOUBLE[][][])),
         |dists AS (
         | SELECT vec_id, emb,
         |  list_transform(range(1, ${m + 1}), j ->
         |    list_transform(range(1, ${k + 1}), c ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> emb[(j-1)*$dsub + i] - B[j][c][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> emb[(j-1)*$dsub + i] - B[j][c][i])))) AS dd
         | FROM e, cb),
         |codes AS (
         | SELECT vec_id,
         |  list_transform(dd, d -> list_position(d, list_min(d)) - 1) AS code
         | FROM dists),
         |qs AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
         |cand AS (
         | SELECT q.qid, co.vec_id,
         |  round(list_dot_product(
         |    list_transform(range(1, ${m + 1}), j ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> q.qemb[(j-1)*$dsub + i] - B[j][co.code[j]+1][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> q.qemb[(j-1)*$dsub + i] - B[j][co.code[j]+1][i]))),
         |    $ones), 6) AS adc
         | FROM codes co, cb, qs q WHERE co.vec_id <> q.qid)
         |SELECT qid, rnk, vec_id AS neighbor_id, adc FROM (
         | SELECT *, row_number() OVER (PARTITION BY qid
         |   ORDER BY adc ASC, vec_id ASC) AS rnk FROM cand)
         |WHERE rnk <= 5""".stripMargin
  }

  /** s59's oracle: s41's `dists` CTE verbatim (same codebook literals,
    * same left-to-right accumulation), then the per-subspace min
    * aggregated instead of argmin-encoded. */
  private def s59Oracle: String = pqFits.last(16) match {
    case None => "SELECT 1 WHERE 1=0 -- s59 not yet run in this session"
    case Some(pq) =>
      val cbLit = codebookLiteral(pq)
      val m = pq.m
      val k = pq.k
      val dsub = pq.dsub
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cb(B) AS (VALUES ($cbLit::DOUBLE[][][])),
         |dists AS (
         | SELECT vec_id,
         |  list_transform(range(1, ${m + 1}), j ->
         |    list_transform(range(1, ${k + 1}), c ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> emb[(j-1)*$dsub + i] - B[j][c][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> emb[(j-1)*$dsub + i] - B[j][c][i])))) AS dd
         | FROM e, cb),
         |mins AS (
         | SELECT vec_id, CAST(j - 1 AS BIGINT) AS subspace,
         |  list_min(dd[CAST(j AS BIGINT)]) AS sqerr
         | FROM dists, range(1, ${m + 1}) r(j))
         |SELECT subspace, count(*) AS n_vectors,
         | round(avg(sqerr), 6) AS mse, round(max(sqerr), 6) AS max_sqerr
         |FROM mins GROUP BY 1""".stripMargin
  }

  /** s62 oracle: one arm per fitted m, each replaying the per-vector
    * reconstruction error as the SAME left-to-right addition chain of
    * per-subspace min-distances over that arm's codebook literal (the
    * s59 rendering, swept), unioned. Generated after the query runs —
    * the Verify main dumps oracle SQL last. */
  private def s62Oracle: String = pqSweepMs.map(pqFits.last) match {
    case models if models.exists(_.isEmpty) =>
      "SELECT 1 WHERE 1=0 -- s62 not yet run in this session"
    case models =>
      pqSweepMs.zip(models.flatten).map { case (m, pq) =>
        val cbLit = codebookLiteral(pq)
        val dsub = pq.dsub
        val terms = (1 to m).map { j =>
          s"""list_min(list_transform(range(1, ${pq.k + 1}), c ->
             |   list_dot_product(
             |    list_transform(range(1, ${dsub + 1}), i -> emb[${(j - 1) * dsub} + i] - B[$j][c][i]),
             |    list_transform(range(1, ${dsub + 1}), i -> emb[${(j - 1) * dsub} + i] - B[$j][c][i]))))"""
            .stripMargin
        }.mkString(" + ")
        s"""SELECT CAST($m AS BIGINT) AS m, CAST($dsub AS BIGINT) AS dsub,
           | ${pq.bytesPerVector} AS bytes_per_vector,
           | count(*) AS n_vectors, round(avg(sqerr), 6) AS mse,
           | round(max(sqerr), 6) AS max_sqerr
           |FROM (
           | SELECT $terms AS sqerr
           | FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |      (VALUES ($cbLit::DOUBLE[][][])) cb(B))""".stripMargin
      }.mkString("\nUNION ALL\n")
  }

  /** s35's oracle replays the sign-LSH end to end: the 6×4 hyperplanes
    * enter as a 24-row VALUES table, bucket bits via the same
    * left-to-right dot products, candidate pairs from the (table,
    * bucket) equi-join, exact-cosine confirm identical to s34's. */
  private def s35Oracle: String = {
    val planeRows = (for {
      tb <- s35Planes.indices
      p <- s35Planes(tb).indices
    } yield s"($tb, ${1 << p}, [${s35Planes(tb)(p).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |pl(tb, bit, v) AS (VALUES $planeRows),
       |keyed AS (
       | SELECT e.vec_id, pl.tb,
       |  sum(CASE WHEN list_dot_product(e.emb, pl.v) >= 0 THEN pl.bit ELSE 0 END) AS bucket
       | FROM e, pl GROUP BY 1, 2),
       |cands AS (
       | SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       | FROM keyed a JOIN keyed b
       |   ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |confirmed AS (
       | SELECT c.ia, c.ib,
       |  list_dot_product(ea.emb, eb.emb) /
       |   (sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb))) AS cosine
       | FROM cands c JOIN e ea ON ea.vec_id = c.ia JOIN e eb ON eb.vec_id = c.ib)
       |SELECT ia, ib, round(cosine, 4) AS cosine
       |FROM confirmed WHERE cosine >= 0.4""".stripMargin
  }

  /** d63 oracle: s35's plane/keyed CTEs verbatim, then the occupancy
    * rollup with the broadcast corpus total. */
  private def d63Oracle: String = {
    val planeRows = (for {
      tb <- s35Planes.indices
      p <- s35Planes(tb).indices
    } yield s"($tb, ${1 << p}, [${s35Planes(tb)(p).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |pl(tb, bit, v) AS (VALUES $planeRows),
       |keyed AS (
       | SELECT e.vec_id, pl.tb,
       |  sum(CASE WHEN list_dot_product(e.emb, pl.v) >= 0 THEN pl.bit ELSE 0 END) AS bucket
       | FROM e, pl GROUP BY 1, 2),
       |tot AS (SELECT count(*) AS n_vectors FROM e)
       |SELECT CAST(tb AS BIGINT) AS table_id,
       | CAST(bucket AS BIGINT) AS bucket,
       | count(*) AS n_in_bucket, tot.n_vectors,
       | round(count(*) / tot.n_vectors, 4) AS frac
       |FROM keyed, tot GROUP BY 1, 2, tot.n_vectors""".stripMargin
  }

  /** s63 oracle: s35's plane/keyed CTEs verbatim, then one candidate
    * set per probe arm — the Hamming-1 arm joins through an xor mask
    * VALUES table — with the same distinct-pair and ≥0.4 confirm
    * accounting. */
  private def s63Oracle: String = {
    val planeRows = (for {
      tb <- s35Planes.indices
      p <- s35Planes(tb).indices
    } yield s"($tb, ${1 << p}, [${s35Planes(tb)(p).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |pl(tb, bit, v) AS (VALUES $planeRows),
       |keyed AS (
       | SELECT e.vec_id, pl.tb,
       |  sum(CASE WHEN list_dot_product(e.emb, pl.v) >= 0 THEN pl.bit ELSE 0 END) AS bucket
       | FROM e, pl GROUP BY 1, 2),
       |m1(mask) AS (VALUES (0), (1), (2), (4), (8)),
       |cand0 AS (
       | SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       | FROM keyed a JOIN keyed b
       |   ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |cand1 AS (
       | SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       | FROM keyed a, m1, keyed b
       | WHERE a.tb = b.tb AND xor(a.bucket, m1.mask) = b.bucket
       |   AND a.vec_id < b.vec_id),
       |sc0 AS (
       | SELECT CASE WHEN list_dot_product(ea.emb, eb.emb) /
       |   (sqrt(list_dot_product(ea.emb, ea.emb)) *
       |    sqrt(list_dot_product(eb.emb, eb.emb))) >= 0.4
       |  THEN 1 ELSE 0 END AS conf
       | FROM cand0 c JOIN e ea ON ea.vec_id = c.ia
       |   JOIN e eb ON eb.vec_id = c.ib),
       |sc1 AS (
       | SELECT CASE WHEN list_dot_product(ea.emb, eb.emb) /
       |   (sqrt(list_dot_product(ea.emb, ea.emb)) *
       |    sqrt(list_dot_product(eb.emb, eb.emb))) >= 0.4
       |  THEN 1 ELSE 0 END AS conf
       | FROM cand1 c JOIN e ea ON ea.vec_id = c.ia
       |   JOIN e eb ON eb.vec_id = c.ib)
       |SELECT CAST(0 AS BIGINT) AS probe_bits, count(*) AS n_candidate_pairs,
       | CAST(sum(conf) AS BIGINT) AS n_confirmed,
       | round(sum(conf) / count(*), 4) AS confirm_yield
       |FROM sc0
       |UNION ALL
       |SELECT CAST(1 AS BIGINT), count(*), CAST(sum(conf) AS BIGINT),
       | round(sum(conf) / count(*), 4)
       |FROM sc1""".stripMargin
  }

  /** s42's oracle composes s40's cell CTEs with s41's code/ADC CTEs —
    * both trained models as literals, captured from the fits the s42
    * query itself triggered. */
  private def s42Oracle: String = (pqFits.last(16), kmeansFits.last(8)) match {
    case (Some(pq), Some(cents)) =>
      val centVals = centroidValues(cents)
      val cbLit = codebookLiteral(pq)
      val ones = Seq.fill(pq.m)("1.0").mkString("[", ", ", "]")
      val m = pq.m
      val k = pq.k
      val dsub = pq.dsub
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |c(cid, cemb) AS (VALUES $centVals),
         |sim AS (
         | SELECT e.vec_id, e.emb, c.cid,
         |  round(list_dot_product(e.emb, c.cemb) /
         |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
         | FROM e, c),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY vec_id
         |   ORDER BY cosc DESC, cid ASC) AS rn FROM sim),
         |corpus0 AS (SELECT vec_id, emb, cid FROM ranked WHERE rn = 1),
         |cb(B) AS (VALUES ($cbLit::DOUBLE[][][])),
         |dists AS (
         | SELECT vec_id, emb, cid,
         |  list_transform(range(1, ${m + 1}), j ->
         |    list_transform(range(1, ${k + 1}), cc ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> emb[(j-1)*$dsub + i] - B[j][cc][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> emb[(j-1)*$dsub + i] - B[j][cc][i])))) AS dd
         | FROM corpus0, cb),
         |codes AS (
         | SELECT vec_id, cid,
         |  list_transform(dd, dx -> list_position(dx, list_min(dx)) - 1) AS code
         | FROM dists),
         |probes AS (SELECT vec_id AS qid, emb AS qemb, cid AS pcell
         |  FROM ranked WHERE rn <= 2 AND vec_id < 10),
         |cand AS (
         | SELECT p.qid, co.vec_id,
         |  round(list_dot_product(
         |    list_transform(range(1, ${m + 1}), j ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> p.qemb[(j-1)*$dsub + i] - B[j][co.code[j]+1][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> p.qemb[(j-1)*$dsub + i] - B[j][co.code[j]+1][i]))),
         |    $ones), 6) AS adc
         | FROM codes co, cb, probes p
         | WHERE co.cid = p.pcell AND co.vec_id <> p.qid)
         |SELECT qid, rnk, vec_id AS neighbor_id, adc FROM (
         | SELECT *, row_number() OVER (PARTITION BY qid
         |   ORDER BY adc ASC, vec_id ASC) AS rnk FROM cand)
         |WHERE rnk <= 5""".stripMargin
    case _ => "SELECT 1 WHERE 1=0 -- s42 not yet run in this session"
  }

  /** s43's oracle: s42's cell CTEs, with the corpus PQ-encoded on cell
    * residuals and the query re-expressed per probed cell — residual
    * arithmetic (emb[i] − cemb[i]) runs on the SAME rounded centroid
    * literals in both engines, so every subtraction is the identical
    * IEEE op and the compare stays bitwise. */
  private def s43Oracle: String = (pqResidFits.last(16), kmeansFits.last(8)) match {
    case (Some(pq), Some(cents)) =>
      val centVals = centroidValues(cents)
      val cbLit = codebookLiteral(pq)
      val ones = Seq.fill(pq.m)("1.0").mkString("[", ", ", "]")
      val m = pq.m
      val k = pq.k
      val dsub = pq.dsub
      val dim = m * dsub
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |c(cid, cemb) AS (VALUES $centVals),
         |sim AS (
         | SELECT e.vec_id, e.emb, c.cid, c.cemb,
         |  round(list_dot_product(e.emb, c.cemb) /
         |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
         | FROM e, c),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY vec_id
         |   ORDER BY cosc DESC, cid ASC) AS rn FROM sim),
         |corpus0 AS (SELECT vec_id, cid,
         |  list_transform(range(1, ${dim + 1}), i -> emb[i] - cemb[i]) AS remb
         | FROM ranked WHERE rn = 1),
         |cb(B) AS (VALUES ($cbLit::DOUBLE[][][])),
         |dists AS (
         | SELECT vec_id, cid,
         |  list_transform(range(1, ${m + 1}), j ->
         |    list_transform(range(1, ${k + 1}), cc ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> remb[(j-1)*$dsub + i] - B[j][cc][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> remb[(j-1)*$dsub + i] - B[j][cc][i])))) AS dd
         | FROM corpus0, cb),
         |codes AS (
         | SELECT vec_id, cid,
         |  list_transform(dd, dx -> list_position(dx, list_min(dx)) - 1) AS code
         | FROM dists),
         |probes AS (SELECT vec_id AS qid,
         |  list_transform(range(1, ${dim + 1}), i -> emb[i] - cemb[i]) AS qres,
         |  cid AS pcell
         | FROM ranked WHERE rn <= 2 AND vec_id < 10),
         |cand AS (
         | SELECT p.qid, co.vec_id,
         |  round(list_dot_product(
         |    list_transform(range(1, ${m + 1}), j ->
         |      list_dot_product(
         |        list_transform(range(1, ${dsub + 1}), i -> p.qres[(j-1)*$dsub + i] - B[j][co.code[j]+1][i]),
         |        list_transform(range(1, ${dsub + 1}), i -> p.qres[(j-1)*$dsub + i] - B[j][co.code[j]+1][i]))),
         |    $ones), 6) AS adc
         | FROM codes co, cb, probes p
         | WHERE co.cid = p.pcell AND co.vec_id <> p.qid)
         |SELECT qid, rnk, vec_id AS neighbor_id, adc FROM (
         | SELECT *, row_number() OVER (PARTITION BY qid
         |   ORDER BY adc ASC, vec_id ASC) AS rnk FROM cand)
         |WHERE rnk <= 5""".stripMargin
    case _ => "SELECT 1 WHERE 1=0 -- s43 not yet run in this session"
  }

  private def s47OracleSql: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |cand AS (
        | SELECT a.vec_id, b.vec_id AS nb_id,
        |  round(list_dot_product(a.emb, b.emb) /
        |   (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
        | FROM cell a JOIN cell b
        |   ON a.cid = b.cid AND a.vec_id <> b.vec_id)
        |SELECT vec_id, rnk, nb_id AS neighbor_id, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY vec_id
        |   ORDER BY cosine DESC, nb_id ASC) AS rnk FROM cand)
        |WHERE rnk <= 3""".stripMargin

  /** Shared walk oracle (s71/s73): the composed edge SQL verbatim as
    * `edges`, then the beam walk unrolled from the graphAnnDefault*
    * constants — hop h keeps the top-beam of the visited set v{h},
    * walks their out-edges, scores only arrivals not already in v{h}
    * (NOT EXISTS ≡ the Spark anti-join), and unions. Generated per hop
    * so both engines provably run one algorithm over either graph. */
  private def graphAnnWalkSql(edgesSql: String): String = {
    def cosq(v: String): String =
      s"round(list_dot_product(q.qemb, $v) / (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product($v, $v))), 6)"
    def hop(h: Int): String = {
      val prev = if (h == 1) "h0" else s"v${h - 1}"
      s"""b$h AS (SELECT qid, nid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid ASC) AS rn FROM $prev) WHERE rn <= $graphAnnDefaultBeam),
         |x$h AS (
         | SELECT DISTINCT b.qid, ed.dst AS nid
         | FROM b$h b JOIN edges ed ON ed.src = b.nid WHERE ed.dst <> b.qid),
         |f$h AS (
         | SELECT x.qid, x.nid, ${cosq("n.emb")} AS cosine
         | FROM x$h x JOIN q ON q.qid = x.qid JOIN e n ON n.vec_id = x.nid
         | WHERE NOT EXISTS (SELECT 1 FROM $prev v
         |   WHERE v.qid = x.qid AND v.nid = x.nid)),
         |v$h AS (SELECT * FROM $prev UNION ALL SELECT * FROM f$h)""".stripMargin
    }
    s"""WITH edges AS MATERIALIZED (
       | SELECT vec_id AS src, neighbor_id AS dst FROM ($edgesSql) g),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
       |h0 AS (
       | SELECT q.qid, ed.dst AS nid, ${cosq("n.emb")} AS cosine
       | FROM q JOIN edges ed ON ed.src = q.qid JOIN e n ON n.vec_id = ed.dst),
       |${(1 to graphAnnDefaultHops).map(hop).mkString(",\n")}
       |SELECT qid, rnk, nid AS neighbor_id, cosine FROM (
       | SELECT *, row_number() OVER (PARTITION BY qid
       |   ORDER BY cosine DESC, nid ASC) AS rnk FROM v$graphAnnDefaultHops)
       |WHERE rnk <= 5""".stripMargin
  }

  private def s71OracleSql: String = graphAnnWalkSql(s47OracleSql)
  private def s73OracleSql: String = graphAnnWalkSql(s72OracleSql)

  /** s72 oracle: the NN-descent fixed-point unrolled — hash-mix init
    * (the same LCG mix as [[nndescentGraph]]; a ring init is provably
    * broken here, recall 0.03), then
    * [[nndescentIters]] supersteps each generated by the same code
    * path (undirect → neighbor-of-neighbor candidates in both
    * directions → score → distinct-union → top-K by row_number on the
    * (cosine DESC, dst ASC) total order the native bounded heap runs).
    * UNION (distinct) ≡ the Spark side's union().distinct() on exact
    * 6-dp values; `%` on non-negative BIGINTs agrees across engines.
    * Multiply-referenced CTEs are AS MATERIALIZED — DuckDB otherwise
    * INLINES each reference, and with adj referenced 3× per step the
    * unrolled plan expands to ~6^iters copies of the base scan (the
    * first cut died on "too many open files"); materialization is the
    * oracle-side analogue of the Spark loop's localCheckpoint. */
  private def cosabSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** The NN-descent CTE chain generator shared by the s72 oracle and
    * both layers of the s74 oracle — reads (vec_id, emb) from the CTE
    * named `eCte`, emits CTEs prefixed `p`, returns (chain, name of
    * the final graph CTE). ONE generator ≡ the ONE Scala helper
    * [[nndescentGraph]], so every consumer replays the same fixed-
    * point. */
  private def nndescentChainSql(eCte: String, p: String): (String, String) = {
    def step(i: Int): String = {
      val prev = if (i == 1) s"${p}g0" else s"${p}g${i - 1}"
      s"""${p}adj$i AS MATERIALIZED (SELECT src, dst, cosine FROM $prev
         |  UNION SELECT dst, src, cosine FROM $prev),
         |${p}cand$i AS (
         | SELECT DISTINCT a.dst AS src, b.dst AS dst
         | FROM ${p}adj$i a JOIN ${p}adj$i b ON a.src = b.src AND a.dst <> b.dst),
         |${p}sc$i AS (
         | SELECT c.src, c.dst, ${cosabSql("x.emb", "y.emb")} AS cosine
         | FROM ${p}cand$i c JOIN $eCte x ON x.vec_id = c.src
         |   JOIN $eCte y ON y.vec_id = c.dst),
         |${p}u$i AS (SELECT src, dst, cosine FROM ${p}adj$i
         |  UNION SELECT src, dst, cosine FROM ${p}sc$i),
         |${p}g$i AS MATERIALIZED (SELECT src, dst, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY cosine DESC, dst ASC) AS rn FROM ${p}u$i)
         |  WHERE rn <= $nndescentK)""".stripMargin
    }
    val js = (1 to nndescentK).map(j => s"($j)").mkString(", ")
    val mix =
      s"($eCte.vec_id * 1103515245 + 12345 + j.j * 2654435761) % ${p}nn.n"
    val chain =
      s"""${p}nn AS (SELECT count(*) AS n FROM $eCte),
         |${p}init AS (
         | SELECT DISTINCT $eCte.vec_id AS src, $mix AS dst
         | FROM $eCte, ${p}nn, (VALUES $js) j(j)
         | WHERE $mix <> $eCte.vec_id),
         |${p}g0 AS MATERIALIZED (
         | SELECT i.src, i.dst, ${cosabSql("x.emb", "y.emb")} AS cosine
         | FROM ${p}init i JOIN $eCte x ON x.vec_id = i.src
         |   JOIN $eCte y ON y.vec_id = i.dst),
         |${(1 to nndescentIters).map(step).mkString(",\n")}""".stripMargin
    (chain, s"${p}g$nndescentIters")
  }

  private def s72OracleSql: String = {
    val (chain, fin) = nndescentChainSql("e", "")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |$chain
       |SELECT src AS vec_id, rnk, dst AS neighbor_id, cosine FROM (
       | SELECT *, row_number() OVER (PARTITION BY src
       |   ORDER BY cosine DESC, dst ASC) AS rnk FROM $fin)""".stripMargin
  }

  /** s74 oracle: the chain generator twice (layer 0 on `e`, layer 1 on
    * the /8 sample re-keyed to contiguous rank ids), then both walks
    * unrolled — the upper walk from the global entry (rid 0) WITHOUT a
    * query-exclusion (rid r is vector 8r, a different vector), the
    * layer-0 walk seeded from each query's elected entry point WITH
    * the query's own node excluded. */
  private def s74OracleSql: String = {
    val (chain0, fin0) = nndescentChainSql("e", "l0")
    val (chain1, fin1) = nndescentChainSql("e1", "l1")
    def cosq(v: String): String = cosabSql("q.qemb", v)
    def hop(h: Int, p: String, edges: String, eTbl: String,
        excl: Boolean): String = {
      val prev = if (h == 1) s"${p}h0" else s"${p}v${h - 1}"
      val exclP = if (excl) " AND ed.dst <> b.qid" else ""
      s"""${p}b$h AS (SELECT qid, nid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid ASC) AS rn FROM $prev)
         |  WHERE rn <= $graphAnnDefaultBeam),
         |${p}x$h AS (
         | SELECT DISTINCT b.qid, ed.dst AS nid
         | FROM ${p}b$h b JOIN $edges ed ON ed.src = b.nid$exclP),
         |${p}f$h AS (
         | SELECT x.qid, x.nid, ${cosq("n.emb")} AS cosine
         | FROM ${p}x$h x JOIN q ON q.qid = x.qid
         |   JOIN $eTbl n ON n.vec_id = x.nid
         | WHERE NOT EXISTS (SELECT 1 FROM $prev v
         |   WHERE v.qid = x.qid AND v.nid = x.nid)),
         |${p}v$h AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM ${p}f$h)""".stripMargin
    }
    val uHops = graphAnnDefaultHops
    val wHops = hnswDescentHops
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |e1 AS MATERIALIZED (SELECT vec_id // $hnswStride AS vec_id, emb FROM e WHERE vec_id % $hnswStride = 0),
       |$chain0,
       |$chain1,
       |edges0 AS MATERIALIZED (SELECT src, dst FROM $fin0),
       |edges1 AS MATERIALIZED (SELECT src, dst FROM $fin1),
       |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
       |uh0 AS MATERIALIZED (
       | SELECT x.qid, x.nid, ${cosq("n.emb")} AS cosine
       | FROM (SELECT DISTINCT q.qid, s.nid
       |   FROM q, (SELECT CAST(0 AS BIGINT) AS nid
       |     UNION ALL SELECT dst FROM edges1 WHERE src = 0) s) x
       |  JOIN q ON q.qid = x.qid JOIN e1 n ON n.vec_id = x.nid),
       |${(1 to uHops).map(h => hop(h, "u", "edges1", "e1", excl = false))
          .mkString(",\n")},
       |bestE AS (
       | SELECT qid, nid * $hnswStride AS entry_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, nid ASC) AS rn FROM uv$uHops)
       | WHERE rn <= $graphAnnDefaultBeam),
       |wh0 AS MATERIALIZED (
       | SELECT x.qid, x.nid, ${cosq("n.emb")} AS cosine
       | FROM (SELECT DISTINCT qid, nid FROM (
       |    SELECT qid, entry_id AS nid FROM bestE
       |    UNION ALL
       |    SELECT b.qid, ed.dst AS nid FROM bestE b
       |      JOIN edges0 ed ON ed.src = b.entry_id)
       |   WHERE nid <> qid) x
       |  JOIN q ON q.qid = x.qid JOIN e n ON n.vec_id = x.nid),
       |${(1 to wHops).map(h => hop(h, "w", "edges0", "e", excl = true))
          .mkString(",\n")}
       |SELECT qid, rnk, nid AS neighbor_id, cosine FROM (
       | SELECT *, row_number() OVER (PARTITION BY qid
       |   ORDER BY cosine DESC, nid ASC) AS rnk FROM wv$wHops)
       |WHERE rnk <= 5""".stripMargin
  }

  private def s33OracleSql: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
        |p AS (
        | SELECT qid, vec_id,
        |  round(list_dot_product(qemb, emb) /
        |   (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))), 6) AS cosine
        | FROM e, q WHERE vec_id <> qid),
        |r AS (SELECT qid, vec_id, cosine,
        |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rnk
        | FROM p)
        |SELECT qid, rnk, vec_id AS neighbor_id, cosine FROM r WHERE rnk <= 5""".stripMargin

  private def s37OracleSql: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, emb AS qemb, cid AS qcell FROM cell WHERE vec_id < 10),
        |cand AS (
        | SELECT q.qid, cell.vec_id,
        |  round(list_dot_product(q.qemb, cell.emb) /
        |   (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(cell.emb, cell.emb))), 6) AS cosine
        | FROM q JOIN cell ON cell.cid = q.qcell AND cell.vec_id <> q.qid)
        |SELECT qid, rnk, vec_id AS neighbor_id, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid
        |   ORDER BY cosine DESC, vec_id ASC) AS rnk FROM cand)
        |WHERE rnk <= 3""".stripMargin

  def oracle: Map[String, String] = Map(
    "s62_pq_budget_sweep" -> s62Oracle,
    "s63_multiprobe_lsh" -> s63Oracle,
    // s37's cell CTEs, both arms ranked to 10 with the identical
    // rounded-cosine + vec_id order, prefixes read off via the 4-row
    // k table
    "s68_recall_at_k" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, emb AS qemb, cid AS qcell FROM cell WHERE vec_id < 10),
        |ext AS (
        | SELECT qid, vec_id, rn AS re FROM (
        |  SELECT q.qid, e.vec_id,
        |   row_number() OVER (PARTITION BY q.qid ORDER BY
        |    round(list_dot_product(q.qemb, e.emb) /
        |     (sqrt(list_dot_product(q.qemb, q.qemb))
        |      * sqrt(list_dot_product(e.emb, e.emb))), 6) DESC,
        |    e.vec_id ASC) AS rn
        |  FROM q, e WHERE e.vec_id <> q.qid) WHERE rn <= 10),
        |apt AS (
        | SELECT qid, vec_id, rn AS ra FROM (
        |  SELECT q.qid, cell.vec_id,
        |   row_number() OVER (PARTITION BY q.qid ORDER BY
        |    round(list_dot_product(q.qemb, cell.emb) /
        |     (sqrt(list_dot_product(q.qemb, q.qemb))
        |      * sqrt(list_dot_product(cell.emb, cell.emb))), 6) DESC,
        |    cell.vec_id ASC) AS rn
        |  FROM q JOIN cell ON cell.cid = q.qcell AND cell.vec_id <> q.qid)
        | WHERE rn <= 10),
        |ks(k) AS (VALUES (1), (3), (5), (10)),
        |m AS (
        | SELECT ext.qid, ext.re, apt.ra
        | FROM ext JOIN apt ON ext.qid = apt.qid AND ext.vec_id = apt.vec_id),
        |h AS (
        | SELECT k, qid, count(*) AS n FROM m, ks
        | WHERE re <= k AND ra <= k GROUP BY 1, 2)
        |SELECT CAST(ks.k AS BIGINT) AS k, q.qid,
        | CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        | round(coalesce(h.n, 0) / ks.k, 4) AS recall
        |FROM q CROSS JOIN ks
        |LEFT JOIN h ON h.k = ks.k AND h.qid = q.qid""".stripMargin,
    // the identical code/recon double expressions (floor of the same
    // IEEE quotient) over the exact per-dim min/max; errors quantize
    // to integer micro-units so the SSE sum is order-free
    "s64_sq8_quant" ->
      s"""WITH $sq8CteSql,
        |err AS (
        | SELECT vec_id, dim, vmin, vmax, code,
        |  CAST(round((v - recon) * 1000000) AS BIGINT) AS eu
        | FROM enc)
        |SELECT dim, count(*) AS n_vals,
        | max(vmin) AS vmin, max(vmax) AS vmax,
        | count(DISTINCT code) AS n_codes,
        | CAST(sum(eu * eu) AS BIGINT) AS sse_u,
        | CAST(max(abs(eu)) AS BIGINT) AS max_abs_eu
        |FROM err GROUP BY 1""".stripMargin,
    // the same sq8 CTE prefix; both arms replay the bounded heap's
    // (cosine DESC, vec_id ASC) order as a row_number
    "s65_sq8_recall" -> s65OracleSql,
    // each codec row wraps its twin's full oracle as a subquery (the
    // s45 composition rule); the float32 row is definitional in both
    // engines
    "s69_codec_frontier" ->
      s"""SELECT CAST('float32' AS VARCHAR) AS codec,
        | CAST(256 AS BIGINT) AS bytes_per_vector,
        | CAST(10 AS BIGINT) AS n_queries,
        | CAST(100 AS BIGINT) AS total_hits,
        | CAST(1.0 AS DOUBLE) AS mean_recall_at_10
        |UNION ALL
        |SELECT 'sq8', 64, count(*), CAST(sum(n_hits) AS BIGINT),
        | round(sum(n_hits) / CAST(10 * count(*) AS DOUBLE), 4)
        |FROM ($s65OracleSql) s65q
        |UNION ALL
        |SELECT 'binary', 8, count(*), CAST(sum(n_hits) AS BIGINT),
        | round(sum(n_hits) / CAST(10 * count(*) AS DOUBLE), 4)
        |FROM ($s67OracleSql) s67q""".stripMargin,
    // the identical integer-micro-unit threshold compare and two-half
    // bit packing; popcounts are exact integers in both engines
    "s66_binary_quant" ->
      s"""WITH $binCteSql
        |SELECT vec_id, code_lo, code_hi,
        | CAST(bit_count(code_lo) + bit_count(code_hi) AS BIGINT)
        |  AS n_bits_set
        |FROM codes""".stripMargin,
    // the same codes CTE; the exact arm replays the bounded heap's
    // (cosine DESC, vec_id ASC) order, the binary arm the integer
    // (hamming ASC, vec_id ASC) order — no rounding discipline needed
    // on Hamming, it is already an exact small integer
    "s67_hamming_recall" -> s67OracleSql,
    // raw list_dot_product top-5 with the identical (ip DESC, vec_id
    // ASC) heap order; the norm-augmentation re-rank replays as a
    // second row_number within the kept 5, M/‖q‖ computed with the
    // same sqrt/multiply shapes so the 6-dp rounds agree
    "s60_mips_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |mx AS (SELECT sqrt(max(list_dot_product(emb, emb))) AS mnorm FROM e),
        |q AS (SELECT vec_id AS qid, emb AS qemb,
        |        sqrt(list_dot_product(emb, emb)) AS qnorm
        |      FROM e WHERE vec_id < 10),
        |p AS (
        | SELECT qid, e.vec_id, qnorm,
        |  list_dot_product(qemb, e.emb) AS ipr
        | FROM e, q WHERE e.vec_id <> qid),
        |r AS (
        | SELECT qid, vec_id, round(ipr, 6) AS ip,
        |  round(ipr / (qnorm * (SELECT mnorm FROM mx)), 6) AS aug_cos
        | FROM p),
        |t AS (
        | SELECT *, row_number() OVER (PARTITION BY qid
        |   ORDER BY ip DESC, vec_id ASC) AS rnk FROM r),
        |k AS (SELECT * FROM t WHERE rnk <= 5),
        |a AS (
        | SELECT *, row_number() OVER (PARTITION BY qid
        |   ORDER BY aug_cos DESC, vec_id ASC) AS aug_rnk FROM k)
        |SELECT qid, rnk, vec_id AS neighbor_id, ip, aug_cos,
        | (rnk = aug_rnk) AS rank_match
        |FROM a""".stripMargin,
    // the greedy MMR recurrence unrolled into the same 3 steps (the
    // q98 discipline): top-8 slate on the 6-dp rounded cosine, then
    // two arg-max CTEs over the INTEGER micro-unit score
    // 7·rel_u − 3·max-sim_u (λ=0.7 ×10) with vec_id tie-breaks —
    // bit-exact in both engines, /1e7 only at display
    "s61_mmr_diversify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
        |sc AS (
        | SELECT qid, e.vec_id, e.emb,
        |  round(list_dot_product(qemb, e.emb) /
        |   (sqrt(list_dot_product(qemb, qemb)) *
        |    sqrt(list_dot_product(e.emb, e.emb))), 6) AS rel
        | FROM e, q WHERE e.vec_id <> qid),
        |cand AS (
        | SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, vec_id ASC) AS rnk FROM sc)
        | WHERE rnk <= 8),
        |s1 AS (SELECT qid, vec_id AS v1, rel AS rel1, emb AS e1
        |       FROM cand WHERE rnk = 1),
        |c2 AS (
        | SELECT c.qid, c.vec_id, c.rel, c.emb,
        |  7 * CAST(round(c.rel * 1e6) AS BIGINT) - 3 *
        |   CAST(round(round(list_dot_product(c.emb, s1.e1) /
        |    (sqrt(list_dot_product(c.emb, c.emb)) *
        |     sqrt(list_dot_product(s1.e1, s1.e1))), 6) * 1e6) AS BIGINT)
        |   AS score_u
        | FROM cand c JOIN s1 USING (qid) WHERE c.rnk > 1),
        |s2 AS (
        | SELECT qid, vec_id AS v2, rel AS rel2, score_u AS score2_u,
        |  emb AS e2
        | FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY score_u DESC, vec_id ASC) AS rn FROM c2)
        | WHERE rn = 1),
        |c3 AS (
        | SELECT c.qid, c.vec_id, c.rel,
        |  7 * CAST(round(c.rel * 1e6) AS BIGINT) - 3 * greatest(
        |   CAST(round(round(list_dot_product(c.emb, s1.e1) /
        |    (sqrt(list_dot_product(c.emb, c.emb)) *
        |     sqrt(list_dot_product(s1.e1, s1.e1))), 6) * 1e6) AS BIGINT),
        |   CAST(round(round(list_dot_product(c.emb, s2.e2) /
        |    (sqrt(list_dot_product(c.emb, c.emb)) *
        |     sqrt(list_dot_product(s2.e2, s2.e2))), 6) * 1e6) AS BIGINT))
        |   AS score_u
        | FROM cand c JOIN s1 USING (qid) JOIN s2 USING (qid)
        | WHERE c.vec_id <> s1.v1 AND c.vec_id <> s2.v2),
        |s3 AS (
        | SELECT qid, vec_id AS v3, rel AS rel3, score_u AS score3_u
        | FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY score_u DESC, vec_id ASC) AS rn FROM c3)
        | WHERE rn = 1)
        |SELECT qid, CAST(1 AS BIGINT) AS step, v1 AS picked_id,
        | rel1 AS rel, rel1 AS mmr_score FROM s1
        |UNION ALL
        |SELECT qid, CAST(2 AS BIGINT), v2, rel2, score2_u / 1e7 FROM s2
        |UNION ALL
        |SELECT qid, CAST(3 AS BIGINT), v3, rel3, score3_u / 1e7 FROM s3""".stripMargin,
    // s37's fixed-quantizer cell CTEs verbatim; the drop rule replays
    // as a within-cell pair list filtered on the 6-dp rounded cosine,
    // keep = no lower-id neighbor at or above the threshold
    "d51_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |p AS (
        | SELECT a.vec_id AS ia, b.vec_id AS ib,
        |  round(list_dot_product(a.emb, b.emb) /
        |   (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS c
        | FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |dropped AS (SELECT DISTINCT ib AS vec_id FROM p WHERE c >= 0.35)
        |SELECT cell.vec_id, cell.cid, (d.vec_id IS NULL) AS keep
        |FROM cell LEFT JOIN dropped d ON cell.vec_id = d.vec_id""".stripMargin,
    // d51's cell/pair CTEs reduced to per-vector max-cosine, the same
    // three threshold counts over the one aggregate
    "d62_semdedup_sweep" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |p AS (
        | SELECT b.vec_id AS ib,
        |  round(list_dot_product(a.emb, b.emb) /
        |   (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS c
        | FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |mx AS (SELECT ib AS vec_id, max(c) AS maxc FROM p GROUP BY 1),
        |agg AS (
        | SELECT count(*) AS nv,
        |  CAST(sum(CASE WHEN maxc >= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d30,
        |  CAST(sum(CASE WHEN maxc >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d35,
        |  CAST(sum(CASE WHEN maxc >= 0.40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d40
        | FROM cell LEFT JOIN mx USING (vec_id))
        |SELECT CAST(0.3 AS DOUBLE) AS tau, nv AS n_vectors,
        | d30 AS n_dropped, round(d30 / nv, 4) AS drop_rate FROM agg
        |UNION ALL
        |SELECT CAST(0.35 AS DOUBLE), nv, d35, round(d35 / nv, 4) FROM agg
        |UNION ALL
        |SELECT CAST(0.4 AS DOUBLE), nv, d40, round(d40 / nv, 4) FROM agg""".stripMargin,
    // s37's cell CTEs widened with label; the metadata predicate joins
    // into candidate generation exactly like the Spark plan, and the
    // top-3 replays via row_number on the same (cosine DESC, vec_id)
    // total order
    "s52_filtered_ann" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.label, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, label, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, emb AS qemb, cid AS qcell, label AS qlabel
        |  FROM cell WHERE vec_id < 10),
        |cand AS (
        | SELECT q.qid, q.qlabel, cell.vec_id,
        |  round(list_dot_product(q.qemb, cell.emb) /
        |   (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(cell.emb, cell.emb))), 6) AS cosine
        | FROM q JOIN cell ON cell.cid = q.qcell AND cell.label = q.qlabel
        |   AND cell.vec_id <> q.qid)
        |SELECT qid, qlabel AS label, rnk, vec_id AS neighbor_id, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid
        |   ORDER BY cosine DESC, vec_id ASC) AS rnk FROM cand)
        |WHERE rnk <= 3""".stripMargin,
    // s52's CTE chain with the label predicate INVERTED for the
    // negative stream plus a group-max positive cosine; the margin
    // subtracts the same 6-dp-rounded operands in both engines
    "s70_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.label, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, label, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, emb AS qemb, cid AS qcell, label AS qlabel
        |  FROM cell WHERE vec_id < 10),
        |scored AS (
        | SELECT q.qid, q.qlabel, cell.vec_id, cell.label,
        |  round(list_dot_product(q.qemb, cell.emb) /
        |   (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(cell.emb, cell.emb))), 6) AS cosine
        | FROM q JOIN cell ON cell.cid = q.qcell AND cell.vec_id <> q.qid),
        |negs AS (
        | SELECT qid, qlabel, vec_id, label, cosine, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, vec_id ASC) AS rnk
        |  FROM scored WHERE label <> qlabel) WHERE rnk <= 3),
        |pos AS (
        | SELECT qid AS pqid, max(cosine) AS pos_cosine
        | FROM scored WHERE label = qlabel GROUP BY 1)
        |SELECT qid, qlabel, rnk, vec_id AS neg_id, label AS neg_label,
        | cosine AS neg_cosine, pos_cosine,
        | round(cosine - pos_cosine, 6) AS margin,
        | coalesce(cosine >= pos_cosine, false) AS is_violation
        |FROM negs LEFT JOIN pos ON qid = pqid""".stripMargin,
    // the greedy farthest-point traversal unrolled as k=4 CTE steps:
    // each step's winner is the max min-distance row under the same
    // (mind DESC, vec_id ASC) total order the Spark TakeOrdered uses,
    // distances on the identical 6-dp rounded cosine
    "q98_kcenter_coreset" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p1 AS (SELECT emb FROM e WHERE vec_id = 0),
        |d1 AS (
        | SELECT e.vec_id, e.emb,
        |  1.0 - round(list_dot_product(e.emb, p1.emb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(p1.emb, p1.emb))), 6) AS mind
        | FROM e CROSS JOIN p1 WHERE e.vec_id <> 0),
        |s2 AS (SELECT vec_id, mind FROM d1 ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |p2 AS (SELECT e.emb FROM e JOIN s2 ON e.vec_id = s2.vec_id),
        |d2 AS (
        | SELECT d1.vec_id, d1.emb, least(d1.mind,
        |  1.0 - round(list_dot_product(d1.emb, p2.emb) /
        |   (sqrt(list_dot_product(d1.emb, d1.emb)) * sqrt(list_dot_product(p2.emb, p2.emb))), 6)) AS mind
        | FROM d1 CROSS JOIN p2
        | WHERE d1.vec_id NOT IN (SELECT vec_id FROM s2)),
        |s3 AS (SELECT vec_id, mind FROM d2 ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |p3 AS (SELECT e.emb FROM e JOIN s3 ON e.vec_id = s3.vec_id),
        |d3 AS (
        | SELECT d2.vec_id, least(d2.mind,
        |  1.0 - round(list_dot_product(d2.emb, p3.emb) /
        |   (sqrt(list_dot_product(d2.emb, d2.emb)) * sqrt(list_dot_product(p3.emb, p3.emb))), 6)) AS mind
        | FROM d2 CROSS JOIN p3
        | WHERE d2.vec_id NOT IN (SELECT vec_id FROM s3)),
        |s4 AS (SELECT vec_id, mind FROM d3 ORDER BY mind DESC, vec_id ASC LIMIT 1)
        |SELECT 1 AS step, CAST(0 AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS min_dist
        |UNION ALL SELECT 2, vec_id, mind FROM s2
        |UNION ALL SELECT 3, vec_id, mind FROM s3
        |UNION ALL SELECT 4, vec_id, mind FROM s4""".stripMargin,
    // the lexical arm embeds t34's oracle verbatim (same map entry, so
    // the BM25 algebra literally cannot drift between the two queries);
    // ranks come from the identical ORDER BY ... LIMIT 50 + row_number
    // total order; CAST(1.0 AS DOUBLE) keeps the rrf terms out of
    // DuckDB's DECIMAL division path
    "s44_hybrid_rrf" ->
      s"""WITH lex AS (SELECT doc_id, bm25 FROM (${TextOps.oracle("t34_bm25")}) tl),
         |lex50 AS (SELECT doc_id, bm25 FROM lex ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
         |lexr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank FROM lex50),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
         |sem AS (
         | SELECT vec_id, round(list_dot_product(qemb, emb) /
         |  (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))), 6) AS cosine
         | FROM e, q WHERE vec_id <> 0),
         |sem50 AS (SELECT vec_id, cosine FROM sem ORDER BY cosine DESC, vec_id ASC LIMIT 50),
         |semr AS (SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS sem_rank FROM sem50)
         |SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
         | l.lex_rank, s.sem_rank,
         | round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0)
         |     + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.sem_rank), 0.0), 6) AS rrf
         |FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.vec_id""".stripMargin,
    "s35_ann_lsh" -> s35Oracle,
    "d63_lsh_bucket_stats" -> d63Oracle,
    "s43_ivfpq_residual" -> s43Oracle,
    "s40_ivf_trained" -> s40Oracle,
    "s53_nprobe_sweep" -> s53Oracle,
    "s54_kmeans_elbow" -> s54Oracle,
    // the same per-row norm/dim fold and per-label reduction; the
    // expected dim is the corpus max in both engines
    "s55_embedding_qa" ->
      """WITH e AS (
        | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        | FROM embeddings),
        |b AS (
        | SELECT label, len(emb) AS dim,
        |  round(sqrt(list_sum(list_transform(emb, x -> x * x))), 6)
        |   AS norm
        | FROM e),
        |x AS (SELECT max(dim) AS exp_dim FROM b)
        |SELECT label, count(*) AS n_vectors,
        | CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_zero_norm,
        | CAST(sum(CASE WHEN dim <> x.exp_dim THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bad_dim,
        | min(norm) AS min_norm, round(avg(norm), 4) AS avg_norm,
        | max(norm) AS max_norm
        |FROM b, x GROUP BY 1""".stripMargin,
    "s41_pq_adc" -> s41Oracle,
    "s42_ivfpq_ann" -> s42Oracle,
    "s59_pq_distortion" -> s59Oracle,
    "s33_knn_bruteforce" -> s33OracleSql,
    // the same rounded-cosine scoring, (cosc DESC, cid ASC) top-2
    // order, and 4-dp rounded means with the +0.0 sign guard
    "s56_cell_separation" ->
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        | FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM e
        |          WHERE vec_id < 16),
        |sc AS (
        | SELECT e.vec_id, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) *
        |    sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e CROSS JOIN cents c),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY vec_id
        |   ORDER BY cosc DESC, cid ASC) AS rn
        | FROM sc),
        |per AS (
        | SELECT vec_id,
        |  max(CASE WHEN rn = 1 THEN cid END) AS cid,
        |  max(CASE WHEN rn = 1 THEN cosc END) AS best,
        |  max(CASE WHEN rn = 2 THEN cosc END) AS second
        | FROM r WHERE rn <= 2 GROUP BY 1)
        |SELECT cid, count(*) AS n_vectors,
        | round(avg(best), 4) + 0.0 AS avg_cohesion,
        | round(avg(second), 4) + 0.0 AS avg_contest,
        | round(avg(best - second), 4) + 0.0 AS avg_margin
        |FROM per GROUP BY 1""".stripMargin,
    // the filter applies to the ROUNDED cosine in both engines, so the
    // boundary rows agree exactly
    "s46_radius_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 5),
        |p AS (
        | SELECT qid, vec_id,
        |  round(list_dot_product(qemb, emb) /
        |   (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))), 6) AS cosine
        | FROM e, q WHERE vec_id <> qid)
        |SELECT qid, vec_id AS neighbor_id, cosine
        |FROM p WHERE cosine >= 0.2""".stripMargin,
    // composes s33 + all four index-variant oracles VERBATIM (the s45
    // discipline widened); the trained-model arms carry their captured
    // literals, populated by the fits the Spark query performed
    "s48_index_recall_matrix" -> {
      def arm(label: String, sql: String) =
        s"SELECT '$label' AS variant, qid, neighbor_id FROM (\n$sql\n) ${label}_arm"
      s"""WITH exact AS (
         | SELECT qid, neighbor_id FROM (${s33OracleSql}) ex WHERE rnk <= 3),
         |approx AS (
         |${arm("s37", s37OracleSql)}
         |UNION ALL
         |${arm("s40", s40Oracle)}
         |UNION ALL
         |${arm("s42", s42Oracle)}
         |UNION ALL
         |${arm("s43", s43Oracle)}),
         |vs(variant) AS (VALUES ('s37'), ('s40'), ('s42'), ('s43')),
         |pairs AS (SELECT vs.variant, e.qid, e.neighbor_id FROM exact e, vs)
         |SELECT p.variant, p.qid, count(*) AS k,
         | CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS hits,
         | round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) / count(*), 4) AS recall_at_3
         |FROM pairs p LEFT JOIN approx a
         |  ON p.variant = a.variant AND p.qid = a.qid
         |  AND p.neighbor_id = a.neighbor_id
         |GROUP BY 1, 2""".stripMargin
    },
    // composes the s33 and s37 oracle SQL VERBATIM (the s44 discipline:
    // shared text, so the arms cannot drift from their registry twins)
    // composes s33's SQL verbatim for the ground truth; the truncated
    // arm slices the same DOUBLE[] to its 16-dim prefix in both engines
    "s51_truncated_dim_recall" ->
      s"""WITH exact AS (
         | SELECT qid, neighbor_id FROM (${s33OracleSql}) x WHERE rnk <= 3),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |te AS (SELECT vec_id, emb[1:16] AS temb FROM e),
         |q AS (SELECT vec_id AS qid, temb AS qemb FROM te WHERE vec_id < 10),
         |p AS (
         | SELECT qid, vec_id,
         |  round(list_dot_product(qemb, temb) /
         |   (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(temb, temb))), 6) AS tcos
         | FROM te, q WHERE vec_id <> qid),
         |r AS (
         | SELECT qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY tcos DESC, vec_id ASC) AS rnk FROM p) rr
         | WHERE rnk <= 3)
         |SELECT e2.qid, count(*) AS k,
         | CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS hits,
         | round(CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   / count(*), 4) AS recall_at_3
         |FROM exact e2 LEFT JOIN r
         |  ON e2.qid = r.qid AND e2.neighbor_id = r.vec_id
         |GROUP BY 1""".stripMargin,
    "s45_ann_recall" ->
      s"""WITH exact AS (
         | SELECT qid, neighbor_id FROM (${s33OracleSql}) x WHERE rnk <= 3),
         |approx AS (
         | SELECT qid AS aqid, neighbor_id AS aneib FROM (${s37OracleSql}) y)
         |SELECT e.qid, count(*) AS k,
         | CAST(sum(CASE WHEN a.aneib IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS hits,
         | round(CAST(sum(CASE WHEN a.aneib IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   / count(*), 4) AS recall_at_3
         |FROM exact e LEFT JOIN approx a
         |  ON e.qid = a.aqid AND e.neighbor_id = a.aneib
         |GROUP BY 1""".stripMargin,
    "s34_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT a.vec_id AS ia, b.vec_id AS ib,
        | round(list_dot_product(a.emb, b.emb) /
        |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb) /
        |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4""".stripMargin,
    "s37_ivf_ann" -> s37OracleSql,
    // s37's cell CTEs + the s36 range-explode mean, joined back onto
    // the exploded centroid components with identical rounding
    "s58_centroid_shift" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |mean AS (
        | SELECT cid, i, count(*) AS n, round(avg(emb[i]), 6) AS mean_v
        | FROM cell, range(1, 65) r(i) GROUP BY 1, 2),
        |cd AS (SELECT cid, i, cemb[i] AS cv FROM c, range(1, 65) r(i))
        |SELECT mean.cid, CAST(max(mean.n) AS BIGINT) AS n_members,
        | round(sum(abs(mean.mean_v - cd.cv)), 4) AS l1_shift,
        | round(max(abs(mean.mean_v - cd.cv)), 6) AS max_dim_shift
        |FROM mean JOIN cd ON mean.cid = cd.cid AND mean.i = cd.i
        |GROUP BY 1""".stripMargin,
    // s37's fixed-quantizer cell CTEs verbatim (incl. the cosc the
    // Spark side rounds to 6 before averaging); the delta flag is the
    // same row-local mod-10 predicate, the means replay as avg(CASE)
    "s57_index_update" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, cid, cosc, (vec_id % 10 = 0) AS is_delta FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |g AS (
        | SELECT cid,
        |  CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_base,
        |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_delta,
        |  round(avg(CASE WHEN NOT is_delta THEN cosc END), 4) + 0.0
        |    AS base_cohesion,
        |  round(avg(CASE WHEN is_delta THEN cosc END), 4) + 0.0
        |    AS delta_cohesion
        | FROM cell GROUP BY 1)
        |SELECT cid, n_base, n_delta,
        | round(n_delta / greatest(n_base, 1), 4) AS growth,
        | base_cohesion, delta_cohesion,
        | round(delta_cohesion - base_cohesion, 4) AS drift
        |FROM g""".stripMargin,
    // the s49 cell CTEs + s39's quantization rendering; both ranking
    // stages replay via row_number on the same rounded scores and id
    // tie-breaks
    "s50_two_stage_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |qz AS (SELECT vec_id, cid, emb,
        |  list_transform(emb, x -> round(x * 127.0) / 127.0) AS qe FROM cell),
        |qs AS (SELECT vec_id AS qid, qe AS qq, emb AS qemb, cid AS qcell
        |  FROM qz WHERE vec_id < 10),
        |s1 AS (
        | SELECT q.qid, z.vec_id, z.emb, q.qemb,
        |  round(list_dot_product(q.qq, z.qe) /
        |   (sqrt(list_dot_product(q.qq, q.qq)) * sqrt(list_dot_product(z.qe, z.qe))), 6) AS qcos
        | FROM qz z JOIN qs q ON z.cid = q.qcell AND z.vec_id <> q.qid),
        |c20 AS (
        | SELECT qid, vec_id, emb, qemb FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY qcos DESC, vec_id ASC) AS rn FROM s1) WHERE rn <= 20),
        |rescored AS (
        | SELECT qid, vec_id,
        |  round(list_dot_product(qemb, emb) /
        |   (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))), 6) AS cosine
        | FROM c20)
        |SELECT qid, rnk, vec_id AS neighbor_id, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid
        |   ORDER BY cosine DESC, vec_id ASC) AS rnk FROM rescored)
        |WHERE rnk <= 5""".stripMargin,
    // the s47 cell CTEs verbatim, reduced to per-cell counts; the
    // total rides as a scalar subquery
    "s49_ivf_cell_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1)
        |SELECT cid, count(*) AS n_vectors,
        | round(count(*) / CAST((SELECT count(*) FROM cell) AS DOUBLE), 4)
        |   AS frac
        |FROM cell GROUP BY 1""".stripMargin,
    // the s37 cell CTE without the query filter; row_number replays
    // the bounded heap's (cosine DESC, id ASC) total order
    "s47_knn_graph" -> s47OracleSql,
    // s47's SQL verbatim as the edge table (the s45 composed-SQL
    // discipline), then the two expansion supersteps unrolled as
    // chained CTEs — each hop is the identical beam/walk/anti-join/
    // score sequence the Spark plan runs
    "s71_graph_ann" -> s71OracleSql,
    // hash-mix init + the NN-descent supersteps unrolled by the shared
    // (K, iters) constants — both engines run one fixed-point
    "s72_nndescent_knn_graph" -> s72OracleSql,
    // the shared walk generator over s72's SQL verbatim — the same
    // algorithm as s71's oracle, different edge table
    "s73_graph_ann_nndescent" -> s73OracleSql,
    // the chain generator twice (both layers) + both walks unrolled
    "s74_hnsw_entry_search" -> s74OracleSql,
    "s39_scalar_quantization" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |sim AS (
        | SELECT e.vec_id, e.emb, c.cid,
        |  round(list_dot_product(e.emb, c.cemb) /
        |   (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))), 6) AS cosc
        | FROM e, c),
        |cell AS (
        | SELECT vec_id, emb, cid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosc DESC, cid ASC) AS rn FROM sim) WHERE rn = 1),
        |q AS (SELECT vec_id, cid, emb,
        |  list_transform(emb, x -> round(x * 127.0) / 127.0) AS qe FROM cell),
        |p AS (
        | SELECT a.vec_id AS ia, b.vec_id AS ib,
        |  list_dot_product(a.emb, b.emb) /
        |   (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS ce,
        |  list_dot_product(a.qe, b.qe) /
        |   (sqrt(list_dot_product(a.qe, a.qe)) * sqrt(list_dot_product(b.qe, b.qe))) AS cq
        | FROM q a JOIN q b ON a.cid = b.cid AND a.vec_id < b.vec_id)
        |SELECT ia, ib, round(ce, 4) AS cos_exact, round(cq, 4) AS cos_quant,
        | round(abs(ce - cq), 4) AS quant_err
        |FROM p WHERE ce >= 0.4""".stripMargin,
    "s38_vector_normalize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
        | round(emb[i] / sqrt(list_dot_product(emb, emb)), 6) AS nval
        |FROM e, range(1, 65) r(i)""".stripMargin,
    "s36_label_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        | round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid,
        | count(*) AS n
        |FROM embeddings, range(1, 65) r(i)
        |GROUP BY label, i""".stripMargin
  )
}
