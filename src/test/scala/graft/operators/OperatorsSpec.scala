package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Blocks, SparkEntry, SparkTestBase}

class OperatorsSpec extends AnyFunSuite with SparkTestBase {

  def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin picks latest right row <= left time, inclusive, per key") {
    import spark.implicits._
    val trades = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1L),
      ("A", ts("2024-01-01 10:05:00"), 2L),
      ("A", ts("2024-01-01 09:00:00"), 3L),   // before any quote
      ("B", ts("2024-01-01 10:00:00"), 4L)
    ).toDF("sym", "tts", "trade_id")
    val quotes = Seq(
      ("A", ts("2024-01-01 09:30:00"), 100.0),
      ("A", ts("2024-01-01 10:00:00"), 101.0), // inclusive match for trade 1
      ("A", ts("2024-01-01 10:04:00"), 102.0),
      ("B", ts("2024-01-01 09:59:00"), 200.0)
    ).toDF("sym", "qts", "px")
    val out = AsOfJoin.asofJoin(trades, quotes, Seq("sym"), "tts", "qts")
      .collect().map(r => r.getLong(r.fieldIndex("trade_id")) ->
        (if (r.isNullAt(r.fieldIndex("asof_px"))) None
         else Some(r.getDouble(r.fieldIndex("asof_px"))))).toMap
    assert(out(1L) === Some(101.0)) // inclusive: same-timestamp quote wins
    assert(out(2L) === Some(102.0))
    assert(out(3L) === None)        // no quote yet → null (left join)
    assert(out(4L) === Some(200.0))
  }

  test("NATIVE asofJoin (custom plan+exec) matches the fixture semantics") {
    import spark.implicits._
    val trades = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1L),
      ("A", ts("2024-01-01 10:05:00"), 2L),
      ("A", ts("2024-01-01 09:00:00"), 3L),
      ("B", ts("2024-01-01 10:00:00"), 4L),
      ("C", ts("2024-01-01 10:00:00"), 5L)   // key with no quotes at all
    ).toDF("sym", "tts", "trade_id")
    val quotes = Seq(
      ("A", ts("2024-01-01 09:30:00"), 100.0),
      ("A", ts("2024-01-01 10:00:00"), 101.0),
      ("A", ts("2024-01-01 10:04:00"), 102.0),
      ("B", ts("2024-01-01 09:59:00"), 200.0)
    ).toDF("sym", "qts", "px")
    val out = AsOfJoinNativeApi.asofJoin(trades, quotes, Seq("sym"), "tts", "qts")
    assert(out.queryExecution.executedPlan.toString.contains("AsOfJoin "),
      "the custom physical operator must actually plan")
    val m = out.collect().map(r => r.getLong(r.fieldIndex("trade_id")) ->
      (if (r.isNullAt(r.fieldIndex("asof_px"))) None
       else Some(r.getDouble(r.fieldIndex("asof_px"))))).toMap
    assert(m(1L) === Some(101.0))
    assert(m(2L) === Some(102.0))
    assert(m(3L) === None)
    assert(m(4L) === Some(200.0))
    assert(m(5L) === None)  // key never seen on the right → null payload
  }

  test("NATIVE asofJoin: null time columns never match (not read as epoch 0)") {
    import spark.implicits._
    // a right row at the epoch would be the "latest <= lt" for every left
    // row if a null ts were misread as 0 — plant one to catch that
    val trades = Seq(
      ("A", Some(ts("2024-01-01 10:00:00")), 1L),
      ("A", None, 2L),                        // null left ts → matches nothing
      ("B", Some(ts("2024-01-01 10:00:00")), 3L)
    ).toDF("sym", "tts", "trade_id")
    val quotes = Seq(
      ("A", Some(ts("2024-01-01 09:30:00")), 100.0),
      ("A", None, 666.0),                     // null right ts → never a match
      ("B", Option.empty[Timestamp], 777.0)   // only quote for B is null-ts
    ).toDF("sym", "qts", "px")
    val m = AsOfJoinNativeApi.asofJoin(trades, quotes, Seq("sym"), "tts", "qts")
      .collect().map(r => r.getLong(r.fieldIndex("trade_id")) ->
        (if (r.isNullAt(r.fieldIndex("asof_px"))) None
         else Some(r.getDouble(r.fieldIndex("asof_px"))))).toMap
    assert(m(1L) === Some(100.0)) // real quote still wins over the null-ts one
    assert(m(2L) === None)        // null left time: unknown <= unknown → no match
    assert(m(3L) === None)        // B's only quote has null ts → no match
  }

  test("NATIVE asofJoin rejects non-long-backed time columns at the API") {
    import spark.implicits._
    val l = Seq(("A", "2024-01-01", 1L)).toDF("sym", "tts", "trade_id")
    val r = Seq(("A", "2024-01-01", 1.0)).toDF("sym", "qts", "px")
    val e = intercept[IllegalArgumentException] {
      AsOfJoinNativeApi.asofJoin(l, r, Seq("sym"), "tts", "qts")
    }
    assert(e.getMessage.contains("expected timestamp"))
  }

  test("native and composed as-of joins return identical results on events") {
    val composed = SparkEntry.queries("q37_asof_join")(spark, sf0001)
      .collect().map(_.toString).sorted
    val native = SparkEntry.queries("q58_asof_native")(spark, sf0001)
      .collect().map(_.toString).sorted
    assert(native.sameElements(composed))
  }

  test("asofJoin row count equals left row count (left-join semantics)") {
    val out = SparkEntry.queries("q37_asof_join")(spark, sf0001)
    val errors = graft.Tables.t(spark, sf0001, "events")
      .filter(col("event_type") === "error")
    assert(out.count() === errors.count())
  }

  test("NATIVE topKPerKey matches the window composition exactly") {
    import org.apache.spark.sql.expressions.Window
    val cust = graft.Tables.t(spark, sf0001, "customer")
    val native = TopKPerKeyApi.topKPerKey(cust, Seq("c_nationkey"),
      Seq(("c_acctbal", false), ("c_custkey", true)), 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val windowed = cust.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
    val a = native.collect().map(_.toString).sorted
    val b = windowed.collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("NATIVE topKPerKey plans through the custom exec with NO sort") {
    val cust = graft.Tables.t(spark, sf0001, "customer")
    val out = TopKPerKeyApi.topKPerKey(cust, Seq("c_nationkey"),
      Seq(("c_acctbal", false), ("c_custkey", true)), 3)
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("TopKPerKey"), "must plan through the custom exec")
    assert(!phys.toLowerCase.contains("sort"),
      s"bounded-heap exec must not require a sort, plan was:\n$phys")
  }

  test("NATIVE topKPerKey: groups smaller than k rank 1..size, ascending order") {
    import spark.implicits._
    val df = Seq(("a", 5), ("a", 1), ("a", 3), ("b", 9)).toDF("g", "v")
    val out = TopKPerKeyApi.topKPerKey(df, Seq("g"), Seq(("v", true)), 2)
      .select(col("g"), col("rnk"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(out === Set(("a", 1, 1), ("a", 2, 3), ("b", 1, 9)))
  }

  test("NATIVE topKPerKey under forced disk spill matches the window composition") {
    import org.apache.spark.sql.expressions.Window
    // ~2 KB bound → every partition spills multiple sorted runs; the
    // merge path must reproduce the no-spill (and window) result bit
    // for bit, including high key cardinality (c_custkey ≈ unique)
    spark.conf.set("spark.graft.topk.spillBytes", "2048")
    try {
      val cust = graft.Tables.t(spark, sf0001, "customer")
      val native = TopKPerKeyApi.topKPerKey(cust, Seq("c_nationkey"),
        Seq(("c_acctbal", false), ("c_custkey", true)), 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val windowed = cust.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
      val a = native.collect().map(_.toString).sorted
      val b = windowed.collect().map(_.toString).sorted
      assert(a.nonEmpty && a.sameElements(b))
      // adversarial cardinality: every row its own group — the map can
      // never hold the partition; correctness rides entirely on spills
      val perRow = TopKPerKeyApi.topKPerKey(cust, Seq("c_custkey"),
        Seq(("c_acctbal", false)), 1)
      assert(perRow.count() === cust.count())
      assert(perRow.filter(col("rnk") =!= 1).isEmpty)
    } finally spark.conf.unset("spark.graft.topk.spillBytes")
  }

  test("GraphRank: star-graph center outranks leaves; mass conserved up to truncation") {
    import spark.implicits._
    // K1,4 star: center 0, leaves 1..4
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("ia", "ib")
    val pr = GraphRank.pagerankFixedPoint(edges, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.size === 5)
    val center = pr(0L)
    (1L to 4L).foreach(l => assert(center > pr(l),
      s"center $center must outrank leaf ${pr(l)}"))
    // leaves are symmetric → identical ranks
    assert((2L to 4L).forall(l => pr(l) == pr(1L)))
    // integer truncation only ever loses mass, bounded by ~1 unit per
    // division per node per iteration
    val total = pr.values.sum
    assert(total <= GraphRank.Scale)
    assert(total > GraphRank.Scale - 1000L)
  }

  test("GraphRank: an empty edge list throws and leaves no persisted block behind") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("ia", "ib")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException](GraphRank.pagerankFixedPoint(edges))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  /** True when `t` or one of its causes carries `msg`. */
  private def raised(t: Throwable, msg: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains(msg)))

  test("GraphWalk: a checkpointed walk that fails after its first checkpoint throws and leaves no persisted block behind") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val nodes = (0L until 6L).map(i => (i, Seq(1.0, i.toDouble)))
      .toDF("nid", "nemb")
    val q = nodes.filter(col("nid") === 0)
      .select(col("nid").as("qid"), col("nemb").as("qemb"))
    val seeds = Seq((0L, 1L)).toDF("qid", "nid")
    // a chain i → i + 1 whose scan raises: hop 0 scores the seeds
    // alone, so the edges are first read by the hops after its
    // checkpoint, inside hop 2's
    val edges = spark.range(5).select(col("id").as("src"),
      when(col("id") === 2, raise_error(lit("poisoned edge")))
        .otherwise(col("id") + 1).as("dst"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](GraphWalk.beamWalk(q, nodes, edges, seeds,
      hops = 3, beam = 2, excludeQ = true, checkpointEvery = 2))
    assert(raised(e, "poisoned edge"), e)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("nndescentGraph: a superstep that fails releases the live generation") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val n = 200L
    // the init scans the vectors at most 3n times (the count and both
    // sides of its scoring join) and every superstep's scoring join
    // scans them again, so reads past 3n fail in a superstep, after
    // the init's checkpoint
    val limit = 3 * n
    NnDescentFault.reads.set(0L)
    val emb = udf { (v: Seq[Double]) =>
      if (NnDescentFault.reads.incrementAndGet() > limit)
        throw new IllegalStateException("poisoned superstep")
      v
    }.asNondeterministic()
    // from a file: a local frame's projection, the UDF included, would
    // be evaluated once on the driver while the init is planned
    val dir = java.nio.file.Files.createTempDirectory("graft-nnd")
    try {
      val file = dir.resolve("v.parquet").toString
      (0L until n).map(i => (i, Seq(1.0, (i * 7919 % 211).toDouble)))
        .toDF("vec_id", "v").write.parquet(file)
      val vecs = spark.read.parquet(file)
        .select(col("vec_id"), emb(col("v")).as("emb"))
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](
        graft.queries.SimilarityOps.nndescentGraph(vecs))
      assert(raised(e, "poisoned superstep"), e)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def persistent(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Blocks: a body that persists, checkpoints, releases a generation and then throws leaves no block behind") {
    val before = persistent()
    val e = intercept[IllegalStateException](Blocks.scoped { b =>
      val p = b.persist(spark.range(10).toDF("id"))
      val g0 = b.checkpoint(p.select((col("id") * 2).as("id")))
      b.checkpoint(g0.filter(col("id") > 4))
      b.release(g0)
      assert((persistent() -- before).size == 2, "the persist and one checkpoint")
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage == "body failed")
    assert(persistent() == before)
  }

  test("Blocks: a body that returns a derivation of its last checkpoint keeps exactly that checkpoint") {
    val before = persistent()
    var last: org.apache.spark.sql.DataFrame = null
    val out = Blocks.scoped { b =>
      val p = b.persist(spark.range(10).toDF("id"))
      val g0 = b.checkpoint(p.select((col("id") * 2).as("id")))
      last = b.checkpoint(g0.filter(col("id") > 4))
      b.release(g0)
      last.select((col("id") + 1).as("id"))
    }
    try {
      assert(persistent() -- before ==
        Set(org.apache.spark.sql.GraftBridge.checkpointRddId(last)))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(7L, 9L, 11L, 13L, 15L, 17L, 19L))
    } finally org.apache.spark.sql.GraftBridge.uncheckpoint(last)
  }

  test("Blocks: a body that returns rows leaves no block behind") {
    val before = persistent()
    val rows = Blocks.scoped { b =>
      val p = b.persist(spark.range(10).toDF("id"))
      b.checkpoint(p.filter(col("id") % 2 === 0)).collect().toSeq
    }
    assert(rows.size == 5)
    assert(persistent() == before)
  }

  test("IncrementalDedup: none/semi/bloom modes emit identical pairs") {
    import spark.implicits._
    val mk = (id: Long, text: String) => (id, text)
    val docs = Seq(
      mk(0L, "the quick brown fox jumps over the lazy dog today"),
      mk(1L, "completely different content about spark execution engines"),
      mk(2L, "the quick brown fox jumps over the lazy dog today"), // dup of 0, NEW
      mk(3L, "unrelated new arrival with novel tokens entirely")   // NEW
    ).toDF("doc_id", "text")
    val sh = docs
      .withColumn("w", split(trim(col("text")), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("shingles"))
      .withColumn("is_new", col("doc_id") >= 2L)
    def run(mode: String) = IncrementalDedup
      .pairs(sh, 0.8, mode, expectedNewShingles = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val none = run("none")
    assert(none === Set((0L, 2L, 1.0)),
      s"only the (old 0, new 2) exact dup pair qualifies, got $none")
    assert(run("semi") === none)
    assert(run("bloom") === none)
    graft.SparkEntry.release(spark)
  }

  test("d36 portable MinHash: found pairs are a subset of exact d28 with recall >= 0.9") {
    val d28 = SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001)
      .select(col("ia"), col("ib")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d36 = SparkEntry.queries("d36_minhash_banded")(spark, sf0001)
      .select(col("ia"), col("ib")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d36.subsetOf(d28), "confirm step must make banded pairs a subset of exact")
    assert(d28.nonEmpty && d36.size.toDouble / d28.size >= 0.9,
      s"banding recall ${d36.size}/${d28.size} below floor")
    graft.SparkEntry.release(spark)
  }

  test("saltedJoin produces exactly the plain join result") {
    val li = graft.Tables.t(spark, sf0001, "lineitem")
      .withColumnRenamed("l_partkey", "p_partkey")
    val part = graft.Tables.t(spark, sf0001, "part")
    val salted = SaltedJoin.saltedJoin(li, part, "p_partkey",
      Seq("l_orderkey", "l_linenumber"))
    val plain = li.join(part, "p_partkey")
    assert(salted.count() === plain.count())
    assert(salted.columns.sorted.sameElements(plain.columns.sorted))
    val a = salted.select(col("l_orderkey"), col("l_linenumber"), col("p_type"))
      .collect().map(_.toString).sorted
    val b = plain.select(col("l_orderkey"), col("l_linenumber"), col("p_type"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("pointInInterval range join equals the naive BETWEEN join") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val points = (0 until 500).map(i => (i.toLong, rng.nextDouble() * 1000))
      .toDF("pid", "v")
    val intervals = (0 until 50).map { i =>
      val lo = rng.nextDouble() * 900
      (i.toLong, lo, lo + rng.nextDouble() * 150)
    }.toDF("iid", "lo", "hi")
    val bucketed = RangeJoin
      .pointInInterval(points, intervals, "v", "lo", "hi", 50.0)
      .select(col("pid"), col("iid")).collect().map(_.toString).sorted
    val naive = points.join(intervals,
        col("v") >= col("lo") && col("v") <= col("hi"))
      .select(col("pid"), col("iid")).collect().map(_.toString).sorted
    assert(bucketed.sameElements(naive))
    assert(naive.nonEmpty)
  }

  test("GraftExtensions injects cosine_sim at session-extension level") {
    // mechanism check: the injector runs against a fresh extensions
    // object without error (full behavioral coverage of the expression
    // itself lives in VectorFunctionsSpec via the registry path)
    new graft.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = SparkEntry.queries("q45_approx_distinct")(spark, sf0001).head()
    val exact = SparkEntry.queries("q08_distinct_counts")(spark, sf0001).head()
    def rel(a: Long, e: Long) = math.abs(a - e).toDouble / e
    assert(rel(approx.getLong(0), exact.getLong(0)) < 0.05)
    assert(rel(approx.getLong(1), exact.getLong(1)) < 0.05)
    assert(rel(approx.getLong(2), exact.getLong(2)) < 0.05)
  }

  test("q90 KMV sketch estimates per-group distinct parts within 3 sigma") {
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("q90_kmv_distinct")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.t(spark, sf0001, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    for ((flag, (kept, kmv)) <- est) {
      val e = exact(flag)
      if (kept < 64) assert(kmv == e, s"$flag: below-k estimate must be exact")
      // KMV relative error ~ 1/sqrt(k-1) ≈ 12.6%; 3σ bound, fixed hash
      // so this is deterministic, not flaky
      else assert(math.abs(kmv - e).toDouble / e < 0.38,
        s"$flag: kmv=$kmv exact=$e")
    }
  }
}

/** Vector reads of the failing NN-descent test, counted across its
  * tasks (local mode runs them in this JVM). */
object NnDescentFault {
  val reads = new java.util.concurrent.atomic.AtomicLong
}
