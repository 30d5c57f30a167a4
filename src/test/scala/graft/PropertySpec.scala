package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.ml.ReefPipeline

/** Property-based invariants (SURVEY.md §5.2): L1-normalization,
  * reef family shares under arbitrary observations, cosine bounds,
  * dedup idempotence. Uses raw scalacheck generators with explicit
  * seeds (the scalatest-scalacheck bridge isn't in the offline cache),
  * so every run draws the same cases. */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  private def forAllSeeded[T](g: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  val vocab = Seq("f1", "f2", "f3", "f4", "f5")

  test("reef featurization: family shares L1-normalize unless all-unknown/zero") {
    import spark.implicits._
    // one survey's observations per case, through the pivot path
    // (countVectors + featurePipeline) that featurize runs
    val obsGen = Gen.listOfN(30, for {
      fam <- Gen.oneOf(vocab ++ Seq("unknownA", "unknownB"))
      tot <- Gen.choose(0.0, 9.0)
    } yield ("S0", 0.0, 0.0, fam, tot))
    forAllSeeded(obsGen, 10) { obs =>
      val vectors = ReefPipeline.countVectors(obs.toDF("SurveyID",
        "latitude", "longitude", "Family", "Total"), vocab)
      val out = ReefPipeline.featurePipeline(vocab, includeLatInFeatures = false)
        .fit(vectors).transform(vectors)
        .head().getAs[org.apache.spark.ml.linalg.Vector]("features").toArray
      val s = out.sum
      val known = obs.filter(o => vocab.contains(o._4)).map(_._5).sum
      assert(out.length === vocab.size)
      assert(if (known == 0.0) s == 0.0 else math.abs(s - 1.0) < 1e-9)
      assert(out.forall(_ >= 0.0))
    }
  }

  test("cosine_sim is bounded in [-1, 1] and symmetric") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val vecGen = Gen.listOfN(16, Gen.choose(-5.0, 5.0))
    val pairGen = for { a <- vecGen; b <- vecGen } yield (a, b)
    forAllSeeded(pairGen, 20) { case (a, b) =>
      val row = Seq((a, b)).toDF("a", "b").select(
        VectorFunctions.cosineSim(col("a"), col("b")).as("ab"),
        VectorFunctions.cosineSim(col("b"), col("a")).as("ba")).head()
      val (ab, ba) = (row.getDouble(0), row.getDouble(1))
      assert(ab >= -1.0 - 1e-12 && ab <= 1.0 + 1e-12)
      assert(ab === ba)
    }
  }

  test("exact dedup is idempotent: dedup(dedup(X)) == dedup(X)") {
    import spark.implicits._
    val docsGen = Gen.listOfN(40, Gen.oneOf(
      "alpha beta", "alpha beta", "gamma", "delta epsilon", "gamma"))
    forAllSeeded(docsGen, 10) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = df.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep"))
      val twice = once.groupBy(col("h")).agg(min(col("keep")).as("keep"))
      assert(once.count() === twice.count())
      assert(once.collect().map(_.toString).sorted
        .sameElements(twice.collect().map(_.toString).sorted))
    }
  }

  test("simhash48 signatures are invariant to partitioning (1 vs 32)") {
    import spark.implicits._
    // same docs, radically different physical layouts: the aggregate's
    // partial-merge (vector addition of vote buffers) must commute, and
    // the per-task MessageDigest must never cross-contaminate under 32
    // concurrent tasks
    val docGen = Gen.listOfN(60, for {
      id <- Gen.choose(0L, 11L)
      tok <- Gen.oneOf("alpha", "beta", "gamma", "δelta", "ε", "zw1", "")
    } yield (id, tok))
    forAllSeeded(docGen, 8) { rows =>
      val df = rows.toDF("doc_id", "tok")
      def sigs(parts: Int): Map[Long, Long] =
        df.repartition(parts).groupBy(col("doc_id"))
          .agg(graft.functions.SimHash48Agg.simhash48(col("tok")).as("sig"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val one = sigs(1)
      val many = sigs(32)
      assert(one === many)
      // 48-bit contract: no signature ever sets bits 48..63
      assert(one.values.forall(s => (s >>> 48) == 0L))
    }
  }

  test("salted join row count is invariant to salt fan-out") {
    import spark.implicits._
    val n = 200
    val fact = (0 until n).map(i => (i.toLong % 7, i.toLong)).toDF("k", "fid")
    val dim = (0L until 7L).map(k => (k, s"dim$k")).toDF("k", "name")
    for (salts <- Seq(1, 4, 16)) {
      val j = graft.operators.SaltedJoin.saltedJoin(fact, dim, "k",
        Seq("fid"), nSalts = salts)
      assert(j.count() === n.toLong, s"salts=$salts")
    }
  }

  test("q163 sweep identity holds on random tie-heavy interval sets (end-to-end)") {
    import spark.implicits._
    // the adversarial regime for the sweep's (t, delta) tie handling:
    // many intervals crammed into a 10-day window (equal starts, equal
    // ends, end==start of a neighbor, zero-length) across 2 suppliers —
    // driven through the REAL registry path via temp parquet, refereed
    // by the brute-force pairwise definition (strict half-open overlap)
    val caseGen = Gen.listOfN(30, for {
      supp <- Gen.choose(0L, 1L)
      start <- Gen.choose(0, 9)
      len <- Gen.choose(0, 3) // 0 ⇒ the b > a filter must drop it
    } yield (supp, start, start + len))
    forAllSeeded(caseGen, 6) { ivs =>
      val base = java.time.LocalDate.of(1997, 1, 1)
      val dir = java.nio.file.Files.createTempDirectory("q163prop").toString
      ivs.zipWithIndex.map { case ((_, a, _), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(
          base.plusDays(a).atStartOfDay)) }
        .toDF("o_orderkey", "o_orderdate")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      ivs.zipWithIndex.map { case ((sk, _, b), i) =>
        (i.toLong, sk, java.sql.Timestamp.valueOf(
          base.plusDays(b).atStartOfDay)) }
        .toDF("l_orderkey", "l_suppkey", "l_shipdate")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = SparkEntry.queries("q163_inflight_overlap")(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val valid = ivs.filter(x => x._3 > x._2)
      val expected = valid.groupBy(_._1).map { case (sk, xs) =>
        var pairs = 0L
        for (i <- xs.indices; j <- 0 until i)
          if (math.max(xs(i)._2, xs(j)._2) < math.min(xs(i)._3, xs(j)._3))
            pairs += 1
        val peak = (0 to 13).map(t =>
          xs.count(x => x._2 <= t && t < x._3)).max.toLong
        sk -> ((xs.length.toLong, pairs, peak))
      }
      assert(got === expected)
      SparkEntry.release(spark)
    }
  }

  test("cdc_chunks: on random token streams the kernel partitions the tokens exactly and digests match a driver fold") {
    import spark.implicits._
    VectorFunctions.register(spark)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // token alphabet mixes ascii words, unicode, digits-only, and
    // 1-char tokens; documents of 0..60 tokens
    val tokGen = Gen.oneOf(
      Gen.alphaNumStr.map(t => if (t.isEmpty) "x" else t.take(8)),
      Gen.oneOf("α", "βγ", "7", "Z9", "qz8#", "word"))
    val docGen = Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, tokGen))
    forAllSeeded(docGen, 25) { toks =>
      val text = toks.mkString(" ")
      val got = Seq(Tuple1(text)).toDF("text")
        .select(VectorFunctions.cdcChunks(col("text")).as("chs"))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getString(1)))
      // driver fold: same cut rule, same digests
      val expected = {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        val cur = scala.collection.mutable.ArrayBuffer.empty[String]
        // the kernel tokenizes the RENDERED text, which collapses
        // empty tokens from mkString of empty strings — replay that
        val w = if (text.trim.isEmpty) Array.empty[String]
          else text.trim.split("[ \t\n\f\r]+", -1)
        w.foreach { tk =>
          cur += tk
          if (java.lang.Long.parseLong(
              md5hex(tk).substring(0, 6), 16) % 8 == 0) {
            out += ((cur.size.toLong, md5hex(cur.mkString(" "))))
            cur.clear()
          }
        }
        if (cur.nonEmpty)
          out += ((cur.size.toLong, md5hex(cur.mkString(" "))))
        out.toSeq
      }
      assert(got === expected, s"text=[$text]")
      // invariants: chunk token counts partition the token stream,
      // and every digest is a 32-hex md5
      assert(got.map(_._1).sum ===
        (if (text.trim.isEmpty) 0L
         else text.trim.split("[ \t\n\f\r]+", -1).length.toLong))
      got.foreach { case (n, h) =>
        assert(n > 0 && h.length === 32 &&
          h.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      }
    }
  }

  test("gear_chunks_clamped: arbitrary payloads and clamps — partition, bounds, determinism") {
    import spark.implicits._
    VectorFunctions.register(spark)
    // payload mix deliberately includes the adversarial classes: zero
    // runs (gear state pinned at 0), constant bytes, and short inputs
    val payloadGen: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOfN(1, Gen.choose(0, 255)),
      Gen.choose(1, 500).flatMap(n => Gen.listOfN(n, Gen.choose(0, 255))),
      Gen.choose(1, 400).map(n => List.fill(n)(0)),
      Gen.choose(1, 400).flatMap(n =>
        Gen.choose(0, 255).map(b => List.fill(n)(b)))
    ).map(_.map(_.toByte).toArray)
    val caseGen = for {
      p <- payloadGen
      min <- Gen.choose(1, 64)
      extra <- Gen.choose(0, 256)
    } yield (p, min, min + extra)
    forAllSeeded(caseGen, 40) { case (payload, minC, maxC) =>
      val rows = Seq((0L, payload)).toDF("id", "payload")
        .select(VectorFunctions
          .gearChunksClamped(col("payload"), minC, maxC).as("chs"))
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(c => (c.getLong(0), c.getString(1)))
      val lens = rows.map(_._1)
      // chunks PARTITION the payload byte-exactly
      assert(lens.sum === payload.length.toLong,
        s"len=${payload.length} clamp=($minC,$maxC) lens=$lens")
      // every chunk but the last obeys [min, max]; the last obeys max
      assert(lens.dropRight(1).forall(l => l >= minC && l <= maxC),
        s"clamp violated: len=${payload.length} ($minC,$maxC) $lens")
      assert(lens.lastOption.forall(l => l >= 1 && l <= maxC))
      // digests are well-formed 32-hex md5s
      rows.foreach { case (_, h) =>
        assert(h.length === 32 &&
          h.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      }
      // deterministic: a second evaluation is byte-identical
      val again = Seq((0L, payload)).toDF("id", "payload")
        .select(VectorFunctions
          .gearChunksClamped(col("payload"), minC, maxC).as("chs"))
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(c => (c.getLong(0), c.getString(1)))
      assert(again === rows)
    }
  }
}
