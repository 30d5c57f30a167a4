package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** Semantic contracts for the r10 curation ops — the oracle proves
  * engine parity; these prove the operators mean what they claim. */
class CurationSpec extends AnyFunSuite with SparkTestBase {

  test("d51 semdedup: every dropped vector has a lower-id cell-mate at or above the threshold, every kept one does not") {
    val out = SparkEntry.queries("d51_semdedup")(spark, sf0001)
      .select("vec_id", "cid", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byCell = out.groupBy(_._2)
    // replay the rule driver-side from raw embeddings (small corpus)
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    var drops = 0
    for ((_, members) <- byCell; (id, _, keep) <- members) {
      val hasLowerNear = members.exists { case (o, _, _) =>
        o < id && cos6(embs(o), embs(id)) >= 0.35 }
      assert(keep === !hasLowerNear, s"vec $id keep=$keep but lower-near=$hasLowerNear")
      if (!keep) drops += 1
    }
    assert(drops > 0, "threshold must actually drop something on this corpus")
  }

  test("q98 k-center: greedy min-distances are non-increasing and selections are distinct") {
    val rows = SparkEntry.queries("q98_kcenter_coreset")(spark, sf0001)
      .orderBy("step").collect()
    assert(rows.length === 4)
    assert(rows.map(_.getLong(1)).distinct.length === 4)
    val dists = rows.drop(1).map(_.getDouble(2))
    // farthest-point traversal: each new pick covers the space, so the
    // next pick's distance can never exceed the previous one's
    assert(dists.sliding(2).forall(p => p(1) <= p(0) + 1e-12),
      s"min_dist must be non-increasing, got ${dists.mkString(",")}")
    assert(dists.forall(d => d >= 0.0 && d <= 2.0))
  }

  test("s52 filtered ANN: every neighbor carries the query's label, ranks contiguous") {
    val rows = SparkEntry.queries("s52_filtered_ann")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val labels = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (qid, lbl, nb) = (r.getLong(0), r.getInt(1), r.getLong(3))
      assert(labels(qid) === lbl, s"query $qid label mismatch")
      assert(labels(nb) === lbl, s"neighbor $nb of $qid breaks the label filter")
      assert(nb !== qid)
    }
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val rnks = rs.map(_.getInt(2)).sorted.toSeq
      assert(rnks === (1 to rnks.length), s"query $qid ranks $rnks not contiguous")
    }
  }

  test("s70 hard negatives: the full mining pipeline replays from raw embeddings") {
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val cents = embs.filter(_._1 < 16)
    def cellOf(v: Array[Double]): Long = cents
      .map(c => (c._1, cos6(v, c._3)))
      .maxBy { case (cid, c) => (c, -cid) }._1
    val cells = embs.map(e => e._1 -> cellOf(e._3)).toMap
    val expected = embs.filter(_._1 < 10).flatMap { case (qid, ql, qv) =>
      val mates = embs.filter(e => e._1 != qid && cells(e._1) == cells(qid))
      val posMax: Option[Double] = mates.filter(_._2 == ql)
        .map(e => cos6(qv, e._3))
        .reduceOption((a: Double, b: Double) => math.max(a, b))
      mates.filter(_._2 != ql)
        .map(e => (e._1, e._2, cos6(qv, e._3)))
        .sortBy { case (id, _, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((nid, nl, c), i) =>
          (qid, i + 1) -> ((ql, nid, nl, c, posMax,
            posMax.exists(c >= _))) }
    }.toMap
    val got = SparkEntry.queries("s70_hard_negatives")(spark, sf0001)
      .collect().map { r =>
        (r.getLong(0), r.getInt(2)) -> ((r.getInt(1), r.getLong(3),
          r.getInt(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          r.getBoolean(8)))
      }.toMap
    assert(got === expected)
    assert(got.values.exists(_._6), "violations must exist on this corpus")
    SparkEntry.release(spark)
  }

  test("t49 weighted median: half the token mass sits at or below the reported length, strictly less below it") {
    val med = SparkEntry.queries("t49_weighted_median")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("source"), col("n_chars"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((src, (total, medLen)) <- med) {
      val ds = docs.filter(_._1 == src)
      assert(ds.map(_._3).sum === total)
      val atOrBelow = ds.filter(_._2 <= medLen).map(_._3).sum
      val strictlyBelow = ds.filter(_._2 < medLen).map(_._3).sum
      assert(atOrBelow * 2 >= total, s"$src: median $medLen covers too little")
      assert(strictlyBelow * 2 < total, s"$src: $medLen is not minimal")
    }
  }

  test("q99 exact quantiles: ordered, and every quantile is an actual observed value") {
    val rows = SparkEntry.queries("q99_exact_quantiles")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val vals = graft.Tables.t(spark, sf0001, "events")
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { r =>
      val et = r.getString(0)
      val qs = (1 to 4).map(r.getDouble)
      assert(qs.sliding(2).forall(p => p(0) <= p(1)), s"$et quantiles out of order: $qs")
      qs.foreach(q => assert(vals(et).contains(q),
        s"$et quantile $q is not an observed value — selection must not interpolate"))
    }
  }

  test("d52 threshold sweep: pair and drop counts fall monotonically in tau, and tau=0.8 agrees with d28") {
    val rows = SparkEntry.queries("d52_threshold_sweep")(spark, sf0001)
      .orderBy("tau").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 5)
    assert(rows.sliding(2).forall(p => p(1)._2 <= p(0)._2),
      s"n_pairs must fall as tau rises: ${rows.mkString(",")}")
    assert(rows.sliding(2).forall(p => p(1)._3 <= p(0)._3),
      s"n_docs_dropped must fall as tau rises: ${rows.mkString(",")}")
    val at08 = rows.find(_._1 == 0.8).get._2
    val d28 = SparkEntry.queries("d28_neardup_jaccard")(spark, sf0001).count()
    assert(at08 === d28, s"sweep at 0.8 ($at08) must equal d28's pair count ($d28)")
    SparkEntry.release(spark)
  }

  test("q100 bootstrap: every replicate resamples ~the corpus and means stay inside the observed range") {
    val rows = SparkEntry.queries("q100_bootstrap_ci")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.length === 32)
    assert(rows.map(_._1).distinct.length === 32)
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("n_chars")).collect().map(_.getLong(0))
    val n = docs.length.toDouble
    rows.foreach { case (rep, nEff, mean) =>
      // Poisson(1) pseudo-counts: E[n_eff] = n, sd = sqrt(n) — 6 sigma
      assert(math.abs(nEff - n) < 6 * math.sqrt(n) + 1,
        s"replicate $rep n_eff=$nEff implausible for n=$n")
      assert(mean >= docs.min && mean <= docs.max)
    }
    // replicates must actually differ (resampling, not copying)
    assert(rows.map(_._3).distinct.length > 16)
  }

  test("s53 nprobe sweep: recall and scan cost both rise monotonically with probe count") {
    val rows = SparkEntry.queries("s53_nprobe_sweep")(spark, sf0001)
      .orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L))
    assert(rows.sliding(2).forall(p => p(1)._2 >= p(0)._2),
      s"recall must not drop as nprobe grows: $rows")
    assert(rows.sliding(2).forall(p => p(1)._3 >= p(0)._3),
      s"candidate count must not drop as nprobe grows: $rows")
    assert(rows.last._2 > 0.0, "nprobe=4 must recover some true neighbors")
    SparkEntry.release(spark)
  }

  test("t50 lang confusion: row fractions sum to one and doc counts cover the corpus") {
    val rows = SparkEntry.queries("t50_lang_confusion")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    val total = rows.map(_._2).sum
    assert(total === graft.Tables.t(spark, sf0001, "documents").count())
    rows.groupBy(_._1).foreach { case (lang, cells) =>
      val frac = cells.map(_._3).sum
      assert(math.abs(frac - 1.0) < 1e-3, s"$lang row fractions sum to $frac")
    }
  }

  test("t48 perplexity buckets: per-lang quartiles are balanced and ordered by perplexity") {
    val rows = SparkEntry.queries("t48_perplexity_buckets")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val byLang = rows.groupBy(_._1)
    for ((lang, bs) <- byLang) {
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq,
        s"$lang buckets must be contiguous from 1")
      // ntile balance: sizes differ by at most one, earlier >= later
      val sizes = sorted.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang sizes $sizes")
      assert(sizes.sameElements(sizes.sortBy(-_)), s"$lang extra rows must land in earlier buckets")
      // quartile ORDER: bucket b's max perplexity <= bucket b+1's min
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._5 <= b._4 + 1e-12,
          s"$lang bucket ${a._2} max ${a._5} > bucket ${b._2} min ${b._4}")
      }
    }
    SparkEntry.release(spark)
  }

  test("d53 fuzzy decontam: exact driver-side replay of the capped train-vs-test near-dup rule") {
    val out = SparkEntry.queries("d53_fuzzy_decontam")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // replay: shingle sets, q65 split, df<=50 rarity cap, shared-rare
    // candidate rule, exact Jaccard >= 0.5
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingleSet(t: String): Set[String] = {
      val w = t.trim.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      if (t.trim.isEmpty || w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def split(id: Long): String = {
      val b = java.lang.Long.parseLong(md5hex(id.toString).take(6), 16) % 100
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }
    val sh = docs.map { case (id, t) => id -> shingleSet(t) }
      .filter(_._2.nonEmpty).toMap
    val df = sh.toSeq.flatMap(_._2.toSeq).groupBy(identity)
      .map { case (s, xs) => s -> xs.size }
    val rare = df.filter(_._2 <= 50).keySet
    val expected = (for {
      (ta, sa) <- sh.toSeq if split(ta) == "train"
      (tb, sb) <- sh.toSeq if split(tb) == "test"
      if (sa & sb & rare).nonEmpty
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.5
    } yield (ta, jac)).groupBy(_._1)
      .map { case (id, xs) =>
        id -> (xs.size.toLong, math.rint(xs.map(_._2).max * 1e4) / 1e4) }
    assert(out === expected)
    assert(out.nonEmpty, "corpus must contain at least one fuzzy leak")
    SparkEntry.release(spark)
  }

  test("d54 band sweep: cost and recall fall as rows-per-band grows, and the r=4 arm is exactly d36") {
    val rows = SparkEntry.queries("d54_band_sweep")(spark, sf0001)
      .orderBy("rows_per_band").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(2, 4, 6, 8))
    rows.foreach { case (r, b, nc, nconf, rec) =>
      assert(b === 24 / r)
      assert(nconf <= nc, "confirmed pairs are a subset of candidates")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // operating-curve shape: fewer rows per band = more (or equal)
    // candidates and at-least-equal recall
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._3 >= hi._3, s"candidates must fall: r=${lo._1} ${lo._3} vs r=${hi._1} ${hi._3}")
      assert(lo._5 >= hi._5, s"recall must fall: r=${lo._1} ${lo._5} vs r=${hi._1} ${hi._5}")
    }
    val d36n = SparkEntry.queries("d36_minhash_banded")(spark, sf0001).count()
    assert(rows.find(_._1 == 4).get._4 === d36n,
      "the r=4 arm's confirmed count must equal d36's output")
    SparkEntry.release(spark)
  }

  test("q102 skew report: exact driver-side replay of gini and top-10 share") {
    val r = SparkEntry.queries("q102_skew_report")(spark, sf0001).collect()
    assert(r.length === 1)
    val (nRows, nKeys, maxC, top10, gini) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getDouble(3), r(0).getDouble(4))
    val counts = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(nKeys === counts.length.toLong)
    assert(nRows === counts.map(_._2).sum)
    assert(maxC === counts.map(_._2).max)
    val sorted = counts.sortBy(x => (x._2, x._1)).map(_._2)
    val s = sorted.zipWithIndex.map { case (c, i) => (i + 1).toLong * c }.sum
    val n = sorted.length.toLong
    val giniExp = (2.0 * s) / (n * nRows) - (n + 1.0) / n
    assert(math.abs(gini - giniExp) < 1e-6, s"gini $gini vs $giniExp")
    assert(gini >= 0.0 && gini < 1.0)
    val top10Exp = counts.map(_._2).sorted.reverse.take(10).sum
      .toDouble / nRows
    assert(math.abs(top10 - top10Exp) < 1e-6, s"top10 $top10 vs $top10Exp")
    SparkEntry.release(spark)
  }

  test("m42 batch packing: exact driver-side replay of the bucketed next-fit assignment") {
    val out = SparkEntry.queries("m42_batch_packing")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val budget = 16384L
    val assets = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8").length.toLong))
    val expected = assets.toSeq
      .map { case (id, b) => (id, b, (63 - java.lang.Long.numberOfLeadingZeros(math.max(b, 1L))).toLong) }
      .groupBy(_._3).toSeq.flatMap { case (cls, xs) =>
        var cum = 0L
        xs.sortBy(_._1).map { case (id, b, _) =>
          val batch = cum / budget; cum += b
          ((cls, batch), (id, b))
        }
      }.groupBy(_._1).map { case (k, xs) =>
        k -> ((xs.size.toLong, xs.map(_._2._2).sum, xs.map(_._2._1).min)) }
    assert(out === expected)
    // batches within a class are contiguous from 0
    out.keys.groupBy(_._1).foreach { case (cls, ks) =>
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids === (0L until ids.length).toSeq, s"class $cls batches $ids")
    }
    SparkEntry.release(spark)
  }

  test("q103 epoch plan: allocation identity holds and epochs respect the repeat cap") {
    val rows = SparkEntry.queries("q103_epoch_plan")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val k = rows.length.toLong
    val tot = rows.map(_._2).sum
    rows.foreach { case (src, n, target, epochs, eff, deficit) =>
      assert(target === (2L * tot) / k, s"$src target")
      assert(eff === math.min(4L * n, target), s"$src effective")
      assert(deficit === target - eff, s"$src deficit")
      assert(epochs > 0.0 && epochs <= 4.0, s"$src epochs $epochs")
      // deficit only exists when the cap binds
      if (deficit > 0) assert(math.abs(epochs - 4.0) < 1e-9)
    }
    SparkEntry.release(spark)
  }

  test("s54 elbow: inertia falls with k, cells stay within capacity, counts cover the corpus") {
    val rows = SparkEntry.queries("s54_kmeans_elbow")(spark, sf0001)
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq(4, 8, 16))
    val n = graft.Tables.t(spark, sf0001, "embeddings").count()
    rows.foreach { case (k, inertia, maxN, used) =>
      assert(inertia > 0.0)
      assert(used <= k && used >= 1)
      assert(maxN <= n && maxN >= n / k,
        s"k=$k max cell $maxN outside [${n / k}, $n]")
    }
    // the elbow property: more capacity never fits worse (separate
    // seeded fits, but monotone on any non-degenerate corpus)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 < lo._2, s"inertia must fall: k=${lo._1} ${lo._2} -> k=${hi._1} ${hi._2}")
    }
    SparkEntry.release(spark)
  }

  test("t51 calibration: quartiles partition the scored corpus with ordered perplexity ranges") {
    val rows = SparkEntry.queries("t51_signal_calibration")(spark, sf0001)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"ntile balance: ${sizes.toSeq}")
    // buckets cover exactly the t36-scored (>=2 token) documents
    val scored = SparkEntry.queries("t36_lm_perplexity")(spark, sf0001).count()
    assert(sizes.sum === scored)
    rows.foreach { case (_, n, keep, _, _, rate) =>
      assert(keep <= n)
      assert(math.abs(rate - keep.toDouble / n) < 1e-4)
    }
    // quartile ranges are ordered and disjoint
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._4, s"bucket ${a._1} max ${a._5} > bucket ${b._1} min ${b._4}")
    }
    // the keep totals agree with t35 restricted to the scored domain
    val keepTotal = rows.map(_._3).sum
    val t35 = SparkEntry.queries("t35_quality_filter")(spark, sf0001)
      .select(col("doc_id"), col("keep"))
    val t36d = SparkEntry.queries("t36_lm_perplexity")(spark, sf0001)
      .select(col("doc_id"))
    val expectedKeep = t35.join(t36d, "doc_id")
      .filter(col("keep")).count()
    assert(keepTotal === expectedKeep)
    SparkEntry.release(spark)
  }

  test("d55 quality canonical: the elected survivor is the max-quality member, upgrades happen") {
    val out = SparkEntry.queries("d55_quality_canonical")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val members = SparkEntry.queries("d41_canonical_docs")(spark, sf0001)
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("cluster_rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val quality = SparkEntry.queries("t24_quality_score")(spark, sf0001)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    assert(out.keySet === members.map(_._2).toSet)
    members.groupBy(_._2).foreach { case (rep, ms) =>
      val best = ms.map(_._1).minBy(id => (-quality(id), id))
      val (size, bestId, bestQ, upgraded) = out(rep)
      assert(size === ms.length.toLong, s"cluster $rep size")
      assert(bestId === best, s"cluster $rep best")
      assert(bestQ === quality(best), s"cluster $rep quality")
      assert(upgraded === (best != rep), s"cluster $rep upgraded")
    }
    assert(out.values.exists(_._4),
      "at least one cluster must elect a non-min-id survivor on this corpus")
    SparkEntry.release(spark)
  }

  test("q104 funnel: buckets partition the corpus and shares sum to one") {
    val rows = SparkEntry.queries("q104_curation_funnel")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val docs = graft.Tables.t(spark, sf0001, "documents").count()
    assert(rows.map(_._2).sum === docs, "decisions must cover every doc")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 0.01)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 0.01)
    assert(rows.exists(_._1 == "keep"))
    assert(rows.count(_._1 == "keep") === 1)
    // keep counts agree with the verdict this wraps
    val kept = SparkEntry.queries("d44_clean_corpus")(spark, sf0001)
      .filter(col("keep")).count()
    assert(rows.find(_._1 == "keep").get._2 === kept)
    SparkEntry.release(spark)
  }

  test("s55 embedding QA: counts cover the table, envelope ordered, clean corpus reports clean") {
    val rows = SparkEntry.queries("s55_embedding_qa")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val n = graft.Tables.t(spark, sf0001, "embeddings").count()
    assert(rows.map(_._2).sum === n)
    rows.foreach { case (label, nv, zero, bad, mn, avg, mx) =>
      assert(nv > 0)
      assert(zero === 0L && bad === 0L,
        s"label $label: the synthetic corpus has no degenerate vectors")
      assert(mn <= avg + 1e-9 && avg <= mx + 1e-9, s"label $label envelope")
      assert(mn > 0.0)
    }
    // a planted degenerate table is flagged: zero vector + short vector
    import spark.implicits._
    val dim = graft.Tables.t(spark, sf0001, "embeddings")
      .selectExpr("size(embedding)").head().getInt(0)
    val planted = Seq(
      (1L, Array.fill(dim)(0.0f), 0),
      (2L, Array.fill(dim - 3)(1.0f), 0),
      (3L, Array.fill(dim)(1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val flagged = withCorpus("embeddings" -> planted) { dir =>
      SparkEntry.queries("s55_embedding_qa")(spark, dir).collect()
    }
    assert(flagged.length === 1)
    assert(flagged(0).getLong(2) === 1L, "zero-norm vector must be counted")
    assert(flagged(0).getLong(3) === 1L, "short vector must be counted")
    SparkEntry.release(spark)
  }

  test("q101 DSIR: target-language docs score higher on average, and weights replay from a driver-side model") {
    val out = SparkEntry.queries("q101_dsir_weights")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    out.values.foreach { case (n, w) =>
      assert(n >= 1); assert(!w.isNaN && !w.isInfinity)
    }
    // the defining DSIR property: the importance weight is a likelihood
    // ratio toward the target slice, so the target language must score
    // strictly higher in the mean than the rest of the pool
    val (en, rest) = out.toSeq.partition { case (id, _) => docs(id) == "en" }
    def mean(xs: Seq[(Long, (Long, Double))]) =
      xs.map(_._2._2).sum / xs.length
    assert(en.nonEmpty && rest.nonEmpty)
    assert(mean(en) > mean(rest),
      s"mean log-ratio en=${mean(en)} !> rest=${mean(rest)}")
    SparkEntry.release(spark)
  }

  test("t52 fertility: per-lang sums replay exactly from the t21/t29 per-doc counts, ratios at least 1") {
    val out = SparkEntry.queries("t52_tokenizer_fertility")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ws = SparkEntry.queries("t21_token_stats")(spark, sf0001)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bpe = SparkEntry.queries("t29_bpe_tokens")(spark, sf0001)
      .select(col("doc_id"), col("n_bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    for ((lang, (nDocs, wsSum, bpeSum, chSum)) <- out) {
      val ds = docs.filter(_._2 == lang)
      assert(ds.length.toLong === nDocs)
      assert(ds.map(d => ws(d._1)).sum === wsSum, s"$lang ws_tokens")
      assert(ds.map(d => bpe(d._1)).sum === bpeSum, s"$lang bpe_tokens")
      assert(ds.map(_._3).sum === chSum, s"$lang n_chars")
      // every whitespace token yields >=1 BPE piece; every piece >=1 char
      assert(bpeSum >= wsSum, s"$lang fertility below 1")
      assert(chSum >= bpeSum, s"$lang chars_per_bpe below 1")
    }
    SparkEntry.release(spark)
  }

  test("t53 KS drift: the statistic replays exactly from the raw length distributions") {
    val out = SparkEntry.queries("t53_length_ks")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val lens = graft.Tables.t(spark, sf0001, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nAll = lens.length.toLong
    val grid = lens.map(_._2).distinct.sorted
    for ((src, (nDocs, ksD)) <- out) {
      val mine = lens.filter(_._1 == src)
      assert(mine.length.toLong === nDocs)
      val d = grid.map { x =>
        val cumS = mine.count(_._2 <= x).toLong
        val cumC = lens.count(_._2 <= x).toLong
        math.abs(cumS.toDouble / nDocs - cumC.toDouble / nAll)
      }.max
      assert(math.abs(d - ksD) < 1e-12, s"$src: replay $d vs $ksD")
      assert(ksD >= 0.0 && ksD <= 1.0)
    }
    SparkEntry.release(spark)
  }

  test("q105 retention cohorts: offset-0 cells cover every user exactly once, offsets non-negative") {
    val rows = SparkEntry.queries("q105_retention_cohorts")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0L), "week_offset must be non-negative")
    val nUsers = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id")).distinct().count()
    // every user is active in their own first week, in exactly one cohort
    val offset0 = rows.filter(_._2 == 0L).map(_._3).sum
    assert(offset0 === nUsers, s"offset-0 coverage $offset0 != $nUsers")
    // no later cell can exceed its cohort's size
    val size0 = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    rows.foreach { case (cw, off, n) =>
      assert(n <= size0(cw), s"cohort $cw offset $off: $n > ${size0(cw)}")
    }
    SparkEntry.release(spark)
  }

  test("q106 rank correlation: Spearman replays from driver-side average ranks") {
    val row = SparkEntry.queries("q106_signal_rankcorr")(spark, sf0001)
      .collect().head
    val (n, rho, r) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    assert(rho >= -1.0 && rho <= 1.0)
    assert(r >= -1.0 && r <= 1.0)
    val ppl = SparkEntry.queries("t36_lm_perplexity")(spark, sf0001)
      .select(col("doc_id"), col("perplexity")).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val qual = SparkEntry.queries("t24_quality_score")(spark, sf0001)
      .select(col("doc_id"), col("quality")).filter(col("quality").isNotNull)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val ids = ppl.keySet.intersect(qual.keySet).toSeq.sorted
    assert(ids.length.toLong === n)
    def avgRanks(v: Map[Long, Double]): Map[Long, Double] = {
      val sorted = ids.sortBy(v)
      val byVal = sorted.zipWithIndex.groupBy(x => v(x._1))
      byVal.flatMap { case (_, grp) =>
        val ar = grp.map(_._2 + 1).sum.toDouble / grp.length
        grp.map(g => g._1 -> ar)
      }
    }
    val (ra, rb) = (avgRanks(ppl), avgRanks(qual))
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.length, b.sum / b.length)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum,
        b.map(y => (y - mb) * (y - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    val replay = pearson(ids.map(ra), ids.map(rb))
    assert(math.abs(replay - rho) < 1e-3, s"spearman replay $replay vs $rho")
    SparkEntry.release(spark)
  }

  test("q107 stickiness: WAU/MAU replays exactly from the raw event log") {
    val rows = SparkEntry.queries("q107_stickiness")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val uw = graft.Tables.t(spark, sf0001, "events")
      .select(to_date(date_trunc("week", col("ts"))).as("wkd"),
        col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    for ((wkTs, wau, mau) <- rows) {
      val wk = wkTs.toLocalDateTime.toLocalDate
      assert(uw.filter(_._1 == wk).map(_._2).distinct.length.toLong === wau)
      val trailing = uw.filter { case (w, _) =>
        !w.isAfter(wk) && w.isAfter(wk.minusDays(28)) }
      assert(trailing.map(_._2).distinct.length.toLong === mau,
        s"week $wk mau")
      assert(mau >= wau, s"week $wk: trailing actives below weekly actives")
    }
    SparkEntry.release(spark)
  }

  test("t54 PMI collocations: the top-20 replays exactly from driver-side counts") {
    val rows = SparkEntry.queries("t54_pmi_collocations")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
    assert(rows.length === 20)
    assert(rows.forall(_._2 >= 5L), "support filter must hold")
    val texts = graft.Tables.t(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
    def toks(t: String): Array[String] =
      if (t.trim.isEmpty) Array.empty
      else t.trim.split("[ \t\n\f\r]+")
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val bg = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    texts.foreach { t =>
      val w = toks(t)
      w.foreach(x => uni(x) += 1)
      w.sliding(2).filter(_.length == 2).foreach(p => bg(p.mkString(" ")) += 1)
    }
    val nU = uni.values.sum.toDouble
    val nB = bg.values.sum.toDouble
    val expect = bg.toSeq.filter(_._2 >= 5).map { case (b, c) =>
      val Array(w1, w2) = b.split(" ", 2)
      val pmi = math.rint(math.log((c / nB) /
        ((uni(w1) / nU) * (uni(w2) / nU))) * 1e6) / 1e6
      (b, pmi)
    }.sortBy { case (b, p) => (-p, b) }.take(20)
    assert(rows.map(r => (r._1, r._3)).toSeq === expect,
      "top-20 must replay exactly")
    SparkEntry.release(spark)
  }

  test("s56 cell separation: per-cell counts agree with s49 and margins are non-negative") {
    val sep = SparkEntry.queries("s56_cell_separation")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val stats = SparkEntry.queries("s49_ivf_cell_stats")(spark, sf0001)
      .select(col("cid"), col("n_vectors")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sep.map(s => s._1 -> s._2).toMap === stats,
      "s56 must agree with s49 on the cell assignment")
    sep.foreach { case (cid, _, coh, con, margin) =>
      assert(coh >= con - 1e-9, s"cell $cid: cohesion below contest")
      assert(margin >= -1e-9, s"cell $cid: negative margin")
    }
    SparkEntry.release(spark)
  }

  test("m43 asset clusters: a valid partition where every m36 edge is intra-cluster and reps are min members") {
    val rows = SparkEntry.queries("m43_asset_clusters")(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getBoolean(2),
        r.getLong(3)))
    val cluster = rows.map(r => r._2 -> r._1).toMap
    val edges = SparkEntry.queries("m36_asset_similarity")(spark, sf0001)
      .select(col("ia"), col("ib")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      assert(cluster(a) === cluster(b), s"edge ($a,$b) split across clusters")
    }
    rows.groupBy(_._1).foreach { case (rep, members) =>
      assert(rep === members.map(_._2).min, s"rep $rep is not the min member")
      assert(members.count(_._3) === 1, s"cluster $rep: exactly one keep")
      assert(members.forall(_._4 === members.length.toLong))
    }
    assert(rows.exists(_._4 > 1), "corpus must contain at least one real cluster")
    SparkEntry.release(spark)
  }

  test("q108 token budget curve: cumulative columns replay from the per-decile rows and end at the full corpus") {
    val rows = SparkEntry.queries("q108_token_budget_curve")(spark, sf0001)
      .orderBy(col("decile").desc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 9))
    var cd = 0L; var ct = 0L
    rows.foreach { case (_, nd, nt, cumD, cumT, share) =>
      cd += nd; ct += nt
      assert(cumD === cd && cumT === ct, "cumulative mismatch")
      assert(share >= 0.0 && share <= 1.0)
    }
    assert(math.abs(rows.last._6 - 1.0) < 1e-9,
      "the worst decile's cumulative share must cover the whole corpus")
  }

  test("q109 k-anonymity: risk counts replay from the raw QI group sizes and grow with k") {
    val gsz = graft.Tables.t(spark, sf0001, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment")).count()
      .collect().map(_.getLong(2))
    val rows = SparkEntry.queries("q109_kanonymity")(spark, sf0001)
      .orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 5L, 10L, 20L))
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) === gsz.length.toLong)
      assert(r.getLong(2) === gsz.min)
      assert(r.getLong(3) === gsz.count(_ < k).toLong)
      assert(r.getLong(4) === gsz.filter(_ < k).sum)
    }
    val risks = rows.map(_.getLong(4))
    assert(risks.sliding(2).forall(p => p(0) <= p(1)),
      "rows-at-risk must be monotone in k")
  }

  test("q110 shard manifest: assignment is the md5 bucket mod 16 and every doc lands in exactly one shard") {
    val rows = SparkEntry.queries("q110_shard_manifest")(spark, sf0001).collect()
    val nDocs = graft.Tables.t(spark, sf0001, "documents").count()
    assert(rows.map(_.getLong(1)).sum === nDocs, "shards must partition the corpus")
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16))
    val shares = rows.map(_.getDouble(4))
    assert(math.abs(shares.sum - 1.0) < 1e-3, "token shares must sum to ~1")
    // replay one shard's membership driver-side
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val expected0 = docs.count { id =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 16 == 0
    }
    assert(rows.find(_.getLong(0) == 0L).map(_.getLong(1)).getOrElse(0L)
      === expected0.toLong, "shard 0 membership must replay from md5")
  }

  test("q111 hourly anomalies: flags replay exactly from the hourly counts via the integer z² rule") {
    val hourly = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")))
      .count().collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val byType = hourly.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rows = SparkEntry.queries("q111_hourly_anomalies")(spark, sf0001)
      .collect()
    rows.foreach { r =>
      val cs = byType(r.getString(0))
      val n = cs.length.toLong; val sc = cs.sum; val scc = cs.map(c => c * c).sum
      assert(n > 1)
      val anomalous = cs.filter { c =>
        val dev = c * n - sc
        dev * dev * (n - 1) > 4 * n * (n * scc - sc * sc)
      }
      assert(r.getLong(1) === n && r.getLong(2) === sc)
      assert(r.getLong(3) === anomalous.length.toLong,
        s"${r.getString(0)}: anomaly count mismatch")
      assert(r.getLong(4) === anomalous.sum)
    }
    assert(rows.map(_.getString(0)).toSet ===
      byType.filter(_._2.length > 1).keySet)
  }

  test("t55 readability: counts replay driver-side and the formula is the Flesch identity") {
    val rows = SparkEntry.queries("t55_readability")(spark, sf0001)
      .limit(200).collect()
    assert(rows.nonEmpty)
    val texts = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def runsOf(s: String, cls: scala.util.matching.Regex): Long =
      cls.findAllIn(s).length.toLong
    rows.foreach { r =>
      val (id, w, sen, syl, fl) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))
      val lt = texts(id).toLowerCase
      assert(sen === math.max(1L, runsOf(lt, "[.!?]+".r)), s"doc $id sentences")
      assert(syl === math.max(1L, runsOf(lt, "[aeiouy]+".r)), s"doc $id syllables")
      val expected = math.rint((206.835 - 1.015 * (w.toDouble / sen)
        - 84.6 * (syl.toDouble / w)) * 1e4) / 1e4
      assert(math.abs(fl - expected) < 1e-9, s"doc $id flesch")
    }
  }

  test("t56 gopher rules: reasons replay driver-side in rule order") {
    val rows = SparkEntry.queries("t56_gopher_rules")(spark, sf0001)
      .limit(300).collect()
    assert(rows.nonEmpty)
    val texts = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    rows.foreach { r =>
      val id = r.getLong(0)
      val w = texts(id).trim.split("[ \t\n\f\r]+").toSeq
      val lines = texts(id).split("\n", -1).toSeq
      val nw = w.length.toLong
      assert(r.getLong(1) === nw)
      val mwl = r4(w.map(_.length).sum.toDouble / nw)
      val nSym = texts(id).count(_ == '#') +
        "\\.\\.\\.".r.findAllIn(texts(id)).length
      val alpha = r4(w.count(_.exists(_.isLetter)).toDouble / nw)
      val bullet = r4(lines.count(l => l.trim.startsWith("-") ||
        l.trim.startsWith("*")).toDouble / lines.length)
      val ell = r4(lines.count(_.trim.endsWith("...")).toDouble / lines.length)
      val expected =
        if (nw < 50) "too_short"
        else if (nw > 100000) "too_long"
        else if (mwl < 3.0 || mwl > 10.0) "word_length"
        else if (r4(nSym.toDouble / nw) > 0.1) "symbol_ratio"
        else if (alpha < 0.8) "low_alpha"
        else if (bullet > 0.9) "bullet_lines"
        else if (ell > 0.3) "ellipsis_lines"
        else "keep"
      assert(r.getString(7) === expected, s"doc $id reason")
      assert(r.getBoolean(8) === (expected == "keep"))
    }
  }

  test("q112 decay engagement: scores replay driver-side within the round grid") {
    val rows = SparkEntry.queries("q112_decay_engagement")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("value"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val mx = ev.map(_._3).max
    val k = math.log(2.0) / 7.0
    val byUser = ev.groupBy(_._1)
    rows.foreach { case (u, n, score) =>
      val evs = byUser(u)
      assert(n === evs.length.toLong)
      val exp0 = evs.map { case (_, v, us) =>
        v * math.exp(-k * ((mx - us) / 86400000000.0)) }.sum
      assert(math.abs(score - exp0) < 1e-3, s"user $u score")
    }
    assert(rows.map(_._1).toSet === byUser.keySet)
  }

  test("q113 event lift: counts replay from driver-side baskets; lift is the exact ratio") {
    val baskets = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), to_date(col("ts")), col("event_type"))
      .distinct().collect()
      .map(r => ((r.getLong(0), r.getDate(1).toString), r.getString(2)))
    val byBasket = baskets.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val nB = byBasket.size.toLong
    val typeCount = baskets.groupBy(_._2).view.mapValues(_.length.toLong)
    val rows = SparkEntry.queries("q113_event_lift")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val nab = byBasket.values.count(s => s(a) && s(b)).toLong
      assert(r.getLong(2) === nab, s"($a,$b) n_ab")
      assert(r.getLong(3) === typeCount(a) && r.getLong(4) === typeCount(b))
      val lift = math.rint(nab * nB * 1e4 / (typeCount(a) * typeCount(b))) / 1e4
      assert(math.abs(r.getDouble(5) - lift) < 1e-9)
    }
  }

  test("q114 ab z-test: arms partition the users and z² replays from the four integers") {
    val row = SparkEntry.queries("q114_ab_ztest")(spark, sf0001).collect()
    assert(row.length === 1)
    val r = row.head
    val (na, xa, nb, xb) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    val nUsers = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id")).distinct().count()
    assert(na + nb === nUsers)
    assert(xa <= na && xb <= nb && xa >= 0 && xb >= 0)
    // replay conversion per user from the raw events
    val conv = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
        1L).otherwise(0L)).as("c"))
      .agg(sum(col("c"))).collect().head.getLong(0)
    assert(xa + xb === conv)
    assert(conv > 0 && conv < nUsers,
      "conversion must be non-degenerate on this corpus")
    val num = (xa * nb - xb * na).toDouble * (xa * nb - xb * na) * (na + nb)
    val den = na.toDouble * nb * (xa + xb) * (na + nb - xa - xb)
    assert(math.abs(r.getDouble(6) - math.rint(num / den * 1e6) / 1e6) < 1e-9)
    assert(r.getBoolean(7) === (r.getDouble(6) > 3.8416))
  }

  test("d57 soft dedup: weighted budgets replay from the d41 labels and sit between hard and raw") {
    val lab = SparkEntry.queries("d41_canonical_docs")(spark, sf0001)
      .select(col("doc_id"), col("keep"), col("cluster_size")).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    SparkEntry.release(spark)
    val toks = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.queries.TextOps.tokens(col("text"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val rows = SparkEntry.queries("d57_soft_dedup")(spark, sf0001).collect()
    rows.foreach { r =>
      val src = r.getString(0)
      val docs = toks.filter(_._2 == src)
      assert(r.getLong(1) === docs.length.toLong)
      assert(r.getLong(3) === docs.count(d => lab(d._1)._1).toLong)
      val softDocs = docs.map(d => 1.0 / lab(d._1)._2).sum
      val softToks = docs.map(d => d._3.toDouble / lab(d._1)._2).sum
      assert(math.abs(r.getDouble(5) - softDocs) < 1e-3, s"$src soft_docs")
      assert(math.abs(r.getDouble(6) - softToks) < 1e-3, s"$src soft_tokens")
      // soft never exceeds the raw budget (per source); the soft ≥ hard
      // ordering holds only globally — clusters span sources
      assert(r.getDouble(5) <= r.getLong(1).toDouble + 1e-9)
    }
    // globally, soft mass ≡ one doc per cluster ≡ the hard keep count
    assert(math.abs(rows.map(_.getDouble(5)).sum
      - rows.map(_.getLong(3)).sum.toDouble) < 1e-2,
      "global soft mass must equal the hard keep count")
    SparkEntry.release(spark)
  }

  test("q115 snapshot diff: every class count replays from the bucket rules and classes partition the key union") {
    val rows = SparkEntry.queries("q115_snapshot_diff")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keys = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    def bucket(k: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16)
    }
    val expected = keys.groupBy { k =>
      val b = bucket(k)
      val inOld = b % 97 != 0; val inCur = b % 89 != 0
      if (inOld && !inCur) "deleted"
      else if (!inOld && inCur) "inserted"
      else if (inOld && inCur && b % 13 == 0) "modified"
      else if (inOld && inCur) "unchanged"
      else "absent" // in neither snapshot — must not appear in the diff
    }
    expected.filter(_._1 != "absent").foreach { case (cls, ks) =>
      assert(rows.get(cls).map(_._1).getOrElse(0L) === ks.length.toLong,
        s"$cls count")
      assert(rows.get(cls).map(_._2).getOrElse(0L) === ks.sum, s"$cls checksum")
    }
    assert(rows.keySet.subsetOf(
      Set("inserted", "deleted", "modified", "unchanged")))
  }

  test("q116 watermark audit: drop counts replay from a driver-side single-pass watermark simulation") {
    val rows = SparkEntry.queries("q116_watermark_audit")(spark, sf0001)
      .orderBy("threshold_s").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(600L, 1800L, 3600L, 7200L))
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def bucket(k: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16)
    }
    val byArrival = ev.map { case (id, us) =>
      (us + (bucket(id) % 7200L) * 1000000L, id, us)
    }.sortBy(t => (t._1, t._2))
    var wm = Long.MinValue
    val lates = byArrival.map { case (_, _, us) =>
      wm = math.max(wm, us); wm - us
    }
    rows.foreach { r =>
      val w = r.getLong(0) * 1000000L
      assert(r.getLong(1) === ev.length.toLong)
      assert(r.getLong(2) === lates.count(_ > w).toLong,
        s"threshold ${r.getLong(0)}s drop count")
      assert(r.getLong(4) === lates.max)
    }
    val drops = rows.map(_.getLong(2))
    assert(drops.sliding(2).forall(p => p(0) >= p(1)),
      "drops must be monotone non-increasing in the watermark")
    assert(drops.head > 0, "the 10-minute watermark must drop something")
  }

  test("m44 clean assets: the verdict replays from its component gates in priority order") {
    val clusters = SparkEntry.queries("m43_asset_clusters")(spark, sf0001)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    SparkEntry.release(spark)
    val suspect = SparkEntry.queries("m39_asset_quality")(spark, sf0001)
      .select(col("doc_id"), col("suspect")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    SparkEntry.release(spark)
    val chars = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("m44_clean_assets")(spark, sf0001).collect()
    assert(rows.length === chars.size, "one verdict per asset")
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected =
        if (!clusters(id)) "duplicate"
        else if (!suspect.contains(id)) "undecodable"
        else if (suspect(id)) "low_entropy"
        else if (chars(id) < 64) "tiny"
        else "keep"
      assert(r.getString(3) === expected, s"asset $id decision")
      assert(r.getBoolean(4) === (expected == "keep"))
    }
    assert(rows.map(_.getString(3)).distinct.length > 1,
      "the verdict must actually partition this corpus")
    SparkEntry.release(spark)
  }

  test("s58 centroid shift: per-cell L1 drift replays from the assignment means") {
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val cents = (0L until 16L).map(c => c -> embs(c)).toMap
    val assignment = embs.keys.map { id =>
      id -> cents.keys.minBy(c => (-cos6(embs(id), cents(c)), c))
    }.toMap
    val rows = SparkEntry.queries("s58_centroid_shift")(spark, sf0001).collect()
    assert(rows.length === assignment.values.toSet.size)
    rows.foreach { r =>
      val cid = r.getLong(0)
      val members = assignment.filter(_._2 == cid).keys.toSeq
      assert(r.getLong(1) === members.size.toLong, s"cell $cid occupancy")
      val dims = embs.head._2.length
      val l1 = (0 until dims).map { i =>
        val m = math.rint(members.map(embs(_)(i)).sum / members.size * 1e6) / 1e6
        math.abs(m - cents(cid)(i))
      }.sum
      assert(math.abs(r.getDouble(2) - l1) < 1e-3, s"cell $cid l1_shift")
    }
    SparkEntry.release(spark)
  }

  test("q117 rfm: quintiles replay from driver-side ranks and the segment grid is honored") {
    val rows = SparkEntry.queries("q117_rfm_segments")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    def q5(rk: Int): Long = {
      val q = n / 5; val r = n % 5
      if (rk <= r * (q + 1)) ((rk + q) / (q + 1)).toLong
      else (r + (rk - r * (q + 1) + q - 1) / q).toLong
    }
    val byUser = rows.map(r => r.getLong(0) -> r).toMap
    def replay(order: Array[(Long, Long)]): Map[Long, Long] =
      order.sortBy(t => (t._2, t._1)).zipWithIndex
        .map { case ((u, _), i) => u -> q5(i + 1) }.toMap
    val rRanks = replay(rows.map(r => (r.getLong(0), r.getLong(1))))
    val fRanks = replay(rows.map(r => (r.getLong(0), r.getLong(2))))
    rows.foreach { r =>
      val u = r.getLong(0)
      assert(r.getLong(4) === 6L - rRanks(u), s"user $u r_q")
      assert(r.getLong(5) === fRanks(u), s"user $u f_q")
      val (rq, fq, mq) = (r.getLong(4), r.getLong(5), r.getLong(6))
      val seg =
        if (rq >= 4 && fq >= 4 && mq >= 4) "champion"
        else if (rq <= 2 && fq >= 4) "at_risk"
        else if (rq <= 2 && fq <= 2) "lost"
        else if (rq >= 4 && fq <= 2) "recent"
        else "regular"
      assert(r.getString(7) === seg, s"user $u segment")
    }
    // quintiles are balanced within one row
    val sizes = rows.groupBy(_.getLong(6)).values.map(_.length)
    assert(sizes.max - sizes.min <= 1, s"m_q quintiles unbalanced: $sizes")
    assert(byUser.size === n)
  }

  test("q118 seasonality: entropy is within the cell-count bound and peaks replay") {
    val rows = SparkEntry.queries("q118_seasonality")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val cells = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type"), dayofweek(col("ts")), hour(col("ts")))
      .count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    rows.foreach { r =>
      val et = r.getString(0)
      val mine = cells.filter(_._1 == et)
      assert(r.getLong(1) === mine.map(_._4).sum)
      assert(r.getLong(2) === mine.length.toLong)
      assert(r.getDouble(3) >= 0.0 &&
        r.getDouble(3) <= math.log(mine.length.toDouble) / math.log(2.0) + 1e-9,
        s"$et entropy outside [0, log2(n_cells)]")
      val peak = mine.maxBy(c => (c._4, c._2, c._3))
      assert((r.getLong(4), r.getLong(5), r.getLong(6)) ===
        ((peak._2.toLong, peak._3.toLong, peak._4)), s"$et peak cell")
    }
  }

  test("t57 quality classifier: held-out agreement with the rule gate clears the floor") {
    val rows = SparkEntry.queries("t57_quality_classifier")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet === Set("train", "valid", "test"))
    val (nTest, keepTest, agreeTest, accTest) = rows("test")
    assert(nTest > 0 && agreeTest <= nTest)
    // the model must beat the majority-class baseline on held-out data
    val majority = math.max(keepTest, nTest - keepTest).toDouble / nTest
    assert(accTest >= majority - 0.05,
      s"held-out agreement $accTest far below majority baseline $majority")
    assert(accTest >= 0.7, s"held-out agreement $accTest below floor")
    SparkEntry.release(spark)
  }

  test("t65 linear probe: frozen weights track the rule gate and replay the in-memory margin chain exactly") {
    val rows = SparkEntry.queries("t65_linear_probe")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet === Set("train", "valid", "test"))
    // the frozen probe's whole point vs t57: deterministic AND still a
    // useful distillation — every split must clear a real floor (the
    // measured agreement is ~0.90-0.91 at sf0.001/0.01/0.1)
    for ((split, (n, keep, agree, acc)) <- rows) {
      assert(n > 0 && agree <= n, s"$split counts inconsistent")
      assert(keep < n, s"$split must contain both classes")
      assert(acc >= 0.8, s"$split agreement $acc below 0.8 floor")
    }
    // replay: the per-split totals must equal a driver-side fold over
    // the raw t35 signals with the same frozen left-associated chain
    val sig = SparkEntry.queries("t35_quality_filter")(spark, sf0001)
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("uniq_ratio"), lit(0.0)).as("u"),
        col("top_bigram_frac"), col("dup_bigram_frac"),
        col("stop_hits"), (col("reason") === "keep").as("k")).collect()
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 100
    }
    val expected = sig.groupBy { r =>
      val b = bucket(r.getLong(0))
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }.map { case (split, rs) =>
      val stats = rs.map { r =>
        val band = if (r.getLong(1) >= 16 && r.getLong(1) <= 4096) 1.0 else 0.0
        val fStop = math.min(r.getLong(5), 4L) / 4.0
        val margin = -16.1 + 8.8 * band + 9.0 * r.getDouble(2) -
          15.5 * r.getDouble(3) - 32.9 * r.getDouble(4) + 11.0 * fStop
        (if (r.getBoolean(6)) 1L else 0L,
         if ((margin > 0.0) == r.getBoolean(6)) 1L else 0L)
      }
      split -> ((rs.length.toLong, stats.map(_._1).sum, stats.map(_._2).sum))
    }
    assert(rows.view.mapValues(v => (v._1, v._2, v._3)).toMap === expected)
    SparkEntry.release(spark)
  }

  test("d58 shard leakage: spanning clusters replay from the d41 labels and the q110 shard rule") {
    val lab = SparkEntry.queries("d41_canonical_docs")(spark, sf0001)
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("cluster_rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    SparkEntry.release(spark)
    def shard(k: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 16
    }
    val expected = lab.groupBy(_._2).view
      .mapValues(ms => (ms.length, ms.map(m => shard(m._1)).distinct.sorted))
      .filter(_._2._2.length > 1).toMap
    val rows = SparkEntry.queries("d58_shard_leakage")(spark, sf0001)
      .collect()
    assert(rows.map(_.getLong(0)).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, shards) = expected(r.getLong(0))
      assert(r.getLong(1) === n.toLong)
      assert(r.getLong(2) === shards.length.toLong)
      assert(r.getLong(3) === shards.min && r.getLong(4) === shards.max)
    }
    assert(rows.nonEmpty,
      "doc-id sharding must split at least one cluster on this corpus")
    SparkEntry.release(spark)
  }

  test("s59 pq distortion: per-subspace MSE replays driver-side and residual encoding would beat it") {
    val rows = SparkEntry.queries("s59_pq_distortion")(spark, sf0001)
      .orderBy("subspace").collect()
    assert(rows.length === 16)
    val nVec = graft.Tables.t(spark, sf0001, "embeddings").count()
    rows.foreach { r =>
      assert(r.getLong(1) === nVec)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= r.getDouble(3) + 1e-9,
        s"subspace ${r.getLong(0)}: mse must be within [0, max]")
      assert(r.getDouble(3) > 0.0,
        s"subspace ${r.getLong(0)}: a 16-codeword book cannot be lossless here")
    }
    SparkEntry.release(spark)
  }

  test("q119 domain xent: the matrix is square and self-entropy is the row minimum on average") {
    val rows = SparkEntry.queries("q119_domain_xent")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val sources = rows.map(_._1).distinct
    assert(rows.length === sources.length * sources.length,
      "matrix must be |src| x |src|")
    rows.foreach { case (_, _, x) => assert(x > 0.0 && x.isFinite) }
    // a source's own model should usually predict it best: self-xent
    // beats the row mean for a clear majority of sources
    val better = sources.count { s =>
      val row = rows.filter(_._1 == s)
      val self = row.find(_._2 == s).get._3
      self < row.map(_._3).sum / row.length
    }
    assert(better * 2 > sources.length,
      s"self-model should beat the row mean for most sources ($better/${sources.length})")
  }

  test("s57 index update: per-cell occupancy splits the corpus and cohesion means replay from the assignment") {
    val rows = SparkEntry.queries("s57_index_update")(spark, sf0001).collect()
    val nVec = graft.Tables.t(spark, sf0001, "embeddings").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === nVec,
      "base + delta occupancy must partition the corpus")
    val nDelta = graft.Tables.t(spark, sf0001, "embeddings")
      .filter(col("vec_id") % 10 === 0).count()
    assert(rows.map(_.getLong(2)).sum === nDelta)
    rows.foreach { r =>
      Seq(4, 5).foreach { i =>
        if (!r.isNullAt(i))
          assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-9, s"cohesion out of range")
      }
      if (!r.isNullAt(4) && !r.isNullAt(5))
        assert(math.abs(r.getDouble(6) - (r.getDouble(5) - r.getDouble(4)))
          < 1e-9, "drift must be the difference of the rounded means")
    }
    SparkEntry.release(spark)
  }

  test("s60 mips: top-5 replays from driver-side inner products and the norm augmentation preserves order") {
    val out = SparkEntry.queries("s60_mips_topk")(spark, sf0001)
      .orderBy("qid", "rnk").collect()
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    // replay: per query, exact top-5 by (round6(ip) desc, id asc)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === embs.keySet.filter(_ < 10), "one slate per query")
    for ((qid, rows) <- byQ) {
      val expect = embs.toSeq.filter(_._1 != qid)
        .map { case (id, e) => (id, r6(dot(embs(qid), e))) }
        .sortBy { case (id, ip) => (-ip, id) }.take(5)
      assert(rows.sortBy(_.getInt(1)).map(r =>
        (r.getLong(2), r.getDouble(3))).toSeq === expect,
        s"qid=$qid top-5 must match the driver replay")
      // augmentation is a per-query monotone rescale of the raw ip, so
      // aug_cos can only break the ip order by rounding at 6 dp —
      // bounded by one ulp of the rounded grid across rnk steps
      val aug = rows.sortBy(_.getInt(1)).map(_.getDouble(4))
      aug.sliding(2).foreach(p =>
        assert(p(1) <= p(0) + 1.1e-6, s"qid=$qid aug_cos order broken"))
      // and where the rounded ips are strictly decreasing, ranks agree
      val ips = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      if (ips.distinct.length == ips.length)
        assert(rows.forall(_.getBoolean(5)),
          s"qid=$qid rank_match must hold without rounded-ip ties")
    }
    SparkEntry.release(spark)
  }

  test("s61 mmr: the greedy integer-score traversal replays driver-side and slates are diverse") {
    val out = SparkEntry.queries("s61_mmr_diversify")(spark, sf0001)
      .orderBy("qid", "step").collect()
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos6u(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.rint(math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6)).toLong
    }
    val byQ = out.groupBy(_.getLong(0))
    for ((qid, rows) <- byQ) {
      assert(rows.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L))
      // driver replay of the unrolled greedy recurrence
      val cand = embs.toSeq.filter(_._1 != qid)
        .map { case (id, e) => (id, cos6u(embs(qid), e)) }
        .sortBy { case (id, rel) => (-rel, id) }.take(8)
      var picked = Vector(cand.head._1)
      while (picked.size < 3) {
        val next = cand.filter(c => !picked.contains(c._1))
          .map { case (id, rel) =>
            val maxSim = picked.map(p => cos6u(embs(p), embs(id))).max
            (id, 7L * rel - 3L * maxSim)
          }.sortBy { case (id, s) => (-s, id) }.head._1
        picked = picked :+ next
      }
      assert(rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq === picked,
        s"qid=$qid greedy picks must match the driver replay")
      assert(picked.distinct.size === 3, "slate must not repeat a doc")
    }
    SparkEntry.release(spark)
  }

  test("q120 seasonal backtest: splits partition each type's events and tv distance is a valid metric value") {
    val rows = SparkEntry.queries("q120_seasonal_backtest")(spark, sf0001)
      .collect()
    val totals = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet === totals.keySet)
    rows.foreach { r =>
      val (tpe, nTrain, nTest) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(nTrain + nTest === totals(tpe),
        s"$tpe train+test must partition the log")
      assert(nTrain > 0 && nTest > 0, s"$tpe both windows must be non-empty")
      assert(r.getLong(3) <= 7L * 24L, s"$tpe at most one cell per dow-hour")
      val tv = r.getDouble(4)
      assert(tv >= 0.0 && tv <= 1.0, s"$tpe tv_dist out of [0,1]: $tv")
    }
    SparkEntry.release(spark)
  }

  test("q121 funnel latency: quantiles replay from driver-side lag sorts") {
    val rows = SparkEntry.queries("q121_funnel_latency")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet === Set("view_to_click", "click_to_purchase"))
    // driver replay straight off q75's per-user first-touch timestamps
    val f = SparkEntry.queries("q75_funnel_stages")(spark, sf0001).collect()
    def epochUs(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def lags(from: Int, to: Int) = f.filter(r => !r.isNullAt(to))
      .map(r => epochUs(r.getTimestamp(to)) - epochUs(r.getTimestamp(from)))
    for ((stage, (from, to)) <- Seq("view_to_click" -> (1, 2),
        "click_to_purchase" -> (2, 3))) {
      val ls = lags(from, to).sorted
      val (n, p50, p90, meanS) = rows(stage)
      assert(n === ls.length, s"$stage n_users")
      assert(p50 === ls((50 * n.toInt + 99) / 100 - 1), s"$stage p50")
      assert(p90 === ls((90 * n.toInt + 99) / 100 - 1), s"$stage p90")
      assert(ls.forall(_ >= 0L), s"$stage lags must be non-negative")
      assert(math.abs(meanS - math.rint(
        ls.sum / (n * 1e6) * 1e4) / 1e4) < 1e-12, s"$stage mean")
    }
    SparkEntry.release(spark)
  }

  test("t58 lexical diversity: every source row replays exactly from the raw corpus") {
    val out = SparkEntry.queries("t58_lexical_diversity")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.trim.nonEmpty)
    val bySource = docs.groupBy(_._1)
    assert(out.keySet === bySource.keySet)
    for ((src, ds) <- bySource) {
      val toks = ds.map(_._2.trim.split("[ \t\n\f\r]+").toSeq)
      val r = out(src)
      assert(r.getLong(1) === toks.length, s"$src n_docs")
      assert(r.getLong(2) === toks.map(_.length.toLong).sum, s"$src tokens")
      val counts = toks.flatten.groupBy(identity).view.mapValues(_.size)
      assert(r.getLong(3) === counts.size, s"$src vocab")
      assert(r.getLong(4) === counts.count(_._2 == 1), s"$src hapax")
      val ttrs = toks.map(w =>
        math.rint(w.distinct.length.toDouble / w.length * 1e6) / 1e6)
      assert(math.abs(r.getDouble(5) -
        math.rint(ttrs.sum / ttrs.length * 1e4) / 1e4) < 1e-9, s"$src ttr")
      assert(math.abs(r.getDouble(6) - math.rint(
        counts.count(_._2 == 1).toDouble / counts.size * 1e4) / 1e4) < 1e-9,
        s"$src hapax_frac")
    }
    SparkEntry.release(spark)
  }

  test("m45 crossmodal align: scores replay from the stub feature contract and the decile cut is exact") {
    val out = SparkEntry.queries("m45_crossmodal_align")(spark, sf0001)
      .collect()
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def stub(text: String): Array[Double] = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Array.tabulate(8)(i =>
        Integer.parseInt(hx.substring(i * 4, i * 4 + 4), 16) / 65536.0)
    }
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 8) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val n = out.length
    assert(out.map(_.getLong(3)).sorted.toSeq === (1L to n).toSeq,
      "ranks must be a permutation")
    assert(out.count(_.getBoolean(4)) === (n + 9) / 10,
      "flagged set must be exactly the bottom decile by rank")
    out.foreach { r =>
      val id = r.getLong(0)
      val expect = cos6(stub(docs(id)), embs(id).take(8))
      assert(math.abs(r.getDouble(2) - expect) < 1.5e-6,
        s"doc $id align_cos ${r.getDouble(2)} != $expect")
    }
    // flags must agree with the (align_cos, doc_id) sort order
    val sorted = out.sortBy(r => (r.getDouble(2), r.getLong(0)))
    assert(sorted.take((n + 9) / 10).forall(_.getBoolean(4)))
    assert(sorted.drop((n + 9) / 10).forall(!_.getBoolean(4)))
    SparkEntry.release(spark)
  }

  test("q122 position attribution: per-journey ppm credits replay and shares sum to one") {
    val out = SparkEntry.queries("q122_position_attribution")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // driver replay of the journey credit rule
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getLong(3)))
    val convTs = ev.filter(_._2 == "purchase").groupBy(_._1)
      .view.mapValues(_.map(_._3.getTime).min).toMap
    val credits = scala.collection.mutable.Map[String, Long]()
    val nTouch = scala.collection.mutable.Map[String, Long]()
    for ((uid, conv) <- convTs) {
      val touches = ev.filter(e => e._1 == uid &&
          (e._2 == "view" || e._2 == "click") && e._3.getTime < conv)
        .sortBy(e => (e._3.getTime, e._4))
      val k = touches.length
      touches.zipWithIndex.foreach { case (e, i) =>
        val ppm =
          if (k == 1) 1000000L
          else if (k == 2) 500000L
          else if (i == 0 || i == k - 1) 400000L
          else 200000L / (k - 2)
        credits(e._2) = credits.getOrElse(e._2, 0L) + ppm
        nTouch(e._2) = nTouch.getOrElse(e._2, 0L) + 1L
      }
    }
    assert(out.keySet === credits.keySet)
    val total = credits.values.sum
    for ((ch, (n, ppm, share)) <- out) {
      assert(n === nTouch(ch), s"$ch touches")
      assert(ppm === credits(ch), s"$ch ppm")
      assert(math.abs(share -
        math.rint(ppm.toDouble / total * 1e6) / 1e6) < 1e-12, s"$ch share")
    }
    SparkEntry.release(spark)
  }

  test("q123 trend test: S decomposes into concordant minus discordant over calendar pairs") {
    val rows = SparkEntry.queries("q123_trend_test")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, nPairs, nc, nd) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(s === nc - nd, "S must be concordant - discordant")
      assert(nc + nd <= nPairs, "ties cannot exceed the pair count")
      // n_pairs must be C(n_days, 2) for that type's observed days
      val days = (1 + math.sqrt(1 + 8.0 * nPairs)) / 2
      assert(math.abs(days - math.rint(days)) < 1e-9,
        s"n_pairs=$nPairs must be triangular")
      val trend = r.getString(6)
      assert(trend === (if (s > 0) "increasing"
        else if (s < 0) "decreasing" else "flat"))
      assert(math.abs(r.getDouble(5)) <= 1.0)
    }
    SparkEntry.release(spark)
  }

  test("t59 span scrub: the coverage ledger replays exactly from positioned spans") {
    val out = SparkEntry.queries("t59_span_scrub")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._3.trim.nonEmpty)
      .map { case (id, src, text) =>
        (id, src, text.trim.split("[ \t\n\f\r]+").toSeq) }
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val occs = for {
      (id, _, w) <- docs if w.length >= 8
      i <- 0 to w.length - 8
    } yield (id, i, md5(w.slice(i, i + 8).mkString(" ")))
    val flagged = occs.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
      .keySet
    val covered = occs.filter(o => flagged(o._3))
      .flatMap(o => (o._2 until o._2 + 8).map(p => (o._1, p)))
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val bySource = docs.groupBy(_._2)
    assert(out.keySet === bySource.keySet)
    for ((src, ds) <- bySource) {
      val (nDocs, tokTotal, scrubbed, affected) = out(src)
      assert(nDocs === ds.length, s"$src n_docs")
      assert(tokTotal === ds.map(_._3.length.toLong).sum, s"$src tokens")
      assert(scrubbed === ds.map(d => covered.getOrElse(d._1, 0L)).sum,
        s"$src scrubbed")
      assert(affected === ds.count(d => covered.contains(d._1)),
        s"$src affected")
    }
    assert(out.values.map(_._3).sum > 0, "corpus must have shared spans")
    SparkEntry.release(spark)
  }

  test("q124 session sequences: rows align with q78 sessions and sequences respect order and cap") {
    val seqs = SparkEntry.queries("q124_session_sequences")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getBoolean(4))).toMap
    val sess = SparkEntry.queries("q78_sessionize")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(seqs.keySet === sess.keySet, "one sequence per q78 session")
    // driver replay of the ordered, capped rendering
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val gap = 4L * 3600L * 1000000L
    for ((uid, evs) <- ev.groupBy(_._1)) {
      val ordered = evs.sortBy(e => (e._4, e._2))
      var sn = 0L; var prev = Long.MinValue
      val assigned = ordered.map { e =>
        if (prev == Long.MinValue || e._4 - prev > gap) sn += 1
        prev = e._4
        (sn, e._3)
      }
      for ((s, grp) <- assigned.groupBy(_._1)) {
        val (len, text, trunc) = seqs((uid, s))
        assert(len === grp.length, s"user $uid session $s len")
        assert(text === grp.map(_._2).take(16).mkString(">"),
          s"user $uid session $s text")
        assert(trunc === (grp.length > 16), s"user $uid session $s trunc")
      }
    }
    SparkEntry.release(spark)
  }

  test("s62 pq budget sweep: more subspaces buy monotonically lower distortion at higher byte cost") {
    val rows = SparkEntry.queries("s62_pq_budget_sweep")(spark, sf0001)
      .orderBy("m").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 4L, 8L))
    rows.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) === 64L, "subspaces must tile the 64 dims")
      assert(r.getDouble(2) === r.getLong(0) * 0.5, "k=16 -> half a byte per subspace")
      assert(r.getDouble(4) > 0.0 && r.getDouble(5) >= r.getDouble(4))
    }
    // the whole point of the sweep: distortion falls as the budget grows
    val mses = rows.map(_.getDouble(4))
    assert(mses.sliding(2).forall(p => p(1) < p(0)),
      s"mse must fall with m, got ${mses.mkString(",")}")
    SparkEntry.release(spark)
  }

  test("q125 revenue concentration: deciles partition customers and the Lorenz curve is sane") {
    val rows = SparkEntry.queries("q125_revenue_concentration")(spark, sf0001)
      .orderBy("decile").collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    val nCust = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getLong(1)).sum === nCust,
      "deciles must partition the customer set")
    assert(rows.map(_.getLong(1)).max - rows.map(_.getLong(1)).min <= 1,
      "exact ntile: decile sizes differ by at most one")
    // richer deciles carry more revenue; the top decile dominates
    val rev = rows.map(_.getLong(2))
    assert(rev.sliding(2).forall(p => p(0) <= p(1)),
      s"revenue must be non-decreasing in decile, got ${rev.mkString(",")}")
    val total = rev.sum
    assert(rows.last.getLong(3) === rows.last.getLong(2),
      "cum at decile 10 is its own revenue")
    assert(rows.head.getLong(3) === total,
      "cum at decile 1 must equal the corpus total")
    assert(math.abs(rows.head.getDouble(4) - 1.0) < 1e-9)
    SparkEntry.release(spark)
  }

  test("q126 srm check: arms partition the distinct users and the healthy hash split passes") {
    val r = SparkEntry.queries("q126_srm_check")(spark, sf0001).head()
    val (nA, nB) = (r.getLong(0), r.getLong(1))
    val users = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id")).distinct().count()
    assert(nA + nB === users, "arms must partition the user set")
    val chi2 = (nA - nB).toDouble * (nA - nB) / (nA + nB)
    assert(math.abs(r.getDouble(3) - math.rint(chi2 * 1e6) / 1e6) < 1e-12)
    assert(r.getBoolean(4) === (chi2 > 3.8416))
    assert(!r.getBoolean(4),
      "a healthy md5 split must not trip SRM — if this fires, the bucket rule broke")
    SparkEntry.release(spark)
  }

  test("s63 multi-probe lsh: Hamming-1 probes strictly widen the candidate set and confirms subsume s35") {
    val rows = SparkEntry.queries("s63_multiprobe_lsh")(spark, sf0001)
      .orderBy("probe_bits").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    val (c0, f0) = (rows(0).getLong(1), rows(0).getLong(2))
    val (c1, f1) = (rows(1).getLong(1), rows(1).getLong(2))
    assert(c1 > c0, "flip probes must add candidates on this corpus")
    assert(f1 >= f0, "a superset of candidates cannot confirm fewer pairs")
    // probe_bits=0 must be exactly s35's candidate semantics: its
    // confirmed count equals s35's output rows (same >=0.4 confirm)
    val s35n = SparkEntry.queries("s35_ann_lsh")(spark, sf0001).count()
    assert(f0 === s35n, "arm 0 must reproduce s35's confirmed pair count")
    SparkEntry.release(spark)
  }

  test("d59 cluster purity: rows replay from d41 labels joined with document languages") {
    val out = SparkEntry.queries("d59_cluster_purity")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))).toMap
    val labels = SparkEntry.queries("d41_canonical_docs")(spark, sf0001)
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val langOf = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byCluster = labels.groupBy(_._2)
    assert(out.keySet === byCluster.keySet)
    for ((rep, members) <- byCluster) {
      val (size, nLangs, langs, pure) = out(rep)
      assert(size === members.head._3, s"cluster $rep size")
      val expectLangs = members.map(m => langOf(m._1)).distinct.sorted
      assert(nLangs === expectLangs.length, s"cluster $rep n_langs")
      assert(langs === expectLangs.mkString(","), s"cluster $rep langs")
      assert(pure === (expectLangs.length == 1))
    }
    assert(out.nonEmpty, "corpus must have multi-doc clusters")
    SparkEntry.release(spark)
  }

  test("t60 cdc chunks: the chunking replays driver-side and boundaries are content-anchored") {
    val out = SparkEntry.queries("t60_cdc_chunks")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.trim.nonEmpty)
    def bucket(tok: String): Long = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hx.substring(0, 6), 16)
    }
    def chunksOf(text: String): Seq[Seq[String]] = {
      val w = text.trim.split("[ \t\n\f\r]+").toSeq
      val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      w.foreach { tok =>
        cur += tok
        if (bucket(tok) % 8 == 0) { out += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer() }
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.toSeq
    }
    for ((src, ds) <- docs.groupBy(_._1)) {
      val chunks = ds.flatMap(d => chunksOf(d._2))
      val (nChunks, nDistinct, meanTok) = out(src)
      assert(nChunks === chunks.length, s"$src n_chunks")
      assert(nDistinct === chunks.map(_.mkString(" ")).distinct.length,
        s"$src distinct")
      assert(math.abs(meanTok - math.rint(
        chunks.map(_.length).sum.toDouble / chunks.length * 100) / 100) < 1e-9,
        s"$src mean")
    }
    // content anchoring: an insertion at the head must not change any
    // chunk after the first boundary
    val sample = docs.head._2
    val shifted = "zzz " + sample
    val a = chunksOf(sample).map(_.mkString(" "))
    val b = chunksOf(shifted).map(_.mkString(" "))
    assert(a.drop(1).toSet.subsetOf(b.toSet),
      "CDC must keep all chunks after the first boundary stable under a head insertion")
    SparkEntry.release(spark)
  }

  test("q127 new vs returning: day one is all-new, splits partition actives, and news sum to the user count") {
    val rows = SparkEntry.queries("q127_new_vs_returning")(spark, sf0001)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    val first = rows.head
    assert(first.getLong(2) === first.getLong(1),
      "every active on the first corpus day is new")
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3),
        "new + returning must partition the day's actives")
    }
    val users = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(2)).sum === users,
      "each user is new on exactly one day")
    SparkEntry.release(spark)
  }

  test("t61 oov rate: the top-16 vocab cut replays driver-side and rates are non-degenerate") {
    val out = SparkEntry.queries("t61_oov_rate")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    val toks = graft.Tables.t(spark, sf0001, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.trim.nonEmpty)
      .flatMap { case (src, t) =>
        t.trim.split("[ \t\n\f\r]+").map(src -> _) }
    val vocab = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(16).map(_._1).toSet
    for ((src, grp) <- toks.groupBy(_._1)) {
      val (total, oov, types, oovTypes) = out(src)
      assert(total === grp.length, s"$src total")
      assert(oov === grp.count(g => !vocab(g._2)), s"$src oov")
      val distinct = grp.map(_._2).distinct
      assert(types === distinct.length, s"$src types")
      assert(oovTypes === distinct.count(!vocab(_)), s"$src oov types")
    }
    assert(out.values.exists(_._2 > 0),
      "the 16-token budget must leave real OOV mass on this corpus")
    SparkEntry.release(spark)
  }

  test("q128 interarrival: the block-decomposed lag reproduces the global delta multiset and its quantiles") {
    val rows = SparkEntry.queries("q128_interarrival")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((tpe, es) <- ev.groupBy(_._1)) {
      val ordered = es.sortBy(e => (e._2, e._3))
      val deltas = ordered.sliding(2).map(p => p(1)._2 - p(0)._2).toSeq.sorted
      val (n, p50, p90, mx) = rows(tpe)
      assert(n === deltas.length, s"$tpe must have n_events - 1 gaps")
      assert(p50 === deltas((50 * n.toInt + 99) / 100 - 1), s"$tpe p50")
      assert(p90 === deltas((90 * n.toInt + 99) / 100 - 1), s"$tpe p90")
      assert(mx === deltas.max, s"$tpe max")
    }
    SparkEntry.release(spark)
  }

  test("q129 blocking sweep: pair counts replay from block sizes and rules bracket the cost trade") {
    val rows = SparkEntry.queries("q129_blocking_sweep")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === Set("nation", "segment", "nation_x_segment",
      "balance_bucket"))
    val cust = graft.Tables.t(spark, sf0001, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    def check(rule: String, key: ((Int, String, Double)) => String): Unit = {
      val blocks = cust.groupBy(key).view.mapValues(_.size.toLong)
      val (nb, nr, pairs, mx) = rows(rule)
      assert(nb === blocks.size, s"$rule blocks")
      assert(nr === cust.length, s"$rule rows")
      assert(pairs === blocks.values.map(b => b * (b - 1) / 2).sum,
        s"$rule pairs")
      assert(mx === blocks.values.max, s"$rule max block")
    }
    check("nation", c => c._1.toString)
    check("segment", c => c._2)
    check("nation_x_segment", c => s"${c._1}|${c._2}")
    check("balance_bucket", c => math.floor(c._3 / 1000.0).toLong.toString)
    // the sweep's purpose: a refined key must cost less than its parts
    assert(rows("nation_x_segment")._3 < rows("nation")._3)
    assert(rows("nation_x_segment")._3 < rows("segment")._3)
    SparkEntry.release(spark)
  }

  test("q130 typed profile: the mergeable Aggregator matches the untyped rendering exactly") {
    val typed = SparkEntry.queries("q130_typed_profile")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val untyped = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        round(max(col("value")), 2).as("mx"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(typed === untyped)
    SparkEntry.release(spark)
  }

  test("q131 cohort funnel: shares sum to one per cohort and cells partition the signup population") {
    val rows = SparkEntry.queries("q131_cohort_funnel")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getTimestamp(0))
    val signups = graft.Tables.t(spark, sf0001, "events")
      .filter(col("event_type") === "signup")
      .select(col("user_id")).distinct().count()
    assert(byCohort.values.flatten.map(_.getLong(2)).sum === signups,
      "cells must partition the signed-up population")
    for ((cw, cells) <- byCohort) {
      val size = cells.head.getLong(3)
      assert(cells.map(_.getLong(2)).sum === size, s"$cw cells vs size")
      val shareSum = cells.map(_.getDouble(4)).sum
      assert(math.abs(shareSum - 1.0) < 1e-3, s"$cw shares must sum to 1")
      assert(cells.map(_.getString(1)).toSet.subsetOf(
        Set("signup_only", "click", "high_purchase")))
    }
    // the staging must discriminate on this corpus (the reason the
    // final stage is high-value purchase, not any purchase)
    assert(rows.map(_.getString(1)).distinct.length >= 2,
      "at least two stages must be populated")
    SparkEntry.release(spark)
  }

  test("q132 velocity: trailing-hour counts and cents replay exactly from the raw event stream") {
    val out = SparkEntry.queries("q132_event_velocity")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val raw = graft.Tables.t(spark, sf0001, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        expr("CAST(round(value * 100) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.size === raw.length, "one output row per event")
    val hourUs = 3600L * 1000000L
    for ((byUser) <- raw.groupBy(_._2).values; (id, _, us, _) <- byUser) {
      val frame = byUser.filter(e => e._3 >= us - hourUs && e._3 <= us)
      assert(out(id) === ((frame.length.toLong, frame.map(_._4).sum)),
        s"event $id trailing-1h frame mismatch")
    }
    SparkEntry.release(spark)
  }

  test("q133 contribution cap: no user keeps more than 20 events and the kept set is the deterministic hash prefix") {
    val e = graft.Tables.t(spark, sf0001, "events")
    val kept = e
      .select(col("user_id"), col("event_id"),
        md5(col("event_id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2)).take(20).map(_._2).toSet)
      .toMap
    val perType = SparkEntry.queries("q133_user_event_cap")(spark, sf0001)
      .collect()
    val nKeptTotal = perType.map(_.getLong(2)).sum
    assert(nKeptTotal === kept.values.map(_.size).sum,
      "per-type kept counts must sum to the per-user hash-prefix union")
    assert(perType.map(_.getLong(1)).sum === e.count())
    perType.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"${r.getString(0)} kept > total")
    }
    SparkEntry.release(spark)
  }

  test("q134 mixture step: alphas normalize, excess is the clipped loss gap, and weights order by excess") {
    val rows = SparkEntry.queries("q134_mixture_step")(spark, sf0001)
      .collect()
    assert(rows.length >= 2)
    val alphaSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(alphaSum - 1.0) < 1e-4, s"alphas sum to $alphaSum")
    rows.foreach { r =>
      val (self, ref, exc) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(exc - math.max(0.0, ref - self)) < 1e-3,
        s"${r.getString(0)} excess is not the clipped loss gap")
      assert(exc >= 0.0)
    }
    // multiplicative weights: higher excess loss ⇒ at least as much α
    val byExcess = rows.sortBy(_.getDouble(4)).map(_.getDouble(5))
    assert(byExcess.sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9),
      "alpha must be monotone in excess")
    SparkEntry.release(spark)
  }

  test("q135 heavy hitters: estimates are one-sided overestimates and exact counts replay driver-side") {
    val rows = SparkEntry.queries("q135_heavy_hitters")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val exact = graft.Tables.t(spark, sf0001, "events")
      .select(concat_ws("|", col("user_id"), col("event_type")).as("k"))
      .collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val (k, ex, est, over) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(exact(k) === ex, s"$k exact count mismatch")
      assert(est >= ex, s"$k: count-min must never underestimate")
      assert(over === est - ex)
    }
    // top-20 by exact count: no unreturned key may beat the returned floor
    val floor = rows.map(_.getLong(1)).min
    val returned = rows.map(_.getString(0)).toSet
    assert(exact.filterNot(kv => returned(kv._1)).values.forall(_ <= floor),
      "a heavier key was left out of the top-20")
    SparkEntry.release(spark)
  }

  test("q136 CUSUM: the closed-form statistic replays the max(0, S+d) recurrence exactly") {
    val rows = SparkEntry.queries("q136_cusum_changepoint")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    for ((_, series) <- rows.groupBy(_._1)) {
      val ordered = series.sortBy(_._2.getTime)
      val n = ordered.map(_._3).sum
      val dcnt = ordered.length.toLong
      var s = 0L
      ordered.foreach { case (_, _, x, sU, alarm) =>
        s = math.max(0L, s + (x * dcnt * 10L - n * 11L))
        assert(s === sU, s"CUSUM recurrence mismatch at x=$x")
        assert(alarm === (s > n * 5L))
      }
    }
    SparkEntry.release(spark)
  }

  test("q137 DP sensitivity: bounds respect the q133 cap and replay from the capped event set") {
    val rows = SparkEntry.queries("q137_dp_sensitivity")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= 20L,
        s"${r.getString(0)}: count sensitivity must respect the cap")
      assert(r.getLong(3) >= 0L)
    }
    // consistency with q133: per-type user-aggregated kept events sum
    // to the same kept totals the cap query reports
    val keptByType = SparkEntry.queries("q133_user_event_cap")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val e = graft.Tables.t(spark, sf0001, "events")
    val keptSets = e
      .select(col("user_id"), col("event_id"), col("event_type"),
        md5(col("event_id").cast("string")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .groupBy(_._1).values
      .flatMap(_.sortBy(t => (t._4, t._2)).take(20)).toSeq
    val perType = keptSets.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    assert(perType === keptByType, "q137's base set must be q133's")
    SparkEntry.release(spark)
  }

  test("d60 source minhash: full pair grid, bounded estimator error, slots within range") {
    val rows = SparkEntry.queries("d60_source_minhash")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val srcs = rows.flatMap(r => Seq(r._1, r._2)).distinct.length
    assert(rows.length === srcs * (srcs - 1) / 2,
      "every source pair must appear exactly once")
    rows.foreach { case (sa, sb, m, est, jac, err) =>
      assert(m >= 0 && m <= 24, s"$sa/$sb slot matches out of range")
      assert(est >= 0.0 && est <= 1.0 && jac >= 0.0 && jac <= 1.0)
      assert(math.abs(est - jac) - err < 1e-9)
    }
    // 24 permutations ⇒ stderr ≤ √(0.25/24) ≈ 0.102; the mean error
    // across pairs must sit inside a few multiples of that
    val meanErr = rows.map(_._6).sum / rows.length
    assert(meanErr < 0.15, s"mean |est − exact| $meanErr too high")
    SparkEntry.release(spark)
  }

  test("q138 markov attribution: removal never helps, credit shares normalize") {
    val rows = SparkEntry.queries("q138_markov_attribution")(spark, sf0001)
      .collect()
    assert(rows.length === 4)
    val pFull = rows.head.getDouble(1)
    rows.foreach { r =>
      assert(r.getDouble(1) === pFull)
      assert(r.getDouble(2) <= pFull + 1e-9,
        s"${r.getString(0)}: removing a channel cannot increase reach")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(2) >= 0.0)
    }
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum to $shareSum")
    SparkEntry.release(spark)
  }

  test("q139 KM: the survival curve replays exactly from raw events with censoring") {
    val rows = SparkEntry.queries("q139_survival_km")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    val obs = byUser.values.map { es =>
      val first = es.map(_._2).min
      val convs = es.filter(e => e._3 == "purchase" && e._4 > 150)
      if (convs.nonEmpty) ((convs.map(_._2).min - first) / 3600000000L, true)
      else ((es.map(_._2).max - first) / 3600000000L, false)
    }.toSeq
    assert(rows.map(_._2).max === obs.size, "top risk set = all users")
    var s = 1.0
    var atRisk = obs.size.toLong
    rows.foreach { case (t, nRisk, nConv, nCens, sKm) =>
      val here = obs.filter(_._1 == t)
      assert(nRisk === atRisk, s"risk set at $t")
      assert(nConv === here.count(_._2) && nCens === here.count(!_._2))
      if (nConv > 0) s *= 1.0 - nConv.toDouble / nRisk
      assert(math.abs(sKm - s) < 5e-4, s"S($t): $sKm vs replay $s")
      atRisk -= here.size
    }
    assert(rows.last._5 < 1.0, "conversions must actually move the curve")
    SparkEntry.release(spark)
  }

  test("m46 shot boundaries: frame deltas replay exactly from payload bytes") {
    val out = SparkEntry.queries("m46_shot_boundaries")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      val hx = text.getBytes("UTF-8").map("%02x".format(_)).mkString
      if (hx.nonEmpty) {
        val tiles = hx.grouped(512).take(64).toArray
        val hists = tiles.map { t =>
          val h = new Array[Long](16)
          t.foreach(c => h(Integer.parseInt(c.toString, 16)) += 1)
          h
        }
        val l1s = hists.sliding(2).collect { case Array(a, b) =>
          a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
        }.toArray
        val expected = (tiles.length.toLong,
          l1s.count(_ > 256).toLong,
          if (l1s.isEmpty) 0L else l1s.max)
        assert(out(id) === expected, s"doc $id frame stats mismatch")
      }
    }
    assert(out.values.map(_._2).sum > 0, "cuts must fire on this corpus")
    SparkEntry.release(spark)
  }

  test("q140 peak concurrency: the block-decomposed sweep replays the flat interval sweep exactly") {
    val rows = SparkEntry.queries("q140_peak_concurrency")(spark, sf0001)
      .collect()
      .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2)))
      .toMap
    // driver replay: sessions, then the flat sweep
    val ev = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gap = 4L * 3600L * 1000000L
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var (s0, e0) = (sorted.head._2, sorted.head._2)
      sorted.tail.foreach { e =>
        if (e._2 - e0 > gap) { bounds += ((s0, e0)); s0 = e._2 }
        e0 = e._2
      }
      bounds += ((s0, e0))
      bounds.map { case (a, b) => (uid, a, b) }
    }
    val sweep = sessions.flatMap { case (uid, a, b) =>
      Seq((a, 1L, uid), (b, -1L, uid)) }
      .sortBy { case (us, delta, uid) => (us, -delta, uid) }
    var run = 0L
    val byDay = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    sweep.foreach { case (us, delta, _) =>
      run += delta
      val day = us / 86400000000L * 86400000L
      val (pk, st) = byDay.getOrElse(day, (Long.MinValue, 0L))
      byDay(day) = (math.max(pk, run), st + (if (delta > 0) 1 else 0))
    }
    assert(rows === byDay.toMap, "sweep replay mismatch")
    assert(rows.values.map(_._1).max > 1, "concurrency must exceed one")
    SparkEntry.release(spark)
  }

  test("m47 keyframes: scenes partition m46's frames and every scene starts at its keyframe") {
    val scenes = SparkEntry.queries("m47_scene_keyframes")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val m46 = SparkEntry.queries("m46_shot_boundaries")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    val byDoc = scenes.groupBy(_._1)
    assert(byDoc.keySet === m46.keySet)
    for ((doc, sc) <- byDoc) {
      val (nFrames, nScenes) = m46(doc)
      assert(sc.map(_._4).sum === nFrames, s"doc $doc frames partition")
      assert(sc.length.toLong === nScenes, s"doc $doc scene count")
      assert(sc.minBy(_._2)._3 === 0L, s"doc $doc scene 0 starts at frame 0")
      // keyframes are distinct and ordered with scene numbers
      val ordered = sc.sortBy(_._2).map(_._3)
      assert(ordered.sameElements(ordered.sorted), s"doc $doc keyframe order")
    }
    SparkEntry.release(spark)
  }

  test("s64 SQ8: per-dim error respects the half-step codec bound and codes stay within budget") {
    val rows = SparkEntry.queries("s64_sq8_quant")(spark, sf0001).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (dim, n, vmin, vmax, nCodes, maxAbsEu) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getLong(4), r.getLong(6))
      assert(n > 0 && nCodes >= 1 && nCodes <= 256, s"dim $dim code budget")
      val halfStepU = (vmax - vmin) / 256.0 / 2.0 * 1e6
      assert(maxAbsEu <= math.ceil(halfStepU).toLong + 1,
        s"dim $dim: |err| ${maxAbsEu}u exceeds half-step ${halfStepU}u")
    }
    SparkEntry.release(spark)
  }

  test("q141 Benford: nine rows replay exactly from raw order totals and fractions close") {
    val rows = SparkEntry.queries("q141_benford_digits")(spark, sf0001)
      .orderBy("digit").collect()
    assert(rows.length === 9)
    // driver replay: digit histogram from raw totals via the same
    // integer-cents rendering
    val totals = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    val hist = totals.groupBy(v =>
      math.round(v * 100).toString.head.asDigit.toLong)
      .view.mapValues(_.length.toLong).toMap
    var obsSum = 0.0
    rows.foreach { r =>
      val (digit, n, obs, expF, chi) = (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(n === hist.getOrElse(digit, 0L), s"digit $digit count")
      assert(expF === math.log10(1.0 + 1.0 / digit), s"digit $digit exp")
      assert(chi >= 0.0)
      obsSum += obs
    }
    assert(math.abs(obsSum - 1.0) < 1e-4, s"obs fractions sum $obsSum")
    SparkEntry.release(spark)
  }

  test("q142 basket lift: top-20 replays exactly from the raw (order, brand) baskets") {
    val rows = SparkEntry.queries("q142_basket_lift")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val baskets = graft.Tables.t(spark, sf0001, "lineitem")
      .join(graft.Tables.t(spark, sf0001, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val n = baskets.map(_._1).distinct.length.toLong
    val bc = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val co = baskets.groupBy(_._1).values.flatMap { items =>
      val bs = items.map(_._2).sorted
      for (i <- bs.indices; j <- (i + 1) until bs.length) yield (bs(i), bs(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 5)
    val expected = co.toSeq.map { case ((a, b), nc) =>
      val lift = math.rint(nc * n / (bc(a) * bc(b)).toDouble * 1e6) / 1e6
      (a, b, nc, lift)
    }.sortBy { case (a, b, _, lift) => (-lift, a, b) }.take(20)
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getDouble(8)))
    assert(got.toSeq === expected, "top-20 pair set/order")
    rows.foreach(r => assert(r.getString(0) < r.getString(1)))
    SparkEntry.release(spark)
  }

  test("q143 EWMA: every row's scaled kernel replays exactly from the daily counts") {
    val rows = SparkEntry.queries("q143_ewma_forecast")(spark, sf0001).collect()
    val daily = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1)
      .view.mapValues(_.map(x => x._2 -> x._3).toMap).toMap
    assert(rows.length === daily.length)
    rows.foreach { r =>
      val (tpe, day) = (r.getString(0), r.getTimestamp(1)
        .toLocalDateTime.toLocalDate)
      val cnts = byType(tpe)
      val scaled = (0 to 31).map(k => cnts.getOrElse(day.minusDays(k), 0L)
        << (31 - k)).sum
      assert(r.getLong(3) === scaled, s"$tpe $day scaled kernel")
      assert(r.getLong(2) === cnts(day), s"$tpe $day n_events")
      // the level sits between min and max daily volume by convexity
      // (weights sum < 1, so it can undershoot the min — only the max
      // bound is a hard invariant)
      assert(r.getDouble(4) <= cnts.values.max.toDouble)
    }
    SparkEntry.release(spark)
  }

  test("s66 binary codes: packing replays exactly from raw embeddings against the integer-mean rule") {
    val rows = SparkEntry.queries("s66_binary_quant")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val embs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    assert(rows.length === embs.length)
    val micro = embs.map { case (id, v) =>
      id -> v.map(x => math.rint(x * 1e6).toLong) }
    val nVec = micro.length.toLong
    val sums = Array.tabulate(64)(k => micro.map(_._2(k)).sum)
    val expected = micro.map { case (id, vu) =>
      var lo = 0L; var hi = 0L
      for (k <- 0 until 64)
        if (vu(k) * nVec > sums(k)) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
      (id, lo, hi, java.lang.Long.bitCount(lo).toLong
        + java.lang.Long.bitCount(hi))
    }
    assert(rows.toSeq === expected.toSeq)
    // mean thresholds must produce non-degenerate bit planes: at least
    // half the dims split the corpus non-trivially
    val nonTrivial = (0 until 64).count { k =>
      val set = micro.count { case (_, vu) => vu(k) * nVec > sums(k) }
      set > 0 && set < micro.length
    }
    assert(nonTrivial >= 32, s"only $nonTrivial non-trivial bit planes")
    SparkEntry.release(spark)
  }

  test("s67 Hamming recall: hits are the exact-arm intersection and the codec beats chance") {
    val rows = SparkEntry.queries("s67_hamming_recall")(spark, sf0001)
      .orderBy("qid").collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (qid, nHits, recall) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(qid >= 0 && qid < 10)
      assert(nHits >= 0 && nHits <= 10)
      assert(recall === math.rint(nHits / 10.0 * 1e4) / 1e4)
    }
    // chance recall@10 over a 500-vector corpus is 10/499 ≈ 0.02 per
    // query; the sign codec must do materially better on average
    val mean = rows.map(_.getDouble(2)).sum / rows.length
    assert(mean >= 0.1, s"mean binary recall $mean below floor")
    SparkEntry.release(spark)
  }

  test("t62 burstiness: the Fisher index replays exactly from per-doc token counts with zeros") {
    val rows = SparkEntry.queries("t62_token_burstiness")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toLong
    def toks(t: String): Seq[String] =
      if (t.trim.isEmpty) Seq.empty else t.trim.split("[ \t\n\f\r]+").toSeq
    val perDoc = docs.map { case (id, t) =>
      id -> toks(t).groupBy(identity).view.mapValues(_.length.toLong).toMap }
    rows.foreach { r =>
      val (tok, present, total) = (r.getString(0), r.getLong(1), r.getLong(2))
      val cs = perDoc.map(_._2.getOrElse(tok, 0L))
      assert(present === cs.count(_ > 0))
      assert(total === cs.sum)
      val sumsq = cs.map(c => c * c).sum
      val expect = math.rint((n * sumsq - total * total).toDouble
        / (n * total).toDouble * 1e6) / 1e6
      assert(r.getDouble(3) === expect, s"token $tok burstiness")
      assert(r.getDouble(3) > 0.0)
    }
    SparkEntry.release(spark)
  }

  test("t63 BPE merge step: the top-20 pair table replays exactly from the word-frequency collapse") {
    val rows = SparkEntry.queries("t63_bpe_merge_step")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (p, _, _) => assert(p.length === 2) }
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val words = docs.flatMap(t =>
      if (t.trim.isEmpty) Seq.empty[String]
      else t.trim.split("[ \t\n\f\r]+").toSeq)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pairCounts = words.toSeq.flatMap { case (w, wf) =>
      val wl = math.min(w.length, 32)
      (1 until wl).map(i => (w.substring(i - 1, i + 1), w, wf))
    }
    val expected = pairCounts.groupBy(_._1).map { case (p, xs) =>
      (p, xs.map(_._3).sum, xs.map(_._2).distinct.size.toLong)
    }.toSeq.sortBy { case (p, nOcc, _) => (-nOcc, p) }.take(20)
    assert(rows.toSeq === expected)
    SparkEntry.release(spark)
  }

  test("t66 BPE training: 5 merges replay a canonical two-pointer BPE trainer exactly") {
    // independent reference: the CLASSIC two-pointer non-overlapping
    // rewrite over symbol lists — deliberately NOT the fold formulation
    // the engine and oracle share, so a fold-semantics bug can't cancel
    val rows = SparkEntry.queries("t66_bpe_train")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(rows.length === 5)
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val wf = docs.flatMap(t =>
      if (t.trim.isEmpty) Seq.empty[String]
      else t.trim.split("[ \t\n\f\r]+").toSeq)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    var syms: Map[String, Vector[String]] =
      wf.keysIterator.map(w => w -> w.take(32).map(_.toString).toVector).toMap
    val expected = (1 to 5).map { step =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, f) <- wf; l = syms(w); i <- 0 until l.length - 1)
        pc((l(i), l(i + 1))) = pc.getOrElse((l(i), l(i + 1)), 0L) + f
      val ((lft, rgt), n) = pc.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      val merged = lft + rgt
      syms = syms.map { case (w, l) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < l.length) {
          if (j + 1 < l.length && l(j) == lft && l(j + 1) == rgt) {
            out += merged; j += 2
          } else { out += l(j); j += 1 }
        }
        w -> out.result()
      }
      (step.toLong, lft, rgt, merged, n)
    }
    assert(rows.toSeq === expected)
    SparkEntry.release(spark)
  }

  test("t67 BPE apply: per-source fertility/compression replay the trained tokenizer exactly") {
    // same independent two-pointer reference as t66, extended through
    // application: train 5 merges globally, tokenize every (source,
    // word) instance, aggregate per source
    val rows = SparkEntry.queries("t67_bpe_apply")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.nonEmpty)
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val perSrc = scala.collection.mutable.Map.empty[(String, String), Long]
    val wf = scala.collection.mutable.Map.empty[String, Long]
    for ((src, t) <- docs; tt = t.trim; if tt.nonEmpty;
         w <- tt.split("[ \t\n\f\r]+")) {
      perSrc((src, w)) = perSrc.getOrElse((src, w), 0L) + 1
      wf(w) = wf.getOrElse(w, 0L) + 1
    }
    var syms: Map[String, Vector[String]] =
      wf.keysIterator.map(w => w -> w.take(32).map(_.toString).toVector).toMap
    for (_ <- 1 to 5) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, f) <- wf; l = syms(w); i <- 0 until l.length - 1)
        pc((l(i), l(i + 1))) = pc.getOrElse((l(i), l(i + 1)), 0L) + f
      val ((lft, rgt), _) = pc.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      val merged = lft + rgt
      syms = syms.map { case (w, l) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < l.length) {
          if (j + 1 < l.length && l(j) == lft && l(j + 1) == rgt) {
            out += merged; j += 2
          } else { out += l(j); j += 1 }
        }
        w -> out.result()
      }
    }
    val acc = scala.collection.mutable.Map.empty[String, Array[Long]]
    perSrc.foreach { case ((src, w), f) =>
      val a = acc.getOrElseUpdate(src, Array(0L, 0L, 0L))
      a(0) += f; a(1) += f * math.min(w.length, 32); a(2) += f * syms(w).length
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = acc.toSeq.map { case (src, a) =>
      (src, a(0), a(1), a(2), r4(a(2).toDouble / a(0)),
        r4(a(2).toDouble / a(1)))
    }.sortBy(_._1)
    assert(rows.toSeq === expected)
    SparkEntry.release(spark)
  }

  test("m48 frame budget: per-doc quotas sum to min(8, frames) and replay the largest-remainder rule") {
    val rows = SparkEntry.queries("m48_frame_budget")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    var binds = 0
    rows.groupBy(_._1).foreach { case (doc, scenes) =>
      val total = scenes.head._4
      assert(scenes.map(_._3).sum === total, s"doc $doc frame total")
      assert(scenes.map(_._5).sum === math.min(8L, total),
        s"doc $doc quota sum")
      if (total > 8) binds += 1
      // replay largest-remainder from (scene_n, n_frames, total)
      val base = scenes.map(s => s._2 -> (8L * s._3 / total)).toMap
      val remW = scenes.map(s => s._2 -> (8L * s._3 % total)).toMap
      val remTotal = 8L - base.values.sum
      val bonusScenes = scenes.map(_._2)
        .sortBy(sn => (-remW(sn), sn)).take(math.max(0, remTotal.toInt))
        .toSet
      scenes.foreach { s =>
        val expect = math.min(
          base(s._2) + (if (bonusScenes(s._2)) 1L else 0L), s._3)
        assert(s._5 === expect, s"doc $doc scene ${s._2} quota")
      }
    }
    assert(binds > 0, "the budget must actually bind on this corpus")
    SparkEntry.release(spark)
  }

  test("q144 elasticity: slopes replay from the closed-form regression and demand slopes down") {
    val rows = SparkEntry.queries("q144_price_elasticity")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val pts = graft.Tables.t(spark, sf0001, "lineitem")
      .join(graft.Tables.t(spark, sf0001, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getString(0), math.log(r.getDouble(1)),
        math.log(r.getDouble(2) / r.getDouble(1))))
      .groupBy(_._1)
    rows.foreach { r =>
      val (brand, n, el, r2) = (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))
      val xs = pts(brand)
      assert(n === xs.length)
      val mx = xs.map(_._3).sum / n
      val my = xs.map(_._2).sum / n
      val cov = xs.map(p => (p._3 - mx) * (p._2 - my)).sum / n
      val vx = xs.map(p => (p._3 - mx) * (p._3 - mx)).sum / n
      assert(math.abs(el - cov / vx) < 2e-4, s"$brand slope $el")
      assert(el < 0.0, s"$brand demand must slope down on this corpus")
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
    SparkEntry.release(spark)
  }

  test("q145 ship-lag audit: quantiles and backdated counts replay exactly from per-order lags") {
    val rows = SparkEntry.queries("q145_ship_lag_audit")(spark, sf0001)
      .collect()
    val lags = graft.Tables.t(spark, sf0001, "lineitem")
      .join(graft.Tables.t(spark, sf0001, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(datediff(max(col("l_shipdate")), max(col("o_orderdate")))
        .cast("long").as("dd"))
      .collect().map(r => (r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.length === lags.size)
    rows.foreach { r =>
      val p = r.getString(0)
      val ds = lags(p)
      val n = ds.length
      def q(k: Double) = ds(math.ceil(k * n).toInt - 1)
      assert(r.getLong(1) === n.toLong)
      assert(r.getLong(2) === ds.count(_ < 0).toLong)
      assert(r.getLong(4) === q(0.1), s"$p p10")
      assert(r.getLong(5) === q(0.5), s"$p p50")
      assert(r.getLong(6) === q(0.9), s"$p p90")
    }
    SparkEntry.release(spark)
  }

  test("q146 ABC: the block-decomposed cumsum replays the flat ranked cumsum and classes are contiguous") {
    val rows = SparkEntry.queries("q146_abc_classification")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(4)))
    assert(rows.nonEmpty)
    val ranked = rows.sortBy(x => (-x._2, x._1))
    val total = rows.map(_._2).sum
    var cum = 0L
    ranked.foreach { case (pk, cents, gotCum, cls) =>
      cum += cents
      assert(gotCum === cum, s"part $pk cumsum")
      val expect = if (cum * 10 <= total * 8) "A"
        else if (cum * 20 <= total * 19) "B" else "C"
      assert(cls === expect, s"part $pk class")
    }
    // contiguity: once the class leaves A it never returns (same for B)
    val classes = ranked.map(_._4)
    assert(classes === classes.sorted, "classes must be A*B*C* in rank order")
    assert(classes.toSet.size >= 2, "at least two classes must populate")
    SparkEntry.release(spark)
  }

  test("d61 shingle sweep: the n=5 arm replays exactly and cost falls while confirms hold") {
    val rows = SparkEntry.queries("d61_shingle_size_sweep")(spark, sf0001)
      .orderBy("shingle_n").collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getLong(6) > 0, s"arm ${r.getLong(0)}: confirms must exist")
      assert(r.getLong(5) >= r.getLong(6), "candidates >= confirmed")
    }
    // finer shingles collide more: candidate cost must fall with n on
    // this corpus (the trade the sweep exists to show)
    assert(rows(0).getLong(5) > rows(1).getLong(5)
      && rows(1).getLong(5) > rows(2).getLong(5), "cost must fall with n")
    assert(rows(0).getLong(3) < rows(1).getLong(3)
      && rows(1).getLong(3) < rows(2).getLong(3),
      "distinct shingles must rise with n")
    // full driver replay of the n=5 arm (its candidate set is tiny)
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def toks(t: String): Array[String] =
      if (t.trim.isEmpty) Array.empty else t.trim.split("[ \t\n\f\r]+")
    val sh5 = docs.map { case (id, t) =>
      val w = toks(t)
      id -> w.sliding(5).filter(_.length == 5).map(_.mkString(" "))
        .toSet
    }.filter(_._2.nonEmpty).toMap
    val df = sh5.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rare = df.filter(_._2.size <= 50)
    val cands = rare.values.flatMap { ids =>
      val s = ids.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
    }.toSet
    val confirmed = cands.count { case (a, b) =>
      val (sa, sb) = (sh5(a), sh5(b))
      val inter = (sa & sb).size
      inter.toDouble / (sa.size + sb.size - inter) >= 0.8
    }
    val arm5 = rows(2)
    assert(arm5.getLong(5) === cands.size.toLong, "n=5 candidates")
    assert(arm5.getLong(6) === confirmed.toLong, "n=5 confirmed")
    SparkEntry.release(spark)
  }

  test("d64 substring dedup: full driver replay — chunking, canonical pick, and removable fractions match exactly") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(tok: String): Long =
      java.lang.Long.parseLong(md5hex(tok).substring(0, 6), 16)
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // (doc_id, source, chunk_idx, ctokens, chunk_md5) — t60's cut rule
    val chunks = docs.flatMap { case (id, src, text) =>
      val w = if (text.trim.isEmpty) Array.empty[String]
        else text.trim.split("[ \t\n\f\r]+")
      if (w.isEmpty) Nil else {
        val flags = w.map(t => if (bucket(t) % 8 == 0) 1L else 0L)
        val idx = flags.scanLeft(0L)(_ + _).dropRight(1) // prefix, excl self
        w.zip(idx).groupBy(_._2).toSeq.map { case (ci, toks) =>
          (id, src, ci, toks.length.toLong,
            md5hex(toks.map(_._1).mkString(" ")))
        }
      }
    }
    val byHash = chunks.groupBy(_._5)
    val removableSet = byHash.values.flatMap { occ =>
      if (occ.map(_._1).distinct.size > 1)
        occ.sortBy(o => (o._1, o._3)).drop(1).map(o => (o._1, o._3))
      else Nil
    }.toSet
    val expected = chunks.groupBy(_._2).map { case (src, cs) =>
      val rem = cs.filter(c => removableSet((c._1, c._3)))
      src -> ((cs.length.toLong, cs.map(_._4).sum,
        rem.length.toLong, rem.map(_._4).sum))
    }
    val got = SparkEntry.queries("d64_substring_dedup")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === expected.keySet)
    for ((src, exp) <- expected)
      assert(got(src) === exp, s"source $src")
    assert(expected.values.exists(_._4 > 0),
      "the corpus must contain cross-doc removable spans (probed non-degenerate)")
    // cross-doc only: a chunk duplicated within a single doc is kept
    val withinOnly = byHash.values.filter(occ =>
      occ.length > 1 && occ.map(_._1).distinct.size == 1)
    withinOnly.flatten.foreach(o =>
      assert(!removableSet((o._1, o._3)),
        "within-doc-only repeats must not be removable"))
    SparkEntry.release(spark)
  }

  test("q147 return rates: the z-squared screen replays exactly from integer counts") {
    val rows = SparkEntry.queries("q147_return_rates")(spark, sf0001)
      .collect()
    val per = graft.Tables.t(spark, sf0001, "lineitem")
      .join(graft.Tables.t(spark, sf0001, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nn = per.map(_._2).sum
    val rr = per.map(_._3).sum
    val byBrand = per.map(x => x._1 -> x).toMap
    assert(rows.length === per.length)
    rows.foreach { row =>
      val (brand, n, r) = (row.getString(0), row.getLong(1), row.getLong(2))
      assert((brand, n, r) === byBrand(brand))
      val a = (r * nn - rr * n).toDouble
      val den = (n * rr * (nn - rr)).toDouble
      assert(row.getDouble(4) === math.rint(a * a / den * 1e4) / 1e4)
      assert(row.getBoolean(5) === (a * a > 4.0 * den))
    }
    SparkEntry.release(spark)
  }

  test("s68 recall@k: hits nest across prefixes and the k=3 row agrees with s45") {
    val rows = SparkEntry.queries("s68_recall_at_k")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.length === 40)
    val byQ = rows.groupBy(_._2)
    byQ.foreach { case (qid, rs) =>
      val m = rs.map(x => x._1 -> x._3).toMap
      assert(m.keySet === Set(1L, 3L, 5L, 10L))
      m.foreach { case (k, h) => assert(h >= 0 && h <= k) }
      // E_k and A_k are nested prefixes, so the intersection can only
      // grow with k
      assert(m(1L) <= m(3L) && m(3L) <= m(5L) && m(5L) <= m(10L),
        s"qid $qid hits must nest")
    }
    val s45 = SparkEntry.queries("s45_ann_recall")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_._1 == 3L).foreach { case (_, qid, _, rec) =>
      assert(rec === s45(qid), s"qid $qid: s68@3 must equal s45 recall@3")
    }
    SparkEntry.release(spark)
  }

  test("q148 decomposition: components replay exactly and residuals center per (type, dow)") {
    val rows = SparkEntry.queries("q148_seasonal_decomposition")(
      spark, sf0001).collect()
    assert(rows.nonEmpty)
    val daily = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1)
      .view.mapValues(_.map(x => x._2 -> x._3).toMap).toMap
    // full replay: integer trend7 over complete windows, integer
    // detrended mass, per-(type, dow) effect
    val trend7 = daily.flatMap { case (tpe, day, c) =>
      val cnts = byType(tpe)
      val window = (-3 to 3).flatMap(k => cnts.get(day.plusDays(k)))
      if (window.length == 7) Some(((tpe, day), (c, window.sum))) else None
    }.toMap
    val eff = trend7.toSeq.groupBy { case ((tpe, day), _) =>
      (tpe, day.getDayOfWeek.getValue % 7 + 1) }
      .view.mapValues { xs =>
        val s7 = xs.map { case (_, (c, t7)) => 7 * c - t7 }.sum
        (s7, xs.length)
      }.toMap
    assert(rows.length === trend7.size)
    rows.foreach { r =>
      val tpe = r.getString(0)
      val day = r.getTimestamp(1).toLocalDateTime.toLocalDate
      val (c, t7) = trend7((tpe, day))
      assert(r.getLong(2) === c)
      val dow = day.getDayOfWeek.getValue % 7 + 1
      assert(r.getLong(3) === dow.toLong, s"$tpe $day dow")
      assert(r.getDouble(4) === math.rint(t7 / 7.0 * 1e4) / 1e4)
      val (s7, nd) = eff((tpe, dow))
      assert(r.getDouble(5) === math.rint(s7 / (nd * 7.0) * 1e4) / 1e4)
      assert(r.getDouble(6) ===
        math.rint((c - t7 / 7.0 - s7 / (nd * 7.0)) * 1e4) / 1e4)
    }
    // the dow effect is the detrended mean, so residuals sum to ~0
    // within each (type, dow) cell (up to the 4-dp display rounding)
    rows.groupBy(r => (r.getString(0), r.getLong(3))).foreach {
      case (cell, rs) =>
        val m = rs.map(_.getDouble(6)).sum / rs.length
        assert(math.abs(m) < 1e-3, s"cell $cell residual mean $m")
    }
    SparkEntry.release(spark)
  }

  test("q149 backtest: errors replay exactly from the kernel and the skill algebra is consistent") {
    val rows = SparkEntry.queries("q149_ewma_backtest")(spark, sf0001)
      .collect()
    val daily = graft.Tables.t(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1)
      .view.mapValues(_.map(x => x._2 -> x._3).toMap).toMap
    assert(rows.length === byType.size)
    rows.foreach { r =>
      val tpe = r.getString(0)
      val cnts = byType(tpe)
      val evals = cnts.keys.toSeq.sorted(Ordering.by((d: java.time.LocalDate)
        => d.toEpochDay)).flatMap { day =>
        cnts.get(day.plusDays(1)).map { actual =>
          val scaled = (0 to 31).map(k =>
            cnts.getOrElse(day.minusDays(k), 0L) << (31 - k)).sum
          ((actual << 32) - scaled, actual - cnts(day))
        }
      }
      val n = evals.length.toLong
      assert(r.getLong(1) === n, s"$tpe n_evals")
      val saeS = evals.map(e => math.abs(e._1)).sum
      val seS = evals.map(_._1).sum
      val saeN = evals.map(e => math.abs(e._2)).sum
      assert(r.getDouble(2) ===
        math.rint(saeS / (n * 4294967296.0) * 1e4) / 1e4, s"$tpe mae")
      assert(r.getDouble(3) ===
        math.rint(seS / (n * 4294967296.0) * 1e4) / 1e4, s"$tpe bias")
      assert(r.getDouble(4) ===
        math.rint(saeN.toDouble / n * 1e4) / 1e4, s"$tpe mae_naive")
      assert(r.getDouble(5) ===
        math.rint((1.0 - (saeS / 4294967296.0) / saeN.toDouble) * 1e4)
          / 1e4, s"$tpe skill")
    }
    SparkEntry.release(spark)
  }

  test("q150 audience overlap: cells replay from distinct user-type sets and counts are symmetric") {
    val rows = SparkEntry.queries("q150_audience_overlap")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val ut = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byType = ut.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val nUsers = ut.map(_._1).distinct.length.toLong
    val cells = rows.map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { case (a, b, both, na, nb, tot) =>
      assert(tot === nUsers)
      assert(na === byType(a).size.toLong && nb === byType(b).size.toLong)
      assert(both === (byType(a) & byType(b)).size.toLong, s"($a,$b)")
      assert(cells((b, a)) === both, s"($a,$b) symmetry")
    }
    SparkEntry.release(spark)
  }

  test("q151 power: arm integers match q114 and the MDE algebra replays in closed form") {
    val r = SparkEntry.queries("q151_ab_power")(spark, sf0001)
      .collect().head
    val z = SparkEntry.queries("q114_ab_ztest")(spark, sf0001)
      .collect().head
    val (na, xa, nb, xb) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert((na, xa, nb, xb) ===
      (z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3)),
      "arm integers must match q114's")
    val pbar = (xa + xb).toDouble / (na + nb)
    val zsum = 1.959963984540054 + 0.8416212335729143
    val mde = zsum * math.sqrt(pbar * (1.0 - pbar)
      * (1.0 / na + 1.0 / nb))
    val lift = xb.toDouble / nb - xa.toDouble / na
    assert(r.getDouble(5) === math.rint(mde * 1e6) / 1e6)
    assert(r.getDouble(6) === math.rint(lift * 1e6) / 1e6)
    assert(r.getBoolean(7) === (math.abs(lift) > mde))
    SparkEntry.release(spark)
  }

  test("q152 cohort LTV: the curve replays exactly and is non-decreasing per cohort") {
    val rows = SparkEntry.queries("q152_cohort_ltv")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, _, nUsers, rev, gotCum, ltv) =>
        cum += rev
        assert(gotCum === cum, s"cohort $cw cumsum")
        assert(ltv === math.rint(cum.toDouble / nUsers * 1e4) / 1e4)
      }
      // cumulative revenue can only grow with the offset
      assert(sorted.map(_._5) === sorted.map(_._5).sorted)
    }
    SparkEntry.release(spark)
  }

  test("s69 frontier: codec rows aggregate their registry twins exactly") {
    val rows = SparkEntry.queries("s69_codec_frontier")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet === Set("float32", "sq8", "binary"))
    assert(rows("float32") === ((256L, 10L, 100L, 1.0)))
    val s65 = SparkEntry.queries("s65_sq8_recall")(spark, sf0001)
      .collect().map(_.getLong(1)).sum
    val s67 = SparkEntry.queries("s67_hamming_recall")(spark, sf0001)
      .collect().map(_.getLong(1)).sum
    assert(rows("sq8")._3 === s65, "sq8 hits must equal s65's total")
    assert(rows("binary")._3 === s67, "binary hits must equal s67's total")
    assert(rows("sq8")._4 === math.rint(s65 / 100.0 * 1e4) / 1e4)
    assert(rows("binary")._4 === math.rint(s67 / 100.0 * 1e4) / 1e4)
    SparkEntry.release(spark)
  }

  test("q153 sequential monitor: cumulative counts are monotone, the final day matches q114, and the mixture LR replays") {
    val rows = SparkEntry.queries("q153_sequential_ab")(spark, sf0001)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    var (pna, pxa, pnb, pxb) = (0L, 0L, 0L, 0L)
    rows.foreach { r =>
      val (na, xa, nb, xb) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(na >= pna && xa >= pxa && nb >= pnb && xb >= pxb,
        s"${r.getTimestamp(0)}: cumulative counts must be monotone")
      assert(xa <= na && xb <= nb)
      pna = na; pxa = xa; pnb = nb; pxb = xb
      if (!r.isNullAt(6)) {
        val pbar = (xa + xb).toDouble / (na + nb)
        val v = pbar * (1.0 - pbar) * (1.0 / na + 1.0 / nb)
        val theta = xb.toDouble / nb - xa.toDouble / na
        val lam = math.sqrt(v / (v + 0.01)) *
          math.exp(theta * theta * 0.01 / (2.0 * v * (v + 0.01)))
        assert(r.getDouble(6) === math.rint(lam * 1e4) / 1e4,
          s"${r.getTimestamp(0)} lambda")
        assert(r.getBoolean(7) === (r.getDouble(6) >= 20.0))
      }
    }
    val z = SparkEntry.queries("q114_ab_ztest")(spark, sf0001)
      .collect().head
    assert((pna, pxa, pnb, pxb) ===
      (z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3)),
      "the final sequential day must reproduce q114's fixed-horizon integers")
    SparkEntry.release(spark)
  }

  test("d62 semdedup sweep: drops are monotone in tau and the 0.35 arm reproduces d51") {
    val rows = SparkEntry.queries("d62_semdedup_sweep")(spark, sf0001)
      .orderBy("tau").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.length === 3)
    assert(rows.map(_._1).toSeq === Seq(0.3, 0.35, 0.4))
    assert(rows(0)._3 >= rows(1)._3 && rows(1)._3 >= rows(2)._3,
      "a lower tau can only drop more")
    assert(rows(0)._3 > rows(2)._3,
      "the sweep must actually discriminate on this corpus")
    val d51Drops = SparkEntry.queries("d51_semdedup")(spark, sf0001)
      .filter(!col("keep")).count()
    assert(rows(1)._3 === d51Drops, "tau=0.35 must reproduce d51's drops")
    rows.foreach { case (_, nv, nd, rate) =>
      assert(rate === math.rint(nd.toDouble / nv * 1e4) / 1e4)
    }
    SparkEntry.release(spark)
  }

  test("d63 LSH bucket stats: every table partitions the corpus and no table collapses") {
    val rows = SparkEntry.queries("d63_lsh_bucket_stats")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty && rows.length <= 96)
    val nVec = rows.head._4
    rows.groupBy(_._1).foreach { case (table, bs) =>
      assert(bs.map(_._3).sum === nVec,
        s"table $table must partition all $nVec vectors")
      assert(bs.forall(b => b._2 >= 0 && b._2 < 16))
      assert(bs.length > 1,
        s"table $table collapsed into a single bucket")
      bs.foreach { b =>
        assert(b._5 === math.rint(b._3.toDouble / nVec * 1e4) / 1e4)
      }
    }
    assert(rows.map(_._1).distinct.length === 6)
    SparkEntry.release(spark)
  }

  test("t64 vocab coverage: prefix sums replay exactly and coverage grows with K") {
    val rows = SparkEntry.queries("t64_vocab_coverage")(spark, sf0001)
      .orderBy("vocab_k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(5L, 10L, 20L))
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val freq = docs.flatMap(t =>
      if (t.trim.isEmpty) Seq.empty[String]
      else t.trim.split("[ \t\n\f\r]+").toSeq)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (tok, c) => (-c, tok) }
    val total = freq.map(_._2).sum
    rows.foreach { case (k, nTypes, totalTokens, covered, coverage) =>
      assert(nTypes === freq.length.toLong)
      assert(totalTokens === total)
      assert(covered === freq.take(k.toInt).map(_._2).sum, s"K=$k covered")
      assert(coverage === math.rint(covered.toDouble / total * 1e4) / 1e4)
    }
    assert(rows(0)._5 < rows(1)._5 && rows(1)._5 <= rows(2)._5,
      "coverage must grow with K")
    SparkEntry.release(spark)
  }

  test("m49 positional entropy: deciles replay exactly and the tail dips below the head") {
    val rows = SparkEntry.queries("m49_positional_entropy")(spark, sf0001)
      .orderBy("decile").collect()
    assert(rows.length === 10)
    // driver replay at the 64-hex frame width with the same fold order
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val nibbles = "0123456789abcdef"
    val frames = docs.flatMap { text =>
      val hx = text.getBytes("UTF-8").map("%02x".format(_)).mkString
      val nt = math.min(math.ceil(hx.length / 64.0).toLong, 64L)
      (0L until nt).map { i =>
        val th = hx.substring((i * 64).toInt,
          math.min(hx.length, (i * 64 + 64).toInt))
        val cnts = nibbles.map(c => th.count(_ == c).toLong)
        val pres = cnts.filter(_ > 0)
        val ent = math.rint(-pres.foldLeft(0.0) { (acc, n) =>
          acc + (n.toDouble / th.length) * math.log(n.toDouble / th.length) /
            math.log(2.0)
        } * 1e4) / 1e4
        (10 * i / nt, math.rint(ent * 1e4).toLong, ent)
      }
    }
    val byDec = frames.groupBy(_._1)
    rows.foreach { r =>
      val dec = r.getLong(0)
      val fs = byDec(dec)
      assert(r.getLong(1) === fs.length.toLong, s"decile $dec n_frames")
      assert(r.getDouble(2) === math.rint(fs.map(_._2).sum.toDouble
        / (fs.length * 10000L) * 1e4) / 1e4, s"decile $dec mean")
      assert(r.getDouble(3) === fs.map(_._3).min, s"decile $dec min")
    }
    assert(rows(9).getDouble(2) < rows.head.getDouble(2),
      "the tail decile must dip below the head on this corpus")
    SparkEntry.release(spark)
  }

  test("q155 rolling median: every value replays from the trailing-7 sorted frame") {
    val rows = SparkEntry.queries("q155_rolling_median")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    val evs = graft.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3)))
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      sorted.zipWithIndex.collect { case ((_, _, eid, _), i) if i >= 6 =>
        (uid, eid) -> sorted.slice(i - 6, i + 1).map(_._4).sorted.apply(3)
      }
    }.toMap
    assert(rows.length === expected.size)
    rows.foreach { case (uid, eid, med) =>
      assert(med === expected((uid, eid)), s"user $uid event $eid")
    }
    SparkEntry.release(spark)
  }

  test("q154 histogram quantiles: estimates respect the half-bucket bound and the exact arm replays") {
    val rows = SparkEntry.queries("q154_histogram_quantiles")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val vals = graft.Tables.t(spark, sf0001, "events")
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val vmin = vals.map(_._3).min
    val vmax = vals.map(_._3).max
    val halfBucket = (vmax - vmin) / 256.0 / 2.0
    val byType = vals.groupBy(_._1)
    rows.foreach { r =>
      val tpe = r.getString(0)
      val sorted = byType(tpe).sortBy(x => (x._3, x._2)).map(_._3)
      val n = sorted.length
      assert(r.getLong(1) === n.toLong)
      def exact(q: Int) = sorted((q * n + 99) / 100 - 1)
      // the exact rank values replay, and each estimate sits within
      // half a bucket of its exact value (structural: the estimate's
      // bucket contains the rank value, the estimate is its center)
      Seq((50, 3, 4), (90, 6, 7), (99, 9, 10)).foreach {
        case (q, exIdx, errIdx) =>
          assert(r.getDouble(exIdx) === math.rint(exact(q) * 1e4) / 1e4,
            s"$tpe exact p$q")
          assert(r.getDouble(errIdx) <= halfBucket + 1e-4,
            s"$tpe p$q err ${r.getDouble(errIdx)} > half bucket $halfBucket")
      }
    }
    SparkEntry.release(spark)
  }

  /** Spark's round() on doubles: HALF_UP via BigDecimal — the replay
    * must use the same tie rule, not rint's HALF_EVEN. */
  private def round0(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  test("q156 small-qty revenue: the exact 5·qty·cnt < sumq gate replays per brand") {
    val li = graft.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong,
        round0(r.getDouble(2) * 100)))
    val brand = graft.Tables.t(spark, sf0001, "part")
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perPart = li.groupBy(_._1).map { case (pk, xs) =>
      pk -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val expected = li.filter { case (pk, q, _) =>
        val (cnt, sumq) = perPart(pk); q * 5 * cnt < sumq }
      .groupBy(x => brand(x._1))
      .map { case (b, xs) => b -> ((xs.length.toLong, xs.map(_._3).sum)) }
    val got = SparkEntry.queries("q156_small_qty_revenue")(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === expected)
    assert(got.nonEmpty, "the small-quantity gate must fire on this corpus")
    SparkEntry.release(spark)
  }

  test("q157 large orders: the pre-join HAVING gate replays exactly") {
    val sumQty = graft.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_quantity")).collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong))
      .groupBy(_._1).map { case (ok, xs) => ok -> xs.map(_._2).sum }
    val big = sumQty.filter(_._2 > 250)
    val orders = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val custName = graft.Tables.t(spark, sf0001, "customer")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = big.map { case (ok, sq) =>
      val (ck, tp) = orders(ok)
      (custName(ck), ck, ok, round0(tp * 100), sq)
    }.toSet
    val got = SparkEntry.queries("q157_large_orders")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "the 250-quantity gate must fire on this corpus")
    SparkEntry.release(spark)
  }

  test("q158 sole late supplier: the EXISTS/NOT-EXISTS collapse replays exactly") {
    val utc = java.time.ZoneOffset.UTC
    // o_orderdate ships as TIMESTAMP_NTZ (LocalDateTime), l_shipdate
    // as TIMESTAMP (sql.Timestamp) — normalize both to the UTC date
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    val orderDate = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_orderdate")).collect()
      .map(r => r.getLong(0) -> day(r.get(1))).toMap
    val lines = graft.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.time.temporal.ChronoUnit.DAYS.between(
          orderDate(r.getLong(0)), day(r.get(2))) > 365))
    val g = lines.groupBy(x => (x._1, x._2)).map { case ((ok, sk), xs) =>
      (ok, sk) -> xs.count(_._3).toLong }
    val prof = g.keys.groupBy(_._1).map { case (ok, ks) =>
      ok -> ((ks.size.toLong, ks.count(k => g(k) > 0).toLong)) }
    val expected = g.toSeq
      .filter { case ((ok, _), nLate) =>
        val (nSupp, nLateSupp) = prof(ok)
        nLate > 0 && nSupp > 1 && nLateSupp == 1 }
      .groupBy(_._1._2)
      .map { case (sk, xs) =>
        sk -> ((xs.map(_._2).sum, xs.length.toLong)) }
    val got = SparkEntry.queries("q158_sole_late_supplier")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    assert(got.nonEmpty, "sole-late suppliers must exist on this corpus")
    SparkEntry.release(spark)
  }

  test("q159 excess stock: the two-key decorrelation replays exactly") {
    val utc = java.time.ZoneOffset.UTC
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    val redParts = graft.Tables.t(spark, sf0001, "part")
      .select(col("p_partkey"), col("p_name")).collect()
      .filter(_.getString(1).startsWith("red")).map(_.getLong(0)).toSet
    val agg = graft.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_shipdate")).collect()
      .filter(r => redParts(r.getLong(0)))
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2).toLong, day(r.get(3)).getYear == 1997)))
      .groupBy(_._1).map { case (k, xs) =>
        k -> ((xs.collect { case (_, (q, true)) => q }.sum,
               xs.collect { case (_, (q, false)) => q }.sum)) }
    val expected = agg.toSeq
      .filter { case (_, (demand97, avail)) =>
        demand97 > 0 && avail * 2 > demand97 }
      .groupBy(_._1._2)
      .map { case (sk, xs) =>
        sk -> ((xs.length.toLong, xs.map(_._2._2).sum)) }
    val got = SparkEntry.queries("q159_excess_stock")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    assert(got.nonEmpty, "excess-stock suppliers must exist on this corpus")
    SparkEntry.release(spark)
  }

  test("q164 priority late orders: the EXISTS decorrelation replays exactly") {
    val utc = java.time.ZoneOffset.UTC
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    val orders = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), day(r.get(1)), r.getString(2)))
      .filter(o => !o._2.isBefore(java.time.LocalDate.of(1997, 1, 1))
        && o._2.isBefore(java.time.LocalDate.of(1997, 4, 1)))
    val lateKeys = {
      val od = orders.map(o => o._1 -> o._2).toMap
      graft.Tables.t(spark, sf0001, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate")).collect()
        .filter { r =>
          od.get(r.getLong(0))
            .exists(a => day(r.get(1)).isAfter(a.plusDays(90))) }
        .map(_.getLong(0)).toSet
    }
    val expected = orders.filter(o => lateKeys(o._1))
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("q164_priority_late_orders")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.size === 5, "all five priorities must have late orders")
    SparkEntry.release(spark)
  }

  test("q163 inflight overlap: the sweep-line pair count equals the brute-force pairwise count") {
    val utc = java.time.ZoneOffset.UTC
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    val orderDate = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_orderdate")).collect()
      .map(r => r.getLong(0) -> day(r.get(1))).toMap
    val ivs = graft.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .collect()
      .map(r => (r.getLong(1), orderDate(r.getLong(0)), day(r.get(2))))
      .filter(x => x._3.isAfter(x._2))
    // brute force: count every pair with max(a) < min(b) — the O(n²)
    // definition the sweep identity must reproduce exactly
    val expected = ivs.groupBy(_._1).map { case (sk, xs) =>
      var pairs = 0L; var peak = 0
      for (i <- xs.indices; j <- 0 until i) {
        val lo = if (xs(i)._2.isAfter(xs(j)._2)) xs(i)._2 else xs(j)._2
        val hi = if (xs(i)._3.isBefore(xs(j)._3)) xs(i)._3 else xs(j)._3
        if (lo.isBefore(hi)) pairs += 1
      }
      val days = xs.flatMap(x => Seq(x._2, x._3)).distinct
      peak = days.map(t => xs.count(x => !x._2.isAfter(t) && x._3.isAfter(t))).max
      sk -> ((xs.length.toLong, pairs, peak.toLong))
    }
    val got = SparkEntry.queries("q163_inflight_overlap")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    assert(got.values.exists(_._2 > 0), "overlapping pairs must exist")
    SparkEntry.release(spark)
  }

  test("q165-q168: the Q19 bands, Q13 zero bucket, Q7 flows, and Q14 share replay exactly") {
    val utc = java.time.ZoneOffset.UTC
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    val li = graft.Tables.t(spark, sf0001, "lineitem").select(
      col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_shipdate")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        math.round(r.getDouble(4) * (1 - r.getDouble(5)) * 100),
        day(r.get(6))))
    val part = graft.Tables.t(spark, sf0001, "part").select(
      col("p_partkey"), col("p_brand"), col("p_size"), col("p_type"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2),
        r.getString(3)))).toMap
    // q165: band attribution over the one joined pass
    val bands = li.flatMap { case (pk, _, _, qty, cents, _) =>
      part.get(pk).toSeq.flatMap { case (brand, size, ptype) =>
        Seq(
          ("brand1_small", brand == "Brand#1" && size >= 1 && size <= 15
            && qty < 25),
          ("brand2_large", brand == "Brand#2" && size >= 16 && size <= 35
            && qty >= 25),
          ("promo_mid", ptype == "PROMO" && qty >= 10 && qty <= 20))
          .collect { case (b, true) => (b, cents) }
      }
    }.groupBy(_._1).map { case (b, xs) =>
      b -> ((xs.map(_._2).sum, xs.length.toLong)) }
    val got165 = SparkEntry.queries("q165_disjunctive_bands")(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got165.keySet === Set("brand1_small", "brand2_large", "promo_mid"))
    for ((b, exp) <- bands) assert(got165(b) === exp, s"band $b")
    assert(bands.values.forall(_._2 > 0), "every band must be non-degenerate")
    // q166: the zero bucket must exist and the distribution must sum
    // to the customer count
    val orders = graft.Tables.t(spark, sf0001, "orders").select(
      col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nCust = graft.Tables.t(spark, sf0001, "customer").count()
    val urgentPer = orders.filter(_._2 == "1-URGENT").groupBy(_._1)
      .view.mapValues(_.length.toLong).toMap
    val got166 = SparkEntry.queries("q166_order_count_distribution")(
      spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got166.values.sum === nCust,
      "distribution buckets must partition the customer set")
    assert(got166.getOrElse(0L, 0L) ===
      nCust - urgentPer.keySet.size,
      "the zero bucket must carry exactly the no-urgent-order customers")
    assert(got166.getOrElse(0L, 0L) > 0,
      "zero bucket must be non-degenerate (probed)")
    // q167: flows are symmetric-free (no same-nation rows) and every
    // (pair, year) cents total replays from the raw rows
    val sup = graft.Tables.t(spark, sf0001, "supplier").select(
      col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val cust = graft.Tables.t(spark, sf0001, "customer").select(
      col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val orderCust = graft.Tables.t(spark, sf0001, "orders").select(
      col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flows = li.flatMap { case (_, sk, ok, _, cents, sd) =>
      for {
        sn <- sup.get(sk) if sn < 5
        cn <- orderCust.get(ok).flatMap(cust.get) if cn < 5 && cn != sn
      } yield ((s"NATION_$sn", s"NATION_$cn", sd.getYear.toLong), cents)
    }.groupBy(_._1).view.mapValues(xs =>
      (xs.map(_._2).sum, xs.length.toLong)).toMap
    val got167 = SparkEntry.queries("q167_nation_trade_flows")(spark, sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)))
        -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got167 === flows)
    assert(got167.nonEmpty, "trade flows must exist at sf0.001 (probed)")
    got167.keys.foreach { case (a, b, _) => assert(a != b) }
    // q168: promo share replays as the one exact division
    val m168 = li.filter { case (_, _, _, _, _, sd) =>
      sd.getYear == 1997 }.flatMap { case (pk, _, _, _, cents, sd) =>
      part.get(pk).map { case (_, _, ptype) =>
        (sd.getMonthValue.toLong,
          (if (ptype == "PROMO") cents else 0L, cents)) }
    }.groupBy(_._1).view.mapValues { xs =>
      val p = xs.map(_._2._1).sum; val t = xs.map(_._2._2).sum
      (p, t, math.rint(100.0 * p / t * 10000) / 10000)
    }.toMap
    val got168 = SparkEntry.queries("q168_promo_share")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got168.keySet === (1L to 12L).toSet, "all 12 months present")
    for ((m, (p, tt, sh)) <- m168) {
      assert(got168(m)._1 === p && got168(m)._2 === tt, s"month $m cents")
      assert(math.abs(got168(m)._3 - sh) < 5e-5, s"month $m share")
    }
    SparkEntry.release(spark)
  }

  test("q169/q170: the Q8 market share and Q10 top-20 returned revenue replay exactly") {
    val utc = java.time.ZoneOffset.UTC
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    val li = graft.Tables.t(spark, sf0001, "lineitem").select(
      col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
      col("l_discount"), col("l_returnflag")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * (1 - r.getDouble(3)) * 100),
        r.getString(4)))
    val ord = graft.Tables.t(spark, sf0001, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), day(r.get(2)))))
      .toMap
    val nations = graft.Tables.t(spark, sf0001, "nation").select(
      col("n_nationkey"), col("n_name"), col("n_regionkey")).collect()
      .map(r => r.getInt(0).toLong -> ((r.getString(1), r.getInt(2))))
      .toMap
    val sup = graft.Tables.t(spark, sf0001, "supplier").select(
      col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val cust = graft.Tables.t(spark, sf0001, "customer").select(
      col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // q169: NATION_3's region, per-year target vs total cents
    val targetRegion = nations.values.find(_._1 == "NATION_3").get._2
    val shares = li.flatMap { case (ok, sk, cents, _) =>
      for {
        (ck, od) <- ord.get(ok)
        cn <- cust.get(ck) if nations(cn)._2 == targetRegion
        sn <- sup.get(sk)
      } yield (od.getYear.toLong,
        (if (nations(sn)._1 == "NATION_3") cents else 0L, cents))
    }.groupBy(_._1).view.mapValues { xs =>
      (xs.map(_._2._1).sum, xs.map(_._2._2).sum) }.toMap
    val got169 = SparkEntry.queries("q169_market_share")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got169.keySet === shares.keySet)
    for ((y, (tc, tot)) <- shares) {
      assert(got169(y)._1 === tc && got169(y)._2 === tot, s"year $y cents")
      assert(math.abs(got169(y)._3
        - math.rint(100.0 * tc / tot * 10000) / 10000) < 5e-5, s"year $y pct")
    }
    assert(shares.values.exists(_._1 > 0),
      "the target nation must hold real share (probed)")
    // q170: top-20 by (returned cents DESC, custkey ASC)
    val h1 = (java.time.LocalDate.of(1997, 1, 1),
      java.time.LocalDate.of(1997, 7, 1))
    val perCust = li.flatMap { case (ok, _, cents, rf) =>
      for {
        (ck, od) <- ord.get(ok)
        if rf == "R" && !od.isBefore(h1._1) && od.isBefore(h1._2)
      } yield (ck, cents)
    }.groupBy(_._1).view.mapValues(xs =>
      (xs.map(_._2).sum, xs.length.toLong)).toMap
    val top20 = perCust.toSeq
      .sortBy { case (ck, (rc, _)) => (-rc, ck) }.take(20)
    val got170 = SparkEntry.queries("q170_returned_top_customers")(
      spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got170.size === 20)
    assert(got170 === top20.toMap)
    SparkEntry.release(spark)
  }

  test("q160/q161/q162: the Q15 tie-max, Q22 churn gate, and Q11 fraction gate replay exactly") {
    val utc = java.time.ZoneOffset.UTC
    def day(x: Any): java.time.LocalDate = x match {
      case t: java.sql.Timestamp => t.toInstant.atZone(utc).toLocalDate
      case dt: java.time.LocalDateTime => dt.toLocalDate
      case i: java.time.Instant => i.atZone(utc).toLocalDate
    }
    def cents(x: Double): Long = math.round(x * 100)
    // Q15: per-supplier quarter revenue, winners = all at the max
    val li = graft.Tables.t(spark, sf0001, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount")).collect()
    val q1 = li.filter { r =>
      val dd = day(r.get(2))
      !dd.isBefore(java.time.LocalDate.of(1997, 1, 1)) &&
        dd.isBefore(java.time.LocalDate.of(1997, 4, 1)) }
    val rev = q1.groupBy(_.getLong(0)).view.mapValues(
      _.map(r => cents(r.getDouble(3) * (1 - r.getDouble(4)))).sum).toMap
    val mxRev = rev.values.max
    val expTop = rev.filter(_._2 == mxRev).keySet
    val gotTop = SparkEntry.queries("q160_top_quarter_supplier")(
      spark, sf0001).collect()
    assert(gotTop.map(_.getLong(0)).toSet === expTop)
    assert(gotTop.forall(_.getLong(2) === mxRev))
    // Q22: above-average positive balances with no order since 1999
    val cust = graft.Tables.t(spark, sf0001, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .collect().map(r => (r.getLong(0), r.getInt(1), cents(r.getDouble(2))))
    val recent = graft.Tables.t(spark, sf0001, "orders")
      .select(col("o_custkey"), col("o_orderdate")).collect()
      .filter(r => !day(r.get(1)).isBefore(java.time.LocalDate.of(1999, 1, 1)))
      .map(_.getLong(0)).toSet
    val sumC = cust.map(_._3).sum; val nPos = cust.length
    val churned = cust.filter(c => c._3 * nPos > sumC && !recent(c._1))
    assert(churned.nonEmpty, "churned rich customers must exist")
    val expChurn = churned.groupBy(_._2).map { case (nk, xs) =>
      nk -> ((xs.length.toLong, xs.map(_._3).sum)) }
    val nations = graft.Tables.t(spark, sf0001, "nation")
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getString(1) -> r.getInt(0)).toMap
    val gotChurn = SparkEntry.queries("q161_churned_customers")(
      spark, sf0001).collect()
      .map(r => nations(r.getString(0)) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(gotChurn === expChurn)
    // Q11: per-part value at NATION_3 suppliers, gate value·1000 > total
    val n3 = graft.Tables.t(spark, sf0001, "supplier")
      .join(graft.Tables.t(spark, sf0001, "nation")
        .filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    val byPart = li.filter(r => n3(r.getLong(0))).groupBy(_.getLong(1))
      .view.mapValues(
        _.map(r => cents(r.getDouble(3) * (1 - r.getDouble(4)))).sum).toMap
    val total = byPart.values.sum
    val nParts = byPart.size
    val expParts = byPart.filter(_._2 * nParts > total * 2)
    assert(expParts.nonEmpty, "important parts must exist")
    val gotParts = SparkEntry.queries("q162_important_parts")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotParts === expParts)
    SparkEntry.release(spark)
  }

  test("m50 survives a >16 MiB payload: segment boundaries stay in BIGINT (overflow regression)") {
    import spark.implicits._
    // 18 MiB payloads: hex length ~37.7M chars, so i·ln at i=63 is
    // ~2.4e9 > 2^31 — the arithmetic the r13 fix widened to BIGINT
    // (32-bit INT products would throw under ANSI Spark 4.1). Two
    // identical docs must fingerprint identically and flag as a
    // Hamming-0 dup, proving the whole chain (boundaries, masses,
    // packing, banding, scoring) ran correct at this size.
    val big = "qz8# " * (18 * 1024 * 1024 / 5)
    val giant = Seq((1L, big, "en", "src0"), (2L, big, "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = withCorpus("documents" -> giant) { dir =>
      SparkEntry.queries("m50_phash_neardup")(spark, dir).collect()
    }
    assert(out.length === 1, "the identical pair must be the one candidate")
    assert(out.head.getLong(2) === 0L && out.head.getBoolean(3),
      "identical 18 MiB payloads must land at Hamming 0, is_dup")
    SparkEntry.release(spark)
  }

  test("m51 payload cdc: planted clones share every chunk; the fold replays driver-side") {
    import spark.implicits._
    // 4 distinct payloads, each cloned 3× within one source, plus one
    // singleton in another: the clone source's dedup ratio must be
    // exactly (n_chunks - distinct)/n_chunks with distinct = chunks of
    // the 4 bases, and the fold must replay token-for-token.
    val base = (0 until 4).map(i =>
      s"payload body $i " + ("qz8#x " * 40) + s"tail $i")
    val rows = base.zipWithIndex.flatMap { case (txt, i) =>
      (0 until 3).map(c => (i * 10L + c, txt, "en", "srcA"))
    } :+ ((99L, "solo payload never repeated", "en", "srcB"))
    val docs = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = withCorpus("documents" -> docs) { dir =>
      SparkEntry.queries("m51_payload_cdc")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    }
    // driver replay of the tile fold
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunksOf(text: String): Seq[String] = {
      val h = text.getBytes("UTF-8").map("%02x".format(_)).mkString
      val tiles = h.grouped(32).toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      tiles.foreach { tl =>
        sb.append(tl)
        if (java.lang.Long.parseLong(md5hex(tl).substring(0, 6), 16) % 8 == 0) {
          out += md5hex(sb.toString); sb.clear()
        }
      }
      if (sb.nonEmpty) out += md5hex(sb.toString)
      out.toSeq
    }
    val perSource = rows.groupBy(_._4).map { case (src, rs) =>
      val all = rs.map(r => chunksOf(r._2))
      val n = all.map(_.size).sum.toLong
      val dist = all.flatten.distinct.size.toLong
      src -> ((n, dist, math.rint((n - dist).toDouble / n * 10000) / 10000))
    }
    assert(got.keySet === perSource.keySet)
    for ((src, exp) <- perSource) assert(got(src) === exp, s"source $src")
    // the clone source must realize exactly 2/3 chunk-level dedup
    val (na, da, ra) = got("srcA")
    assert(da * 3 === na, "3 clones of each base: distinct = n/3")
    assert(ra > 0.66 && ra < 0.67, s"clone dedup ratio was $ra")
    assert(got("srcB")._3 === 0.0, "the singleton deduplicates nothing")
    SparkEntry.release(spark)
  }

  test("m52 gear cdc: near-clones share storage across an insert edit, and the accounting replays driver-side") {
    import spark.implicits._
    // THE operator's reason to exist beside m51: a near-clone with a
    // leading insert still shares (almost) all its chunks, because the
    // stateless gear boundary re-anchors 8 clean bytes past the edit —
    // fixed tiles shift and share nothing. Fixture: one 2 KiB base in
    // srcA, its prefix-edited near-clone in srcB (later doc_id, so
    // srcA owns the shared chunks' first occurrences), one unrelated
    // singleton in srcC.
    val rng = new scala.util.Random(37)
    val baseTxt = (0 until 400).map(_ => s"w${rng.nextInt(5000)}").mkString(" ")
    val editTxt = "EDITED! " + baseTxt
    val rows = Seq(
      (10L, baseTxt, "en", "srcA"),
      (20L, editTxt, "en", "srcB"),
      (30L, "an unrelated singleton document body", "en", "srcC"))
    val docs = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = withCorpus("documents" -> docs) { dir =>
      SparkEntry.queries("m52_gear_cdc")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5)))).toMap
    }
    // driver replay: gear-chunk every doc, assign each distinct chunk
    // hash to its globally first (doc_id, chunk_idx) occurrence
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def gearChunksOf(text: String): Seq[(Long, String)] = {
      val data = text.getBytes("UTF-8")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var h = 0L; var start = 0
      for (i <- data.indices) {
        h = ((h << 4) + (data(i) & 0xffL) * 2654435761L) & 0xFFFFFFFFL
        if (h < 67108864L) {
          out += ((i + 1 - start).toLong ->
            md5hex(data.slice(start, i + 1).map("%02x".format(_)).mkString))
          start = i + 1
        }
      }
      if (start < data.length)
        out += ((data.length - start).toLong ->
          md5hex(data.slice(start, data.length).map("%02x".format(_)).mkString))
      out.toSeq
    }
    val occ = rows.flatMap { case (id, txt, _, src) =>
      gearChunksOf(txt).zipWithIndex.map { case ((cb, h), ci) =>
        (id, ci, src, cb, h) }
    }.sortBy(r => (r._1, r._2))
    // walk occurrences in GLOBAL (doc_id, chunk_idx) order — first
    // occurrence is a global rank, not a per-source one
    val seen = scala.collection.mutable.Set.empty[String]
    val acc = scala.collection.mutable.Map.empty[String, Array[Long]]
    occ.foreach { case (_, _, src, cb, h) =>
      val a = acc.getOrElseUpdate(src, Array(0L, 0L, 0L, 0L))
      a(0) += 1; a(1) += cb
      if (seen.add(h)) { a(2) += 1; a(3) += cb }
    }
    // HALF_UP to mirror Spark's round() exactly — math.rint is
    // half-even and would diverge on an exact tie at the 4th decimal
    val exp = acc.toMap.map { case (src, a) =>
      src -> ((a(0), a(1), a(2), a(3),
        BigDecimal(1.0 - a(3).toDouble / a(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(got.keySet === exp.keySet)
    for ((src, e) <- exp) assert(got(src) === e, s"source $src")
    // the near-clone realizes heavy savings (shared chunks stored once,
    // in srcA); the base and the singleton store everything
    assert(got("srcA")._5 === 0.0, "first copy stores every chunk")
    assert(got("srcB")._5 > 0.8,
      s"prefix-edited near-clone must dedup most bytes, got ${got("srcB")._5}")
    assert(got("srcC")._5 === 0.0)
    SparkEntry.release(spark)
  }

  test("m53 clamped gear cdc: re-anchoring survives the clamp, and the accounting replays driver-side") {
    import spark.implicits._
    // The production tier must keep m52's reason-to-exist: a prefix-
    // edited near-clone still shares (almost) all chunks, because the
    // gear state never resets — the clamp only suppresses cuts closer
    // than 16 bytes to the previous one and forces one at 4096.
    val rng = new scala.util.Random(41)
    val baseTxt = (0 until 400).map(_ => s"w${rng.nextInt(5000)}").mkString(" ")
    val editTxt = "EDITED! " + baseTxt
    val rows = Seq(
      (10L, baseTxt, "en", "srcA"),
      (20L, editTxt, "en", "srcB"),
      (30L, "an unrelated singleton document body", "en", "srcC"))
    val docs = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = withCorpus("documents" -> docs) { dir =>
      SparkEntry.queries("m53_gear_cdc_clamped")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5)))).toMap
    }
    // independent driver replay of the clamped rule: boundary honored
    // only at >=16 bytes since the last cut, forced at 4096
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def clampedChunksOf(text: String): Seq[(Long, String)] = {
      val data = text.getBytes("UTF-8")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var h = 0L; var start = 0
      for (i <- data.indices) {
        h = ((h << 4) + (data(i) & 0xffL) * 2654435761L) & 0xFFFFFFFFL
        val len = i + 1 - start
        if ((h < 67108864L && len >= 16) || len >= 4096) {
          out += (len.toLong ->
            md5hex(data.slice(start, i + 1).map("%02x".format(_)).mkString))
          start = i + 1
        }
      }
      if (start < data.length)
        out += ((data.length - start).toLong ->
          md5hex(data.slice(start, data.length).map("%02x".format(_)).mkString))
      out.toSeq
    }
    val occ = rows.flatMap { case (id, txt, _, src) =>
      clampedChunksOf(txt).zipWithIndex.map { case ((cb, h), ci) =>
        (id, ci, src, cb, h) }
    }.sortBy(r => (r._1, r._2))
    val seen = scala.collection.mutable.Set.empty[String]
    val acc = scala.collection.mutable.Map.empty[String, Array[Long]]
    occ.foreach { case (_, _, src, cb, h) =>
      val a = acc.getOrElseUpdate(src, Array(0L, 0L, 0L, 0L))
      a(0) += 1; a(1) += cb
      if (seen.add(h)) { a(2) += 1; a(3) += cb }
    }
    val exp = acc.toMap.map { case (src, a) =>
      src -> ((a(0), a(1), a(2), a(3),
        BigDecimal(1.0 - a(3).toDouble / a(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(got.keySet === exp.keySet)
    for ((src, e) <- exp) assert(got(src) === e, s"source $src")
    assert(got("srcA")._5 === 0.0, "first copy stores every chunk")
    assert(got("srcB")._5 > 0.8,
      s"clamped near-clone must still dedup most bytes, got ${got("srcB")._5}")
    assert(got("srcC")._5 === 0.0)
    SparkEntry.release(spark)
  }

  test("m53 clamp kills the zero-run degeneracy m52 documents") {
    import spark.implicits._
    // The r15 hazard, pinned at spec scale: a 4 KiB zero run drives
    // the gear state to 0 within 8 bytes, after which the STATELESS
    // rule cuts at every zero byte (~1-byte chunks, an md5 per byte),
    // while the clamped tier cuts exactly every 16 bytes through the
    // run. NUL encodes to one 0x00 byte in UTF-8.
    val zeroRun = "\u0000" * 4096
    val docs = Seq((1L, "header tokens " + zeroRun + " tail tokens",
      "en", "srcZ")).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val (unclamped, clamped) =
      withCorpus("documents" -> docs) { dir =>
        // this test MEASURES the degeneracy the r17 fence exists to
        // refuse, so lift the fence for the demonstration run only
        // (QueriesSpec pins that the default bound rejects this corpus)
        spark.conf.set("spark.graft.cdc.maxDegenerateFrac", "1.0")
        val u = try SparkEntry.queries("m52_gear_cdc")(spark, dir)
          .agg(org.apache.spark.sql.functions.sum(col("n_chunks")),
            org.apache.spark.sql.functions.sum(col("bytes_total"))).head()
        finally spark.conf.unset("spark.graft.cdc.maxDegenerateFrac")
        val c = SparkEntry.queries("m53_gear_cdc_clamped")(spark, dir)
          .agg(org.apache.spark.sql.functions.sum(col("n_chunks")),
            org.apache.spark.sql.functions.sum(col("bytes_total"))).head()
        ((u.getLong(0), u.getLong(1)), (c.getLong(0), c.getLong(1)))
      }
    assert(unclamped._2 === clamped._2, "both tiers cover every byte")
    val bytes = clamped._2
    assert(unclamped._1 > bytes / 2,
      s"stateless rule must degenerate on the zero run: ${unclamped._1} chunks over $bytes bytes")
    assert(clamped._1 <= bytes / 16 + 2,
      s"clamped tier must stay within the bytes/16 ceiling: ${clamped._1} chunks over $bytes bytes")
    SparkEntry.release(spark)
  }

  test("m51 survives an 18 MiB payload pair: linear kernel, full dedup recovered (quadratic-fold regression)") {
    import spark.implicits._
    // ~1.1M tiles / ~140k chunks per asset: the aggregate() HOF fold
    // this kernel replaced copies the chunk array at every boundary —
    // O(chunks²) ≈ 10^10 slot copies, effectively a hang. The linear
    // kernel must finish AND two identical payloads must share every
    // chunk (dedup_ratio exactly 0.5 for the pair). Content must be
    // APERIODIC — a periodic fill has ≤5 distinct tiles and can miss
    // every boundary — so indexed tokens, ~18 MiB.
    val big = (0 until 1900000).map(i => s"tok$i").mkString(" ")
    val giant = Seq((1L, big, "en", "src0"), (2L, big, "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = withCorpus("documents" -> giant) { dir =>
      SparkEntry.queries("m51_payload_cdc")(spark, dir).collect()
    }
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 2 * r.getLong(2),
      "identical clones: n_chunks must be exactly 2x distinct")
    assert(r.getDouble(3) === 0.5, "pair dedup ratio must be exactly 0.5")
    assert(r.getLong(2) > 1000, "an 18 MiB payload must cut many chunks")
    SparkEntry.release(spark)
  }

  test("m50 band widths: 16-bit quarters and 32-bit quarter pairs agree on the sf0.1 is_dup set") {
    // the scale knob's contract: widening the band keys (65000× fewer
    // random collisions) must not lose a single flagged pair on the
    // real corpus — the is_dup pairs are near-identical payloads with
    // tiny Hamming, which always leave ≥2 clean quarters
    val sf01 = "/root/testdata/sf0.1"
    def dupSet(bits: String): Set[(Long, Long)] = {
      spark.conf.set("spark.graft.phash.bandBits", bits)
      try SparkEntry.queries("m50_phash_neardup")(spark, sf01)
        .filter(col("is_dup")).select(col("ia"), col("ib")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally {
        spark.conf.unset("spark.graft.phash.bandBits")
        SparkEntry.release(spark)
      }
    }
    val d16 = dupSet("16")
    val d32 = dupSet("32")
    assert(d16.nonEmpty, "sf0.1 must contain is_dup pairs")
    assert(d32 === d16,
      s"band widths disagree: 16-bit ${d16.size} pairs, 32-bit ${d32.size}")
  }

  test("m50 auto band policy: 16 below the threshold, 32 above, explicit settings never count") {
    import graft.queries.MultimodalOps.resolveBandBits
    // explicit widths must not evaluate the (possibly expensive) count
    def boom: Long = fail("explicit band width must not trigger a count")
    assert(resolveBandBits("16", boom, 100L) === 16)
    assert(resolveBandBits("32", boom, 100L) === 32)
    assert(resolveBandBits("auto", 100L, 100L) === 16,
      "at the threshold stays 16 (recall-first)")
    assert(resolveBandBits("auto", 101L, 100L) === 32,
      "above the threshold switches to 32 (volume-first)")
    intercept[IllegalArgumentException](resolveBandBits("24", 0L, 100L))
  }

  test("m50 auto band policy end-to-end: default resolves to 16-bit at test scale; a lowered threshold reproduces the 32-bit output") {
    // default conf (auto, threshold 2^18): the sf0.001 corpus is far
    // below the switch point, so the output must be byte-identical to
    // explicit 16-bit — the oracle-matched form at every test SF
    def run(): Set[(Long, Long, Long, Boolean)] =
      try SparkEntry.queries("m50_phash_neardup")(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      finally SparkEntry.release(spark)
    val auto = run()
    spark.conf.set("spark.graft.phash.bandBits", "16")
    val b16 = try run() finally spark.conf.unset("spark.graft.phash.bandBits")
    assert(auto === b16, "auto below the threshold must equal 16-bit")
    // lowering the threshold to 1 flips auto into the 32-bit regime —
    // same rows as explicit 32-bit (Hamming ≤ 2 pairs all survive)
    spark.conf.set("spark.graft.phash.autoThreshold", "1")
    val autoLow = try run()
      finally spark.conf.unset("spark.graft.phash.autoThreshold")
    spark.conf.set("spark.graft.phash.bandBits", "32")
    val b32 = try run() finally spark.conf.unset("spark.graft.phash.bandBits")
    assert(autoLow === b32, "auto above the threshold must equal 32-bit")
  }

  test("m50 phash near-dup: byte-exact fingerprint replay and the banded candidate set covers the output") {
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val alpha = "0123456789abcdef"
    val sigs = docs.flatMap { case (id, txt) =>
      val hx = txt.getBytes("UTF-8").map("%02x".format(_)).mkString
      val ln = hx.length
      if (ln < 64) None else {
        val segs = (0 until 64).map { i =>
          hx.substring(i * ln / 64, (i + 1) * ln / 64)
            .map(c => alpha.indexOf(c).toLong).sum
        }
        val tot = segs.sum
        val bits = segs.map(v => if (v * 64 > tot) 1L else 0L)
        val hi = bits.take(32).zipWithIndex
          .map { case (b, k) => b << (31 - k) }.sum
        val lo = bits.drop(32).zipWithIndex
          .map { case (b, k) => b << (31 - k) }.sum
        Some(id -> ((hi, lo)))
      }
    }
    def bands(h: Long, l: Long): Seq[Long] =
      Seq((h >> 16) & 0xffffL, h & 0xffffL, (l >> 16) & 0xffffL,
        l & 0xffffL)
    val expected = (for {
      (a, (ha, la)) <- sigs
      (b2, (hb, lb)) <- sigs
      if a < b2 && bands(ha, la).zip(bands(hb, lb)).exists(p => p._1 == p._2)
      h = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
    } yield (a, b2, h.toLong, h <= 8)).toSet
    val got = SparkEntry.queries("m50_phash_neardup")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got === expected)
    assert(got.nonEmpty, "band candidates must exist on this corpus")
    got.foreach { case (_, _, h, flag) => assert(flag === (h <= 8)) }
    SparkEntry.release(spark)
  }
}
