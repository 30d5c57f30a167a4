package graft

import org.apache.spark.sql.SparkSession

/** Per-round wall-clock benchmark. Each registered query runs against
  * SPARK_GRAFT_SF_DIR and is forced through the `noop` sink — unlike
  * count(), noop materializes every output column, so projection work
  * can't be optimized away under the timer. Prints ONE final JSON line
  * (plus periodic "partial" checkpoint lines — see below). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The generated-class cache (static conf) defaults to 100
      // entries; the 290+-query registry compiles ~1500 codegen
      // stages, so under PASS-WISE rep ordering every entry is
      // evicted between a query's reps and every rep re-pays Janino
      // compilation — measured as a uniform ~+40% total (+0.1-0.4 s
      // per query, worst on sub-second queries). Size the cache to
      // hold the whole registry so reps measure execution, as the
      // warm-up pass intends.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    // ERROR, not WARN (r20): the driver's bench gate snapshots only a
    // ~2 KB stdout+stderr TAIL. Both r18 and r19 timed out (rc 124)
    // with that tail full of benign WindowExec / localCheckpoint WARN
    // lines — so even the partial results this program now prints
    // would have been evicted by log spam. At ERROR the tail carries
    // only this program's own output, and the newest "partial" line
    // always survives whole.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm-up pass: run every query once against the smallest corpus.
    // Generated whole-stage code depends on the plan, not the data dir,
    // so this JIT/codegen-compiles every registry query path for pennies —
    // the timed pass below then measures execution, not Janino/C2
    // compilation (first-run was measured 2-4× slower than steady
    // state).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // optional comma-separated allowlist for targeted re-measurement of
    // a few queries (perf triage) without paying the full registry —
    // resolved BEFORE the warm-up (r20) so an allowlisted run warms
    // only what it times instead of all 307 registry paths
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ns) => SparkEntry.queries.filter(q => ns(q._1))
      case None => SparkEntry.queries
    }
    // The warm-up runs CONCURRENTLY (r19): its results are discarded,
    // per-query failures are swallowed, and each sf0.001 job is tiny —
    // so ~300 serial query submissions were pure fixed wall (measured
    // ~8 min of the driver's bench budget, the binding constraint that
    // returned rc 124 at r18). A small pool overlaps the driver-side
    // plan/codegen work of one query with the executor-side jobs of
    // others. Shared state is build-race-safe: the tier memo keeps the
    // first published build and records a superseded one for the
    // session's release, so in-flight readers finish (BuiltIndexMemo),
    // the session's records are thread-safe (Blocks), and Spark's
    // CacheManager caches a persisted plan once however many queries
    // build it. Timed passes below are untouched — they stay strictly
    // sequential.
    val warmT0 = System.nanoTime()
    val warmPool = java.util.concurrent.Executors.newFixedThreadPool(8)
    selected.keysIterator.foreach { name =>
      warmPool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(name)(spark, warmDir)
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => }
      })
    }
    warmPool.shutdown()
    val warmDone = warmPool.awaitTermination(
      60, java.util.concurrent.TimeUnit.MINUTES)
    if (!warmDone) {
      // ADVICE r19: on timeout the timed pass must not start while
      // warm jobs still run — that is exactly the cross-query
      // contamination the blocking release() exists to prevent. Drop
      // the queued work, kill in-flight Spark jobs, and say so.
      warmPool.shutdownNow()
      spark.sparkContext.cancelAllJobs()
      System.err.println("[bench] warm-up TIMED OUT after 60 min; " +
        "cancelled queued + in-flight warm jobs before the timed pass")
    }
    System.err.println(
      f"[bench] warm-up pass took ${(System.nanoTime() - warmT0) / 1e9}%.1f s")
    // full teardown before the first timed window: release() is now
    // BLOCKING and charged to the query that runs it, and the first
    // timed query must not pay for the warm-up pass's leftovers (nor
    // serve over warm-dir graph indexes — those get evicted on the
    // first sf-dir memo access anyway, but drop them deterministically)
    SparkEntry.releaseIndexes(spark)
    // MIN estimator (r16), ADAPTIVE reps (r20). Single-shot wall clock
    // on a shared host swings up to 9× on VM/GC noise (r2 postmortem),
    // and r15 proved the median is NOT enough — a multi-minute
    // contention burst can poison 2 of 3 pass-wise reps AND the heal
    // rep, publishing a 1.53× phantom regression (d42 median 42.2 s vs
    // min rep 2.61 s ≈ its true cost). The work a query does is
    // deterministic; everything above the minimum is host
    // interference, so the min is the least-contended — and most
    // reproducible — estimator. ADAPTIVE (r20, VERDICT r19 item 1b):
    // at 307 rows, min-of-3 spent ~45% of the timed wall
    // corroborating 182 sub-second rows (88 s/pass each extra pass)
    // that together move the 321 s headline by a few percent — and
    // that spend is what kept blowing the driver's wall budget
    // (rc 124 twice). Rows whose first rep lands under
    // SPARK_GRAFT_BENCH_FAST_CUTOFF (default 1 s) keep that single
    // sample; rows at/above it keep the full min-of-REPS treatment.
    // Two backstops keep single-sample floors honest: (a) a
    // single-rep row >2× its previous-round value (normalized by the
    // run-wide median host shift) takes the same heal budget as an
    // uncorroborated min; (b) the final line reports
    // "n_single_rep" + the full list so bench_diff can see which
    // rows carry one sample. Persisted handles are released between
    // reps (SparkEntry.release), so every rep pays the query's full
    // cost — rep 2 never gets rep 1's cache for free. ONE documented
    // exception (r19): the built-index tiers survive release by
    // contract (build-once/serve-many — BuiltIndexMemo). Each tier's
    // build row (s72 for the graph, d28 for the shingles, ...)
    // rebuilds unconditionally, so its row always measures the build;
    // the other rows measure serving over the built index — exactly
    // the split a 100 TB deployment has. releaseIndexes() below tears the pins
    // down before the leak accounting.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val fastCutoff =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FAST_CUTOFF", "1.0").toDouble
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      // label every job this query runs (guide §1.5) so event-log /
      // UI triage can attribute time to registry rows; thread-local,
      // cleared before release so cleanup jobs read as "release: <q>"
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      spark.sparkContext.setJobDescription(s"release: $name")
      SparkEntry.release(spark)
      spark.sparkContext.setJobDescription(null)
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    // Previous-round history, loaded UP FRONT (r20): it now feeds both
    // the single-rep anomaly backstop during the passes and the final
    // cross-round ratio profile. The history files are this program's
    // own output: "queries" maps name→number only, so the first '}'
    // after the key closes it — but guard both indexOf results anyway
    // (ADVICE r18: a missing key made substring throw and the whole
    // compare silently degrade).
    val (prevName, prevMap): (Option[String], Map[String, Double]) = try {
      val dir = new java.io.File("tools/bench_history")
      val hist = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("r\\d+\\.json"))
        .sortBy(_.getName.stripPrefix("r").stripSuffix(".json").toInt)
      hist.lastOption match {
        case None => (None, Map.empty[String, Double])
        case Some(f) =>
          val txt = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          val keyAt = txt.indexOf("\"queries\":{")
          val bodyEnd = if (keyAt < 0) -1 else txt.indexOf('}', keyAt)
          if (keyAt < 0 || bodyEnd < 0) {
            System.err.println(
              s"[bench] no parseable queries map in ${f.getName}")
            (Some(f.getName), Map.empty[String, Double])
          } else {
            val body = txt.substring(keyAt + "\"queries\":{".length, bodyEnd)
            val prev = "\"([A-Za-z0-9_]+)\":([0-9.eE+\\-]+)".r
              .findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
            (Some(f.getName), prev)
          }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] prev-round history load failed: ${e.getMessage}")
      (None, Map.empty[String, Double])
    }
    // INTERLEAVED PASSES (r14): the reps run pass-wise — every query's
    // rep 1, then every query's rep 2, then rep 3 — instead of all reps
    // of one query back-to-back. r13's 8 noisy driver rows clustered in
    // ALPHABETICAL RUN ORDER (m36/m37, q96/q97/q98, q113/q114/q122,
    // s37/s40, s54/s62): the signature of a multi-minute host-contention
    // burst poisoning ALL back-to-back reps of consecutive queries, so
    // even the median (and the heal rep, taken inside the same window)
    // landed high. Pass-wise ordering separates a query's reps by a full
    // registry sweep (~minutes), so one burst costs each query at most
    // ONE rep — which the estimator then discards.
    val names = selected.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    def writeFileAtomic(path: String, content: String): Unit =
      try {
        val p = java.nio.file.Paths.get(path)
        val tmp = java.nio.file.Paths.get(path + ".tmp")
        java.nio.file.Files.writeString(tmp, content + "\n")
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    // PARTIAL CHECKPOINT EMISSION (r20, VERDICT r19 item 1a): r18 and
    // r19 both ended rc 124 with parsed:null because everything printed
    // AFTER the last rep. Now, every 25 completed timed queries and at
    // every pass boundary, (1) the FULL current-state line lands at
    // BENCH_LAST.json via atomic rename — a wall-clock kill at ANY
    // moment leaves a complete parseable file on disk — and (2) a
    // compact {"metric":"partial",...} line prints to stdout, sized to
    // fit whole in the driver's ~2 KB tail. A timeout now degrades to
    // "newest partial with every row measured so far", never to no
    // data. The final line remains metric:"total".
    def emitPartial(phase: String): Unit = {
      val st = samples.toSeq.filter(_._2.nonEmpty)
        .map { case (k, v) => (k, v.min, v.size) }.sortBy(_._1)
      val total = st.map(_._2).sum
      val slowest = st.sortBy(-_._2).take(10)
        .map { case (k, t, _) => "\"" + k + "\":" + t }
        .mkString("{", ",", "}")
      val fullQs = st.map { case (k, t, _) => "\"" + k + "\":" + t }
        .mkString("{", ",", "}")
      val repsMap = st.map { case (k, _, n) => "\"" + k + "\":" + n }
        .mkString("{", ",", "}")
      val line = s"""{"metric":"partial","phase":"$phase","value":$total,"unit":"sec","estimator":"min_adaptive","fast_cutoff":$fastCutoff,"n_measured":${st.size},"n_registered":${names.size},"queries":$fullQs,"reps_taken":$repsMap,"sf":"$sfDir"}"""
      val compactLine = s"""{"metric":"partial","phase":"$phase","value":$total,"unit":"sec","estimator":"min_adaptive","n_measured":${st.size},"n_registered":${names.size},"queries":$slowest,"queries_note":"10 slowest of ${st.size} measured; full map in BENCH_LAST.json","sf":"$sfDir"}"""
      if (only.isEmpty) writeFileAtomic(outPath, line)
      println(compactLine)
    }
    for (rep <- 1 to reps) {
      // ADAPTIVE filter: pass 1 measures everything; later passes
      // revisit only rows at/above the cutoff (the ~125 rows carrying
      // ~72% of the headline) plus rows with no sample yet (a pass-1
      // failure still gets its retries).
      val passNames =
        if (rep == 1) names
        else names.filter { case (n, _) =>
          samples.get(n).forall(_.isEmpty) ||
            samples(n).min >= fastCutoff
        }
      var done = 0
      for ((name, fn) <- passNames) {
        timeOnce(name, fn).foreach { t =>
          samples(name) = samples.getOrElse(name, Vector.empty) :+ t
        }
        done += 1
        if (done % 25 == 0) emitPartial(s"pass$rep:$done/${passNames.size}")
      }
      emitPartial(s"pass$rep:done")
    }
    // SELF-HEAL backstop (r16: corroborate the MIN, not the median;
    // r17: the gate is corroboration itself, not spread): under the
    // min estimator the headline is wrong only when EVERY rep of a
    // query was contended, and a published minimum should always be a
    // CORROBORATED floor — a second sample within 1.5× of it. Any
    // multi-rep query whose minimum lacks that neighbor (whether the
    // spread is 1.6× or 40×) takes up to TWO extra measurements,
    // stopping as soon as a fresh rep lands within 1.5× of the running
    // min. r15's failure mode (one heal rep taken INSIDE the same
    // contention window, then recorded as official) can't recur: a
    // contended heal rep simply fails to corroborate and triggers the
    // next attempt, and the estimator keeps whatever minimum exists.
    // SINGLE-REP rows (r20) are deliberately uncorroborated — sub-
    // second, ~28% of the headline in aggregate — but get the same
    // heal budget when their one sample reads >2× the previous round
    // (after dividing out the run-wide median host shift), so a
    // contended single sample cannot silently publish a phantom
    // regression. Queries still uncorroborated after the heal budget
    // are listed in the output ("uncorroborated") so bench_diff can
    // flag single-sample floors instead of trusting them silently.
    val shiftMed: Option[Double] = {
      val rs = samples.toSeq.flatMap { case (k, v) =>
        if (v.isEmpty) None
        else prevMap.get(k).filter(_ > 0).map(p => v.min / p)
      }.sorted
      if (rs.isEmpty) None else Some(rs(rs.size / 2))
    }
    def anomalousSingle(name: String, v: Vector[Double]): Boolean =
      v.size == 1 && prevMap.get(name).exists(p => p > 0 &&
        shiftMed.exists(m => m > 0 && v.head / p / m > 2.0))
    var healed = List.empty[String]
    def corroborated(v: Vector[Double]): Boolean = {
      val s = v.sorted
      s.size >= 2 && s(0) > 0 && s(1) / s(0) <= 1.5
    }
    val results = names.map { case (name, fn) =>
      val times = samples.getOrElse(name, Vector.empty)
      var all = times
      val needsHeal =
        (times.size >= 2 && times.min > 0 && !corroborated(times)) ||
          anomalousSingle(name, times)
      if (needsHeal) {
        healed ::= name
        var attempts = 0
        while (attempts < 2 && !corroborated(all)) {
          timeOnce(name, fn).foreach(t => all = all :+ t)
          attempts += 1
        }
      }
      (name, times.sorted, all.sorted)
    }
    // a deliberate single-sample row is not "uncorroborated" — it
    // never had a second rep to corroborate with; the flag means a
    // MULTI-rep row whose floor still has no 1.5× neighbor
    val uncorroborated = results.collect {
      case (name, _, all) if all.size >= 2 && !corroborated(all) => name
    }.sorted
    val singleRep = results.collect {
      case (name, _, all) if all.size == 1 => name
    }.sorted
    // A query whose every rep failed must NOT appear as a 0.0 median:
    // r9 shipped 25 broken queries as 0.0 rows, which deflated the
    // headline total and — because bench_diff.py skips base rows at 0 —
    // would have permanently exempted them from regression flagging had
    // the snapshot been promoted to bench_history. Failed queries are
    // OMITTED from the medians/spread maps and listed in an explicit
    // "failed" array instead (placed at the END of the line so the
    // driver's 2 KB stdout tail always preserves it).
    val (ok, failed) = results.partition(_._3.nonEmpty)
    // stats tuple: (name, est=min, min, max, median) — "queries" now
    // carries the MIN (the headline estimator); the median ships in a
    // parallel "queries_median" map so bimodality stays inspectable.
    val stats = ok.map { case (name, raw, sorted) =>
      (name, sorted.head, sorted.head, sorted.last,
        sorted(sorted.size / 2), raw.headOption.getOrElse(sorted.head))
    }
    val qs = stats.map { case (k, est, _, _, _, _) => "\"" + k + "\":" + est }
      .mkString("{", ",", "}")
    val spread = stats.map { case (k, _, mn, mx, _, _) =>
      "\"" + k + "\":[" + mn + "," + mx + "]"
    }.mkString("{", ",", "}")
    val qsMedian = stats.map { case (k, _, _, _, med, _) =>
      "\"" + k + "\":" + med
    }.mkString("{", ",", "}")
    // pre-heal minima for the healed rows only (raw == healed elsewhere)
    val healedSet = healed.toSet
    val qsRaw = stats.filter(s => healedSet(s._1))
      .map { case (k, _, _, _, _, rawMin) => "\"" + k + "\":" + rawMin }
      .mkString("{", ",", "}")
    val failedArr = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val healedArr = healed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val uncorrArr = uncorroborated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val singleArr = singleRep.map("\"" + _ + "\"").mkString("[", ",", "]")
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED all reps: " +
        failed.map(_._1).mkString(", "))
    if (healed.nonEmpty)
      System.err.println(s"[bench] ${healed.size} queries re-measured to corroborate the min: " +
        healed.sorted.mkString(", "))
    if (uncorroborated.nonEmpty)
      System.err.println(s"[bench] ${uncorroborated.size} minima STILL uncorroborated after heal budget: " +
        uncorroborated.mkString(", "))
    val total = stats.map(_._2).sum
    // Cross-round context embedded IN the artifact (VERDICT r17 item
    // 2): the driver records only this process's stdout, and its host
    // carries a round-varying uniform load factor — r17's driver line
    // read +9.8% vs r16 while five same-code builder runs spanned the
    // same envelope. Rather than leave that diagnosis to a side run of
    // tools/bench_diff.py, the line itself now carries the per-query
    // ratio profile against the newest committed bench_history
    // snapshot: a HOST shift moves the median ratio with a tight
    // spread; a real regression puts individual rows far above an
    // unmoved median. Flags: "rows_over_2x" (named rows — go look),
    // "uniform_host_shift" (median outside ±10%, no >2× row), "ok".
    val prevCmp: String = (prevName, prevMap) match {
      case (None, _) => """"prev":null"""
      case (Some(nm), prev) if prev.isEmpty =>
        s""""prev":"$nm","median_ratio_vs_prev":null"""
      case (Some(nm), prev) =>
        val ratios = stats.flatMap { case (k, est, _, _, _, _) =>
          prev.get(k).filter(_ > 0).map(p => k -> est / p)
        }
        if (ratios.isEmpty)
          s""""prev":"$nm","median_ratio_vs_prev":null"""
        else {
          val rs = ratios.map(_._2).sorted
          val med = rs(rs.size / 2)
          val p90 = rs((rs.size * 9 / 10).min(rs.size - 1))
          // MEDIAN-NORMALIZED row flagging (ADVICE r18): an absolute
          // 2× threshold let a uniform host shift (r18: median 1.132)
          // push borderline rows over the bar and then MASK the
          // shifted-median diagnosis this compare exists for. A row
          // is a regression candidate only if it moved >2× relative
          // to the run-wide shift (ratio/median); the host-shift flag
          // reports alongside instead of being suppressed.
          val over = ratios.filter(_._2 / med > 2.0).sortBy(-_._2).take(10)
          val shifted = med > 1.1 || med < 0.9
          val flag = (over.nonEmpty, shifted) match {
            case (true, true)   => "rows_over_2x+uniform_host_shift"
            case (true, false)  => "rows_over_2x"
            case (false, true)  => "uniform_host_shift"
            case (false, false) => "ok"
          }
          val overArr = over.map { case (k, r) =>
            "\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
          s""""prev":"$nm","n_shared":${ratios.size},"median_ratio_vs_prev":${f"$med%.3f"},"p90_ratio_vs_prev":${f"$p90%.3f"},"ratio_flag":"$flag","rows_over_2x":$overArr"""
        }
    }
    // lifecycle evidence: after the full teardown (release + the
    // deliberately-pinned graph indexes), nothing this library
    // persisted may outlive the run (0 expected)
    SparkEntry.releaseIndexes(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.size
    val line = s"""{"metric":"total","value":$total,"unit":"sec","estimator":"min_adaptive","fast_cutoff":$fastCutoff,"queries":$qs,"queries_median":$qsMedian,"queries_raw":$qsRaw,"reps":$reps,"spread":$spread,"leaked_rdds":$leaked,"sf":"$sfDir","n_ok":${stats.size},"n_failed":${failed.size},"n_single_rep":${singleRep.size},$prevCmp,"failed":$failedArr,"healed":$healedArr,"uncorroborated":$uncorrArr,"single_rep":$singleArr}"""
    println(line)
    // The driver snapshots only a ~2 KB stdout TAIL, which truncates
    // the ~15 KB full line above mid-map (r11: BENCH_r11.json shipped
    // parsed:null) — so ALSO print a compact line LAST that always
    // fits whole in the tail: headline total + the 10 slowest queries
    // (the ones perf review actually reads) + failures. The full
    // per-query map survives via BENCH_LAST.json, committed in-repo.
    val slowest = stats.sortBy(-_._2).take(10)
      .map { case (k, est, _, _, _, _) => "\"" + k + "\":" + est }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","estimator":"min_adaptive","fast_cutoff":$fastCutoff,"queries":$slowest,"queries_note":"10 slowest of ${stats.size}; full map in BENCH_LAST.json","reps":$reps,"leaked_rdds":$leaked,"sf":"$sfDir","n_ok":${stats.size},"n_failed":${failed.size},"n_single_rep":${singleRep.size},$prevCmp,"failed":$failedArr,"healed":$healedArr,"uncorroborated":$uncorrArr}"""
    println(compact)
    // durability: the driver's BENCH_r0x.json keeps only a 2 KB stdout
    // tail, which truncates the per-query map — also land the full line
    // in-repo so every round's numbers survive for cross-round diffs,
    // PLUS the compact summary at a stable path the driver (or anyone)
    // can snapshot whole without parsing a truncated tail
    // an allowlisted (partial) run must never clobber the full-registry
    // record — the stdout line is the deliverable for targeted triage
    if (only.isEmpty) {
      writeFileAtomic(outPath, line)
      writeFileAtomic(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json"),
        compact)
    }
    spark.stop()
  }
}
