package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query families live in `graft.queries.*`; this object is the single
  * registry the driver's Verify/Bench mains consume. Every query takes
  * (spark, sfDir) and returns a DataFrame whose column names match the
  * paired DuckDB oracle exactly (the driver sorts columns by name before
  * hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * LIFECYCLE: some queries persist shared stages (shingle sets, ANN
    * cell assignments) at documented reuse points through
    * [[graft.Blocks.persist]], which records each under the session;
    * an iterative operator's result also records the checkpoints it
    * reads. Spark's CacheManager serves a repeat build of the same
    * persisted plan from the first one's cache. Every record lives until
    * the session's [[release]]. A long-lived session embedding this
    * registry should call [[release]] when it is done with a query's
    * result — Bench/Verify do so between queries.
    *
    * EAGERNESS: every entry is a lazy plan. d61_shingle_size_sweep's
    * 3-arm sweep sits behind a DeferredRowsPlan leaf (r17) — plan-only
    * callers (explain/schema/warm-up) run no jobs; the first action
    * fires the sweep on the driver and memoizes its 3 rows. Two
    * documented exceptions run jobs at plan-construction time:
    * (1) the NN-descent graph queries (s72/s73/s74) — their iterative
    * fixed point localCheckpoints per superstep, which CANNOT be lazy
    * (an un-truncated 6-round plan grows ~6^iters subtrees); more
    * generally, every built-index tier ([[graft.queries.BuiltIndexMemo]]
    * — the graph, dedup, text, asset and eval tiers) localCheckpoints
    * its table on a memo miss or on its build row's rebuild, and
    * serves it thereafter until [[releaseIndexes]]; (2) the BOUNDED
    * fence probes: q83/s34 count
    * their input against `spark.graft.exact.maxRows`, m52 samples 64
    * payloads against `spark.graft.cdc.maxDegenerateFrac`, and
    * d66 folds the benchmark's ≤2²¹ distinct bloom bit positions into
    * its bitmap literal (the s40 trained-quantizer posture). The
    * fences are eager BY DESIGN, not oversight: under AQE, stages
    * materialize bottom-up before any root-level lazy gate could fire,
    * so a deferred fence would refuse only after the quadratic join /
    * chunk explosion it exists to prevent had already run. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Analytic.queries ++
      graft.queries.TextOps.queries ++
      graft.queries.DedupOps.queries ++
      graft.queries.MultimodalOps.queries ++
      graft.queries.SimilarityOps.queries ++
      graft.queries.Extended.queries ++
      graft.queries.SamplingOps.queries ++
      graft.queries.TypedOps.queries

  /** Drop every block session `spark` recorded ([[graft.Blocks]]): its
    * lazy reuse persists, the checkpoints its iterative operators handed
    * back with their results, and its superseded, evicted or cleared
    * tier generations. Nothing else: a published tier of
    * [[graft.queries.BuiltIndexMemo]] is never a record, another
    * session's records are that session's to drop, and a Dataset the
    * caller persisted itself stays cached. A library query cannot know
    * when its caller is done with the result, so the lifecycle hook
    * lives here: Bench/Verify call it between queries, and a long-lived
    * session embedding the registry should do the same. Safe between
    * queries only — a dropped checkpoint cannot be recomputed.
    *
    * BLOCKING (VERDICT r18 item 2): r18's non-blocking release let the
    * graph builders' hundreds of MB of checkpointed blocks drain
    * asynchronously INTO the next queries' timed windows — under
    * pass-wise bench ordering the t-family runs right after the
    * s-family every pass, so min-of-3 could never filter the recurring
    * contamination (t66/t67 read 3.0–3.5× with an untouched execution
    * path). A blocking unpersist charges each query's cleanup to that
    * query: Bench's and perfbench's timed passes need that barrier.
    * [[releaseIndexes]] is the full teardown of this session's tiers. */
  def release(spark: SparkSession): Unit = graft.Blocks.releaseSession(spark)

  /** Full teardown: this session's built-index tiers, which the
    * per-query release never reaches (the build-once/serve-many
    * contract), go to its records, and [[release]] drops them. Call
    * when done with the session's serving — Bench does before its leak
    * accounting. */
  def releaseIndexes(spark: SparkSession): Unit = {
    graft.queries.BuiltIndexMemo.clear(spark)
    release(spark)
  }

  /** Queries deliberately shipped WITHOUT a DuckDB oracle, each for a
    * documented reason (randomized hashing the oracle can't replay).
    * `QueriesSpec` asserts the registry equals `oracleSql.keySet ++
    * rowsOnly`, and Verify warns at runtime on any query in neither —
    * so an oracle-less query is visible in the driver log even on
    * rounds where the scalatests never run.
    *  - d29_simhash: engine-native xxhash64 simhash (seed-dependent);
    *    quality contract lives in DedupOpsSpec.
    *  - d30_minhash_lsh: MLlib MinHashLSH's private hash coefficients;
    *    recall floor asserted in DedupOpsSpec (portable twin: d36).
    *  - q45_approx_distinct: HLL sketch estimate; 5%-of-exact contract
    *    in ExtendedSpec (exact twin: q08).
    *  - t57_quality_classifier: MLlib LBFGS training — treeAggregate FP
    *    reduction order makes low-margin predictions run-varying;
    *    held-out agreement floor asserted in CurationSpec (portable
    *    twin: t65_linear_probe, frozen weights, hash-exact). */
  val rowsOnly: Set[String] =
    Set("d29_simhash", "d30_minhash_lsh", "q45_approx_distinct",
      "t57_quality_classifier")

  /** Queries whose candidate stage is deliberately super-linear
    * (within-block or all-pairs quadratic exactness baselines). POLICY:
    * every member MUST refuse oversized inputs up front via the
    * `spark.graft.exact.maxRows` guard, and every registry query with a
    * quadratic candidate stage MUST be listed here. `QueriesSpec`
    * enforces both directions mechanically: each member throws under
    * maxRows=1, and the number of guard call sites in the query sources
    * equals this set's size — so a future quadratic operator cannot
    * land unfenced, and a guard cannot be dropped silently. */
  val fenced: Set[String] =
    Set("q83_fuzzy_match", "s34_embedding_neardup")

  /** Queries whose OUTPUT VOLUME (not candidate count) degenerates on
    * adversarial input shapes — the row-count fence above can't see
    * them because the input is small and the blowup is per-byte.
    * POLICY: every member MUST probe a bounded input sample up front
    * and refuse (naming its production-tier replacement) when the
    * sampled degenerate fraction exceeds
    * `spark.graft.cdc.maxDegenerateFrac`; `QueriesSpec` enforces both
    * directions mechanically, exactly like [[fenced]]: each member
    * throws under maxDegenerateFrac=-1, and the guard call-site count
    * in the query sources equals this set's size.
    *  - m52_gear_cdc: the stateless gear rule emits 1-byte chunks for
    *    every zero byte past an 8-byte zero run (~64× designed row
    *    volume, one md5 per byte — StressBench pins 16.78 M chunks on
    *    16.8 MB of zeros); m53_gear_cdc_clamped is the fenced route. */
  val degeneracyFenced: Set[String] = Set("m52_gear_cdc")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Analytic.oracle ++
      graft.queries.TextOps.oracle ++
      graft.queries.DedupOps.oracle ++
      graft.queries.MultimodalOps.oracle ++
      graft.queries.SimilarityOps.oracle ++
      graft.queries.Extended.oracle ++
      graft.queries.SamplingOps.oracle ++
      graft.queries.TypedOps.oracle
}
