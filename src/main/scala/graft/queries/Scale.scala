package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.governance.Orchestrator
import graft.ingest.Ingest
import Q.QueryFn

/** Scale-technique operators: the shuffle-shaping patterns a 100 TB
  * deployment leans on, each demonstrated end-to-end with an oracle proving
  * the technique does not change results.
  */
object Scale {

  /** Salted two-phase aggregation for skewed keys: phase 1 aggregates on
    * (key, salt) — spreading one hot key over 16 reducers — phase 2 merges
    * the partials. Decimal partials are associative, so the oracle is the
    * plain GROUP BY: salting must be invisible in the result.
    */
  def saltedAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val salted = li
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("part_sum"),
        count(lit(1)).as("part_cnt"))
    salted.groupBy(col("l_returnflag"))
      .agg(
        sum(col("part_sum")).cast("double").as("total"),
        sum(col("part_cnt")).as("cnt"))
  }

  val saltedAggOracle: String =
    """SELECT l_returnflag,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       COUNT(*) AS cnt
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Bucketed co-located join: both sides written with `bucketBy` on the
    * join key, so the sort-merge join needs NO Exchange — at 100 TB this is
    * the difference between a full reshuffle per join and none. The oracle
    * is the plain join: bucketing must not change results.
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    s.sql("DROP TABLE IF EXISTS graft_orders_b")
    s.sql("DROP TABLE IF EXISTS graft_customer_b")
    // a previous session may have left the managed-table locations behind
    // (the in-memory catalog forgets them; the directories persist)
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("graft_orders_b", "graft_customer_b")
      .foreach(t => fs.delete(new org.apache.hadoop.fs.Path(wh, t), true))
    Tables.orders(s, d).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("graft_orders_b")
    Tables.customer(s, d).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("graft_customer_b")
    val j = s.table("graft_orders_b")
      .join(s.table("graft_customer_b"), col("o_custkey") === col("c_custkey"))
    j.groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("orders"), Q.moneySum(col("o_totalprice")).as("total"))
  }

  val bucketedJoinOracle: String =
    """SELECT c_nationkey AS nation, COUNT(*) AS orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** Sketch ALGEBRA gate: the raw HLL/percentile estimates are
    * engine-specific (DuckDB cannot recompute them), but the properties
    * that make sketches correct ON A CLUSTER are exact and SQL-checkable
    * as booleans, the same move `x_sketch_bounds` makes for the accuracy
    * envelopes:
    *
    *  - '''partition invariance''': `approx_count_distinct` over 1
    *    partition equals the same aggregate over the hash-partitioned
    *    layout. HLL++ partial buffers merge by register-max, so the
    *    estimate must be independent of data layout — this is precisely the
    *    map-side-combine correctness a 1000-executor aggregation relies on.
    *    (Registers are also duplicate-idempotent, so both variants run over
    *    the deduplicated key set — bit-identical estimates, minimal I/O.)
    *  - '''union-merge accuracy''': per-group DataSketches HLL sketches
    *    unioned via `hll_union_agg` estimate the global distinct count
    *    within the sketch envelope (union switches the estimator from HIP
    *    to composite, so union-vs-direct equality is NOT guaranteed — the
    *    exact-anchored envelope is the honest contract).
    *  - '''quantile rank contract''': `percentile_approx(accuracy=10000)`
    *    must return an actual member of the group whose rank sits inside
    *    the documented ±n/accuracy rank window around p·n (±1 row slack for
    *    boundary rounding) — checked by exact conditional counts.
    *
    * Exact anchors (`exact_buyers`, `n`) ride along so the oracle is not
    * just a row of TRUEs.
    */
  def approxSketches(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    // HLL registers are a function of the DISTINCT value set only (register
    // = max over hashed values; duplicates are idempotent), so both layout
    // variants are computed over the deduplicated key set — bit-identical
    // estimates to running them over the full table, at a fraction of the
    // scan+shuffle cost. The map-side partial distinct shrinks the exchange
    // to ~|keys| rows, and the exact anchor rides the same tiny table.
    // default rsd (0.05): the invariance check compares the two layouts'
    // estimates for EQUALITY, which holds at any precision — while rsd 0.01
    // inflates the HLL++ aggregation buffer to ~2,700 long attributes and
    // the per-plan codegen compile to seconds (the ±5% accuracy envelope
    // that genuinely needs rsd 0.01 lives in `x_sketch_bounds`, one plan)
    val (acdMulti, exactGlobal, acd1) =
      graft.GraftSession.withPersisted(o.select(col("o_custkey")).distinct()) { keys =>
        // multi-partition estimate over the post-shuffle hash layout, plus
        // the exact global anchor, in one pass over the key set
        val gm = keys
          .agg(approx_count_distinct(col("o_custkey")),
            count(lit(1))).head
        // single-partition estimate: coalesce (not repartition) — one task,
        // one HLL buffer, no exchange. Layout differs from the
        // hash-partitioned pass above, which is exactly the invariance
        // being asserted.
        (gm.getLong(0), gm.getLong(1), keys.coalesce(1)
          .agg(approx_count_distinct(col("o_custkey"))).head.getLong(0))
      }
    // the sketch union stays a SEPARATE pass: fusing hll_sketch_agg into
    // the groups aggregate below looks like one job saved, but countDistinct
    // triggers the two-phase distinct Expand rewrite and dragging a
    // typed-imperative sketch through the expanded rows was measured ~7×
    // slower than the two plain passes combined
    val unionEst = o.groupBy(col("o_orderstatus"))
      .agg(hll_sketch_agg(col("o_custkey")).as("skb"))
      .agg(hll_sketch_estimate(hll_union_agg(col("skb")))).head.getLong(0)
    val groups = o.groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("exact_buyers"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("p50"),
        count(lit(1)).as("n"))
    val ranks = o
      .join(broadcast(groups.select(col("o_orderstatus").as("st"), col("p50"))),
        col("o_orderstatus") === col("st"))
      .groupBy(col("st"))
      .agg(
        sum(when(col("o_totalprice") <= col("p50"), 1).otherwise(0)).as("cnt_le"),
        sum(when(col("o_totalprice") < col("p50"), 1).otherwise(0)).as("cnt_lt"),
        max(when(col("o_totalprice") === col("p50"), 1).otherwise(0)).as("is_member"))
    groups.join(ranks, col("o_orderstatus") === col("st"))
      .select(
        col("o_orderstatus"), col("exact_buyers"), col("n"),
        (col("is_member") === 1).as("p50_is_member"),
        (col("cnt_le") >= floor(col("n") * 0.5) - floor(col("n") / 10000) - 1 &&
          col("cnt_lt") <= ceil(col("n") * 0.5) + floor(col("n") / 10000) + 1)
          .as("p50_rank_ok"),
        lit(acd1 == acdMulti).as("acd_partition_invariant"),
        (lit(math.abs(unionEst - exactGlobal))
          <= lit(exactGlobal * 0.05)).as("hll_union_within_5pct"))
  }

  val approxSketchesOracle: String =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_buyers,
      |       COUNT(*) AS n,
      |       TRUE AS p50_is_member, TRUE AS p50_rank_ok,
      |       TRUE AS acd_partition_invariant, TRUE AS hll_union_within_5pct
      |FROM orders GROUP BY 1""".stripMargin

  /** The exact half of the sketch gate, split out so it is hash-verified
    * against the oracle (the estimates above stay rows-only by nature —
    * HLL/quantile estimates are engine-specific; their accuracy contract
    * vs these exact values is asserted in ScaleSpec).
    */
  def sketchExact(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("exact_buyers"),
        count(lit(1)).as("orders"))

  val sketchExactOracle: String =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_buyers,
      |       COUNT(*) AS orders
      |FROM orders GROUP BY 1""".stripMargin

  /** Bloom-filter pre-join pruning: when the dimension side is too big to
    * broadcast but its KEY SET fits a bloom filter, build the bloom on the
    * dim keys and filter the fact BEFORE its shuffle — at 100 TB this is
    * the difference between shuffling the whole fact table and shuffling
    * only rows that can possibly join (Spark's own runtime row-level
    * filtering does this automatically between exchanges; the explicit form
    * works on any plan shape). False positives pass the bloom but are
    * eliminated by the real join, so the result provably equals the plain
    * join — which is exactly what the oracle checks.
    */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    // persist: the bloom build is an eager action and the join re-reads the
    // same dim — one scan, not two. count() materializes the cache AND
    // sizes the filter, so capacity tracks the scale factor instead of a
    // hard-coded guess that would saturate (fpp → 1, no pruning) at scale.
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .persist()
    val expected = math.max(cust.count(), 1000L)
    val bloom = cust.stat.bloomFilter("c_custkey", expected, 0.01)
    // native BloomFilterMightContain probe (not a Scala UDF): keeps the
    // pre-shuffle fact filter inside whole-stage codegen
    Tables.orders(s, d)
      .filter(org.apache.spark.sql.graft.VectorFunctions
        .bloomMightContain(bloom, col("o_custkey"))) // prune before the shuffle
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("orders"), Q.moneySum(col("o_totalprice")).as("total"))
  }

  val bloomJoinOracle: String =
    """SELECT c_nationkey AS nation, COUNT(*) AS orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY 1""".stripMargin

  /** The sketch ACCURACY contract as an oracle gate: per group, booleans
    * asserting the estimates sit inside their documented envelopes (±5% of
    * exact for the distinct-count sketches; between observed min/max for
    * the percentiles). The estimates themselves stay engine-specific
    * (rows-only in `x_approx_sketches`); their being-in-bounds is exact and
    * SQL-expressible.
    */
  def sketchBounds(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        // rsd 0.01 makes the ±5% envelope a 5-sigma bound (the default 0.05
        // sketch exceeds 5% for a third of groups, by design)
        approx_count_distinct(col("o_custkey"), 0.01).as("approx_buyers"),
        hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("hll_buyers"),
        countDistinct(col("o_custkey")).as("exact_buyers"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("o_totalprice"), lit(0.95), lit(10000)).as("p95"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .select(
        col("o_orderstatus"),
        (abs(col("approx_buyers") - col("exact_buyers"))
          <= col("exact_buyers") * 0.05).as("approx_within_5pct"),
        (abs(col("hll_buyers") - col("exact_buyers"))
          <= col("exact_buyers") * 0.05).as("hll_within_5pct"),
        col("p50").between(col("lo"), col("hi")).as("p50_in_range"),
        (col("p95").between(col("lo"), col("hi")) && col("p95") >= col("p50"))
          .as("p95_in_range"))

  val sketchBoundsOracle: String =
    """SELECT o_orderstatus, TRUE AS approx_within_5pct, TRUE AS hll_within_5pct,
      |       TRUE AS p50_in_range, TRUE AS p95_in_range
      |FROM orders GROUP BY 1""".stripMargin

  /** Approximate quantiles with the RANK-ERROR guarantee verified exactly —
    * the stronger contract `x_sketch_bounds`'s in-range checks don't pin.
    * `percentile_approx(accuracy = a)` (Greenwald-Khanna summaries)
    * guarantees the returned element's rank is within `1/a` of the target
    * quantile; since the estimate is always an OBSERVED value, both claims
    * are checkable exactly: rank via two counts against the group's values,
    * membership via an equality probe. The estimates themselves are
    * engine-specific (DuckDB's reservoir quantile differs), so — as with
    * every sketch gate — the OUTPUT is the provable booleans, which the
    * oracle derives as constants from the guarantee.
    *
    * Scale shape: one grouped sketch aggregation (partial-merged map-side,
    * summary size O(a·log n) per group independent of N), then the tiny
    * (groups × quantiles) estimate table broadcast back onto the scan for
    * the exact-rank verify — two scans total, no data-sized shuffle,
    * exactly how a 100 TB quantile job validates itself.
    */
  def quantileRankError(s: SparkSession, d: String): DataFrame = {
    val accuracy = 1000
    val phis = Seq(0.5, 0.9, 0.99)
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    val est = li.groupBy(col("g"))
      .agg(
        percentile_approx(col("v"), array(phis.map(lit): _*), lit(accuracy)).as("est"),
        count(lit(1)).as("n"))
      .select(col("g"), col("n"), posexplode(col("est")).as(Seq("i", "est")))
      .withColumn("phi", element_at(array(phis.map(lit): _*), col("i") + 1))
    val checked = li.join(broadcast(est), "g")
      .groupBy(col("g"), col("phi"), col("n"), col("est"))
      .agg(
        sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("below"),
        sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("at_or_below"))
    // rank interval [below, at_or_below] must intersect phi*n ± eps*n, with
    // one extra rank of slack for the discrete grid
    val eps = 1.0 / accuracy
    checked.select(
      col("g"), col("phi"), col("n"),
      (col("below") <= (col("phi") + eps) * col("n") + 1 &&
        col("at_or_below") >= (col("phi") - eps) * col("n") - 1)
        .as("rank_within_bound"),
      (col("at_or_below") > col("below")).as("est_is_member"))
  }

  val quantileRankErrorOracle: String =
    """SELECT g, CAST(phi AS DOUBLE) AS phi, n,
      |       TRUE AS rank_within_bound, TRUE AS est_is_member
      |FROM (SELECT l_returnflag AS g, COUNT(*) AS n FROM lineitem GROUP BY 1)
      |CROSS JOIN (VALUES (0.5), (0.9), (0.99)) p(phi)""".stripMargin

  /** Per-partition Misra-Gries summary: at most k counters; a term beyond
    * capacity decrements every counter (dropping zeros) — the classic
    * one-pass frequent-items sketch. Guarantees used by the gate: the
    * summary NEVER overcounts, and any term with partition frequency
    * > N_p/(k+1) survives.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      if (counters.contains(t)) counters(t) += 1
      else if (counters.size < k) counters(t) = 1L
      else {
        counters.mapValuesInPlace((_, v) => v - 1)
        counters.filterInPlace((_, v) => v > 0)
      }
    }
    counters.iterator
  }

  /** Heavy hitters (approximate frequent items) over document tokens — the
    * sketch-family member HLL/percentile don't cover. The SCALE path is one
    * pass, no token-level shuffle: each partition reduces its token stream
    * to a ≤ k-counter Misra-Gries summary (`mapPartitions` — genuinely
    * imperative per-partition logic), summaries merge by term (a shuffle of
    * ≤ k·partitions rows, not N tokens), and only the candidate terms get
    * exact counts (a broadcast semi-join verify pass).
    *
    * The candidate SET depends on partitioning, so the gate emits the
    * sketch's PROVABLE guarantees as exact booleans (the `x_sketch_bounds`
    * pattern): by an averaging argument any term with global frequency
    * > N/(k+1) exceeds N_p/(k+1) in at least one partition and therefore
    * survives that partition's summary → `missed_true_hh = 0`; MG counts
    * are always underestimates and the verify pass uses exact counts →
    * `overcount = 0`. The oracle recomputes n_tokens and the true-HH count
    * exactly.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 20
    val tokens = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("term"))
    val summaries = tokens.as[String]
      .mapPartitions(it => misraGries(it, k))
      .toDF("term", "mg_count")
    // merged summary: ≤ k·partitions rows; the sum of underestimates is
    // still an underestimate
    val candidates = summaries.groupBy(col("term"))
      .agg(sum(col("mg_count")).as("mg_count"))
    // the huge exploded token stream is scanned exactly TWICE (once for the
    // MG summaries, once here) — every downstream frame derives from the
    // vocabulary-sized exact-count table. localCheckpoint (not persist):
    // the blocks are context-cleaned once the returned frame is dropped,
    // where a CacheManager entry would outlive the gate forever
    val freqs = tokens.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nTokens = freqs.agg(sum(col("c")).as("n_tokens"))
    val verified = freqs.join(broadcast(candidates), "term")
      .select(col("term"), col("mg_count"), col("c").as("true_count"))
    val truth = freqs.crossJoin(broadcast(nTokens))
      .filter(col("c") > col("n_tokens") / (k + 1.0))
      .select(col("term").as("hh_term"), col("c"))
    truth
      .join(verified, col("hh_term") === col("term"), "left_outer")
      .agg(
        coalesce(sum(when(col("term").isNull, 1)), lit(0))
          .cast("long").as("missed_true_hh"))
      .crossJoin(verified
        .agg(coalesce(sum(when(col("mg_count") > col("true_count"), 1)), lit(0))
          .cast("long").as("overcount")))
      .crossJoin(nTokens)
      .crossJoin(truth.agg(count(lit(1)).cast("long").as("n_true_hh")))
      .select(col("n_tokens"), col("n_true_hh"),
        col("missed_true_hh"), col("overcount"))
  }

  val heavyHittersOracle: String =
    """WITH tokens AS (
      |  SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term FROM documents),
      |tot AS (SELECT COUNT(*) AS n_tokens FROM tokens),
      |freqs AS (SELECT term, COUNT(*) AS c FROM tokens GROUP BY 1)
      |SELECT tot.n_tokens,
      |       (SELECT COUNT(*) FROM freqs, tot WHERE c > n_tokens / 21.0) AS n_true_hh,
      |       CAST(0 AS BIGINT) AS missed_true_hh,
      |       CAST(0 AS BIGINT) AS overcount
      |FROM tot""".stripMargin

  /** Whole-operator Catalyst extension (preference order (c) of the build
    * contract): top-k rows per key through the custom
    * `TopKPerKey` LogicalPlan → `TopKPerKeyStrategy` (injected by
    * GraftExtensions) → partial/final `TopKPerKeyExec` pair. The built-in
    * formulation (`row_number()` window + filter) shuffles EVERY input row
    * and fully sorts every group; the custom operator reduces each input
    * partition to ≤ k rows per key with a bounded heap BEFORE the one hash
    * exchange — at 100 TB the shuffle carries k·|keys| rows, not the table.
    * Tie-break on the unique o_orderkey makes the kept set deterministic;
    * the oracle recomputes it with QUALIFY row_number().
    */
  def topKPerKey(s: SparkSession, d: String): DataFrame =
    org.apache.spark.sql.graft.TopK.perKey(
      Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      keyCols = Seq("o_custkey"),
      orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)

  val topKPerKeyOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin

  /** Deterministic k-per-group sampling through the [[topKPerKey]] operator
    * with an EXPRESSION sort key: ordering by a Knuth multiplicative hash
    * of the row id turns "top k" into "uniform-looking k-sample per group",
    * reproducible by any engine (same trick as `x_sample_stratified`, here
    * flowing through the custom physical operator instead of a window —
    * per-partition heaps mean the sample never shuffles more than k·groups
    * rows).
    */
  def samplePerGroup(s: SparkSession, d: String): DataFrame = {
    val hash = ((col("o_orderkey") % lit(2147483648L)) * lit(2654435761L)) % lit(4294967296L)
    org.apache.spark.sql.graft.TopK.perKey(
      Tables.orders(s, d).select("o_orderpriority", "o_orderkey", "o_totalprice"),
      keyCols = Seq("o_orderpriority"),
      orderBy = Seq(hash.asc, col("o_orderkey").asc),
      k = 4)
  }

  val samplePerGroupOracle: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (
      |  PARTITION BY o_orderpriority
      |  ORDER BY ((o_orderkey % 2147483648) * 2654435761) % 4294967296, o_orderkey) <= 4""".stripMargin

  /** Custom [[org.apache.spark.sql.graft.ProductMod]] DeclarativeAggregate:
    * an order/partitioning-invariant multiset fingerprint (product mod
    * 2³¹−1) — the cheap integrity checksum for "does the re-sharded /
    * compacted / merged table still carry exactly these ids". The gate
    * computes the fingerprint twice, over the natural layout and over a
    * deliberately re-partitioned copy, and ships the equality as a column:
    * layout invariance is part of the checked result, and the value itself
    * is recomputed independently by the oracle's ordered list_reduce.
    */
  def productFingerprint(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val fp = o.groupBy(col("o_orderpriority"))
      .agg(expr("graft_product_mod(o_orderkey)").as("fp"), count(lit(1)).as("cnt"))
    val reSharded = o.repartition(13, col("o_totalprice"))
      .groupBy(col("o_orderpriority"))
      .agg(expr("graft_product_mod(o_orderkey)").as("fp2"))
    fp.join(reSharded, "o_orderpriority")
      .withColumn("layout_invariant", col("fp") === col("fp2"))
      .drop("fp2")
  }

  val productFingerprintOracle: String =
    """SELECT o_orderpriority,
      |       list_reduce(list(o_orderkey % 2147483647 ORDER BY o_orderkey),
      |                   (a, b) -> (a * b) % 2147483647) AS fp,
      |       COUNT(*) AS cnt, TRUE AS layout_invariant
      |FROM orders GROUP BY 1""".stripMargin

  /** AQE runtime skew-join repair: a planted hot key (≈ 2/3 of the fact
    * lands on key 0) would stall one reducer of the sort-merge join for the
    * whole stage; with `adaptive.skewJoin` the runtime splits that
    * partition into many sub-reads, each joined against the (replicated)
    * dim side. The thresholds are lowered to make sf0.01-sized skew visible
    * to the optimizer — at 100 TB the DEFAULTS fire on the same shape. The
    * oracle is the plain join+agg: the repair must be invisible in results.
    * (This is the runtime complement of the MANUAL salting in
    * [[saltedAgg]]: salting rewrites the query, AQE rewrites the plan.)
    */
  def skewJoin(s: SparkSession, d: String): DataFrame =
    withSkewConfs(s) {
      // materialize UNDER the lowered thresholds: the confs are read at
      // runtime by AQE, so they must still be set when the job runs.
      // localCheckpoint (eager) — not cache() — so the gate leaks no
      // storage entry into the long-lived session (round-18 hygiene: the
      // previous cache() was never unpersisted). The plan auditor, which
      // needs the LIVE adaptive plan, holds the confs itself via
      // [[withSkewConfs]] around [[skewJoinLive]].
      skewJoinLive(s, d).localCheckpoint()
    }

  /** The pipeline without materialization — [[graft.Plans]] executes it
    * inside [[withSkewConfs]] so the audited final adaptive plan carries
    * the skew-split evidence.
    */
  private[graft] def skewJoinLive(s: SparkSession, d: String): DataFrame = {
    // AQE splits a skewed reduce partition along MAPPER block boundaries,
    // so the fact side must come from several map tasks for a split to
    // exist at all. A 100 TB scan has thousands of mappers naturally; the
    // single sf0.01 parquet file has one, so spread it first (hashing on
    // the unique key — NOT the skewed one — keeps the mappers even).
    val fact = Tables.orders(s, d)
      .repartition(8, col("o_orderkey"))
      .select(
        when(col("o_orderkey") % 3 =!= 0, lit(0L))
          .otherwise(col("o_orderkey") % 40).as("hot_key"),
        col("o_totalprice"))
    val dim = s.range(0, 40).select(
      col("id").as("hot_key"), concat(lit("grp_"), col("id") % 5).as("grp"))
    fact.join(dim, Seq("hot_key")).groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"), Q.moneySum(col("o_totalprice")).as("total"))
  }

  /** Lowered AQE skew thresholds (sf0.01-sized skew visible; the DEFAULTS
    * fire on the same shape at 100 TB) held for the duration of `body`,
    * restored after.
    */
  private[graft] def withSkewConfs[T](s: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prior = keys.map(k => k -> s.conf.get(k)).toMap
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    try body finally prior.foreach { case (k, v) => s.conf.set(k, v) }
  }

  val skewJoinOracle: String =
    """WITH fact AS (
      |  SELECT CASE WHEN o_orderkey % 3 <> 0 THEN 0 ELSE o_orderkey % 40 END AS hot_key,
      |         o_totalprice
      |  FROM orders),
      |dim AS (SELECT range AS hot_key, 'grp_' || (range % 5) AS grp FROM range(0, 40))
      |SELECT grp, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM fact JOIN dim USING (hot_key)
      |GROUP BY 1""".stripMargin

  /** A5 generator: deterministic synthetic transaction payloads — every
    * field pure arithmetic on the row id, reproduced exactly by the oracle's
    * `range()`.
    */
  def genTransactions(s: SparkSession, d: String): DataFrame =
    Ingest.transactions(s, 10000)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")

  val genTransactionsOracle: String =
    """SELECT 'tx_' || lpad(CAST(id AS VARCHAR), 8, '0') AS transaction_id,
      |       id % 10000 + 1 AS user_id,
      |       ((id * 37) % 49900 + 100) / 100.0 AS amount,
      |       ['EUR', 'USD', 'GBP'][CAST(id % 3 + 1 AS INT)] AS currency,
      |       epoch_us(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(id)) AS ts_us,
      |       CASE WHEN id % 10 < 8 THEN 'approved' ELSE 'declined' END AS status
      |FROM range(0, 10000) t(id)""".stripMargin

  /** A5 + B6 fused: generated stream straight through an aggregate — the
    * producer→ksqlDB path (§3.1→§3.2) with no broker hop.
    */
  def genAggregate(s: SparkSession, d: String): DataFrame =
    Ingest.transactionsFlat(s, 20000)
      .groupBy(col("payment_method"))
      .agg(
        Q.moneySum(col("amount")).as("total_amount"),
        count(lit(1)).as("transaction_count"))

  val genAggregateOracle: String =
    """SELECT ['card', 'paypal', 'apple_pay'][CAST(id % 3 + 1 AS INT)] AS payment_method,
      |       CAST(SUM(CAST(((id * 37) % 49900 + 100) / 100.0 AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
      |       COUNT(*) AS transaction_count
      |FROM range(0, 20000) t(id)
      |GROUP BY 1""".stripMargin

  /** Dynamic partition pruning: the fact copy is Hive-partitioned on a
    * BOUNDED bucketing of the join key (`l_suppkey % 64`), and the dim
    * side carries a NON-partition predicate (`s_acctbal > 5000`) — so
    * static pruning is impossible and, without DPP, every partition is a
    * candidate at planning time. Spark's DPP rule inserts a runtime
    * `dynamicpruningexpression` on the fact scan that reuses the dim
    * broadcast, so only partitions holding a surviving supplier's bucket
    * are ever opened. At 100 TB this prunes at the metadata level before
    * a single fact byte is read — the runtime complement of the static
    * pruning `Lake.readStreamFeed` relies on. Bucketing (not raw
    * `l_suppkey`) keeps the partition count CONSTANT as the key space
    * grows — a per-key layout writes one directory per supplier, which at
    * sf1 was already 10 000 small files (7.6× the gate's sf0.1 cost) and
    * at warehouse scale is the classic small-files anti-pattern; pruning
    * then works at bucket granularity exactly as production fact tables
    * prune date × hash-bucket layouts. The write repartitions by the
    * partition column first so each Hive directory is written by one task.
    * Oracle = the plain join on the unpartitioned table: pruning must be
    * invisible in the result.
    */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_dpp_").toString
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_extendedprice"),
        pmod(col("l_suppkey"), lit(64)).as("sup_bucket"))
      .repartition(col("sup_bucket"))
      .write.partitionBy("sup_bucket").mode("overwrite").parquet(root)
    val fact = s.read.parquet(root)
    val dim = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
      .withColumn("s_bucket", pmod(col("s_suppkey"), lit(64)))
    fact.join(dim, fact("l_suppkey") === dim("s_suppkey") &&
        fact("sup_bucket") === dim("s_bucket"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("lines"), Q.moneySum(col("l_extendedprice")).as("revenue"))
  }

  val dppJoinOracle: String =
    """SELECT s_suppkey, COUNT(*) AS lines,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_acctbal > 5000
      |GROUP BY 1""".stripMargin

  /** Runtime bloom-filter injection — Spark's own runtime row-level
    * filtering, the automatic counterpart of the hand-built
    * [[bloomJoin]]: with the optimizer flag on, a shuffle join whose
    * creation side carries a selective predicate gets a bloom filter BUILT
    * FROM the dim keys and pushed onto the fact scan as a
    * `might_contain(..., xxhash64(key))` predicate — fact rows that cannot
    * match are dropped BEFORE the shuffle. At 100 TB this is the default
    * posture (the thresholds exist so small scans skip the overhead; the
    * gate lowers them because sf0.01 is below the 10 GB default). The gate
    * hard-fails unless the filter was actually injected, and the oracle is
    * the plain join — runtime filtering must be invisible in the result.
    * Broadcast is disabled so the join genuinely shuffles (a broadcast
    * join already prunes at the hash table and gets no runtime filter).
    */
  def runtimeFilterJoin(s: SparkSession, d: String): DataFrame = {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = Tables.supplier(s, d).filter(col("s_acctbal") > 9000)
      val q = Tables.lineitem(s, d)
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("lines"), Q.moneySum(col("l_extendedprice")).as("revenue"))
      val plan = q.queryExecution.optimizedPlan.toString
      require(plan.contains("might_contain"),
        s"runtime bloom filter was not injected:\n$plan")
      // executes the bloom-injected plan under the flipped flags; the
      // returned scan is conf-independent and the driver holds no rows
      Q.snapshot(q)
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val runtimeFilterJoinOracle: String =
    """SELECT s_suppkey, COUNT(*) AS lines,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_acctbal > 9000
      |GROUP BY 1""".stripMargin

  /** Materialized-view query rewrite end-to-end: a rollup of lineitem by
    * (l_returnflag, l_linestatus) is materialized and registered, then a
    * COARSER aggregate (by l_returnflag only, with a key-only filter) is
    * written against the BASE table — and the injected optimizer rule
    * ([[graft.warehouse.SummaryRewrite]]) re-points it at the rollup. The
    * gate hard-fails unless the optimized plan scans the summary and not
    * the fact table, so correctness here proves BOTH the rewrite fired and
    * that it is answer-preserving (oracle runs the same query on the raw
    * lineitem in DuckDB). At 100 TB the difference is a fact-table scan vs
    * a dimension-sized summary read. The result is snapshot-materialized
    * so the view can be dropped eagerly — later gates must never see a
    * registered view they didn't create.
    */
  def mvRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = graft.Tmp.dir("graft_mv_").toString
    val basePath = Tables.path(d, "lineitem")
    try {
      SummaryRewrite.create(s, "mv_li_rfls", basePath, s"$root/mv",
        keys = Seq("l_returnflag", "l_linestatus"),
        sums = Seq(
          "l_quantity" -> Some("decimal(18,2)"),
          "l_extendedprice" -> Some("decimal(18,2)")),
        mins = Seq("l_discount"), maxs = Seq("l_discount"))
      val q = s.read.parquet(basePath)
        .filter(col("l_returnflag") =!= "N")
        .groupBy(col("l_returnflag"))
        .agg(
          Q.moneySum(col("l_quantity")).as("sum_qty"),
          Q.moneySum(col("l_extendedprice")).as("sum_price"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_discount")).as("max_disc"),
          count(lit(1)).as("cnt"))
      val paths = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      require(paths.exists(_.endsWith("/mv")),
        s"materialized-view rewrite did not fire; scanned $paths")
      require(!paths.exists(_.endsWith("lineitem.parquet")),
        s"rewritten plan still scans the base table: $paths")
      // executes the rewritten plan before the view drops; driver holds no rows
      Q.snapshot(q)
    } finally SummaryRewrite.drop("mv_li_rfls")
  }

  val mvRewriteOracle: String =
    """SELECT l_returnflag,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       MIN(l_discount) AS min_disc,
      |       MAX(l_discount) AS max_disc,
      |       COUNT(*) AS cnt
      |FROM lineitem
      |WHERE l_returnflag <> 'N'
      |GROUP BY 1""".stripMargin

  /** Cost-based join reordering from ANALYZE statistics: the query is
    * WRITTEN in the worst order — fact ⋈ mid first (every fact row
    * survives), the selective small dim last — and CBO, fed by
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`, must reorder
    * to apply the selective dim first. At 100 TB this is the difference
    * between shuffling the full fact-mid join product and shuffling ~1% of
    * it; the stats collection pass is the price, paid once per load. The
    * gate hard-fails unless the optimized join tree actually changed order
    * (small-dim leaf before the mid leaf), and the oracle is the plain
    * 3-way join — reordering must be invisible in the result.
    */
  def cboReorder(s: SparkSession, d: String): DataFrame = {
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> s.conf.getOption(k))
    val tables = Seq("graft_cbo_fact", "graft_cbo_mid", "graft_cbo_small")
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      tables.foreach(t => fs.delete(new org.apache.hadoop.fs.Path(wh, t), true))
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice")
        .write.saveAsTable("graft_cbo_fact")
      Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .write.saveAsTable("graft_cbo_mid")
      Tables.supplier(s, d).filter(col("s_acctbal") > 9900)
        .select("s_suppkey", "s_nationkey")
        .write.saveAsTable("graft_cbo_small")
      tables.foreach(t => s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      val q = s.table("graft_cbo_fact")
        .join(s.table("graft_cbo_mid"), col("l_orderkey") === col("o_orderkey"))
        .join(s.table("graft_cbo_small"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("lines"), Q.moneySum(col("l_extendedprice")).as("revenue"))
      val plan = q.queryExecution.optimizedPlan.toString
      val posSmall = plan.indexOf("graft_cbo_small")
      val posMid = plan.indexOf("graft_cbo_mid")
      require(posSmall >= 0 && posMid >= 0 && posSmall < posMid,
        s"CBO did not reorder the selective dim ahead of the mid join:\n$plan")
      // executes the CBO-reordered plan before the tables drop; no collect()
      Q.snapshot(q)
    } finally {
      tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  val cboReorderOracle: String =
    """SELECT s_nationkey, COUNT(*) AS lines,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_acctbal > 9900
      |GROUP BY 1""".stripMargin

  /** Parser extension end-to-end: `SHOW GRAFT VIEWS` is custom SQL parsed
    * by [[graft.GraftSqlParser]] (injected via `injectParser`, delegating
    * everything else to Spark's parser) into a driver-side command that
    * lists the registered materialized views. Two views are registered,
    * listed through plain `spark.sql`, and dropped; the VALUES oracle pins
    * the catalog rows.
    */
  def customParser(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = graft.Tmp.dir("graft_parser_").toString
    try {
      SummaryRewrite.create(s, "mv_orders_by_prio", Tables.path(d, "orders"), s"$root/mv1",
        keys = Seq("o_orderpriority"),
        sums = Seq("o_totalprice" -> Some("decimal(18,2)")))
      SummaryRewrite.create(s, "mv_li_by_flag", Tables.path(d, "lineitem"), s"$root/mv2",
        keys = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("l_quantity" -> Some("decimal(18,2)")), mins = Seq("l_discount"))
      val shown = s.sql("SHOW GRAFT VIEWS")
      val rows = shown.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), shown.schema)
    } finally {
      SummaryRewrite.drop("mv_orders_by_prio")
      SummaryRewrite.drop("mv_li_by_flag")
    }
  }

  val customParserOracle: String =
    """SELECT * FROM (VALUES
      |  ('mv_li_by_flag', 'lineitem.parquet', 'l_returnflag,l_linestatus', 2),
      |  ('mv_orders_by_prio', 'orders.parquet', 'o_orderpriority', 1))
      |  t(view_name, base_table, group_keys, n_measures)""".stripMargin

  /** C6 orchestration tick: full export+sync cycle; deterministic statuses
    * checked against a VALUES oracle.
    */
  def orchestratorRun(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.Tmp.dir("graft_orch_").toString
    val first = Orchestrator.runOnce(s, d, root)
    val second = Orchestrator.runOnce(s, d, root) // re-run: versions advance
    (first.map(r => (r.task, r.status, 1)) ++ second.map(r => (r.task, r.status, 2)))
      .toDF("task", "status", "run")
  }

  val orchestratorRunOracle: String =
    """SELECT * FROM (VALUES
      |  ('export_streams', 'ok', 1), ('export_tables', 'ok', 1),
      |  ('sync_warehouse', 'ok', 1), ('sync_incremental', 'ok', 1),
      |  ('export_streams', 'ok', 2), ('export_tables', 'ok', 2),
      |  ('sync_warehouse', 'ok', 2), ('sync_incremental', 'ok', 2)
      |) t(task, status, run)""".stripMargin

  /** C6 continuous operation: a ≥3-tick timed loop (the reference's
    * `schedule.every(N).minutes`, beam_orchestrator.py:117-131) where each
    * tick must advance the versioned sinks deterministically — v1→v2→v3 for
    * both the exported table and the warehouse dim. The version is parsed
    * out of each task's own detail string, so the gate checks what the
    * tasks actually did, not separate state.
    */
  def orchestratorSchedule(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.Tmp.dir("graft_orch_sched_").toString
    val ticks = Orchestrator.runScheduled(s, d, root, ticks = 3, intervalMs = 100)
    ticks.flatMap(t => t.results.map(r =>
      (t.tick, r.task, r.status,
        "version=v(\\d+)".r.findFirstMatchIn(r.detail)
          .map(_.group(1).toInt).getOrElse(0))))
      .toDF("tick", "task", "status", "version")
  }

  val orchestratorScheduleOracle: String =
    """SELECT * FROM (VALUES
      |  (1, 'export_streams', 'ok', 0), (1, 'export_tables', 'ok', 1),
      |  (1, 'sync_warehouse', 'ok', 1), (1, 'sync_incremental', 'ok', 1),
      |  (2, 'export_streams', 'ok', 0), (2, 'export_tables', 'ok', 2),
      |  (2, 'sync_warehouse', 'ok', 2), (2, 'sync_incremental', 'ok', 2),
      |  (3, 'export_streams', 'ok', 0), (3, 'export_tables', 'ok', 3),
      |  (3, 'sync_warehouse', 'ok', 3), (3, 'sync_incremental', 'ok', 3)
      |) t(tick, task, status, version)""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "p_salted_agg" -> (saltedAgg _),
    "p_bucketed_join" -> (bucketedJoin _),
    "p_bloom_join" -> (bloomJoin _),
    "x_sketch_bounds" -> (sketchBounds _),
    "x_quantile_rank_error" -> (quantileRankError _),
    "x_heavy_hitters" -> (heavyHitters _),
    "x_approx_sketches" -> (approxSketches _),
    "x_sketch_exact" -> (sketchExact _),
    "x_topk_per_key" -> (topKPerKey _),
    "x_sample_pergroup" -> (samplePerGroup _),
    "p_skew_join" -> (skewJoin _),
    "p_dpp_join" -> (dppJoin _),
    "p_mv_rewrite" -> (mvRewrite _),
    "p_runtime_filter" -> (runtimeFilterJoin _),
    "d_custom_parser" -> (customParser _),
    "p_cbo_reorder" -> (cboReorder _),
    "x_product_fingerprint" -> (productFingerprint _),
    "a5_gen_transactions" -> (genTransactions _),
    "a5_gen_aggregate" -> (genAggregate _),
    "c6_orchestrator_run" -> (orchestratorRun _),
    "c6_orchestrator_schedule" -> (orchestratorSchedule _))

  val oracles: Map[String, String] = Map(
    "p_salted_agg" -> saltedAggOracle,
    "p_bucketed_join" -> bucketedJoinOracle,
    "p_bloom_join" -> bloomJoinOracle,
    "x_sketch_bounds" -> sketchBoundsOracle,
    "x_quantile_rank_error" -> quantileRankErrorOracle,
    "x_heavy_hitters" -> heavyHittersOracle,
    "x_sketch_exact" -> sketchExactOracle,
    "x_topk_per_key" -> topKPerKeyOracle,
    "x_sample_pergroup" -> samplePerGroupOracle,
    "p_skew_join" -> skewJoinOracle,
    "p_dpp_join" -> dppJoinOracle,
    "p_mv_rewrite" -> mvRewriteOracle,
    "p_runtime_filter" -> runtimeFilterJoinOracle,
    "d_custom_parser" -> customParserOracle,
    "p_cbo_reorder" -> cboReorderOracle,
    "x_product_fingerprint" -> productFingerprintOracle,
    "x_approx_sketches" -> approxSketchesOracle,
    "a5_gen_transactions" -> genTransactionsOracle,
    "a5_gen_aggregate" -> genAggregateOracle,
    "c6_orchestrator_run" -> orchestratorRunOracle,
    "c6_orchestrator_schedule" -> orchestratorScheduleOracle)
}
