package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Q.QueryFn

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Dot products use `zip_with` + `aggregate` higher-order functions after an
  * element-wise cast to double — a strict left-to-right IEEE fold, which is
  * bit-identical to DuckDB's `list_dot_product` over `DOUBLE[]`, so cosine
  * scores (and hence threshold membership and rank order) oracle-match
  * exactly.
  *
  * Scale design: brute-force top-k is O(Q×N) — the correctness baseline,
  * fine when Q is small. The IVF variant is the 100-TB path: vectors are
  * assigned to their nearest centroid once (O(N×K)), queries probe only
  * their own cell (O(Q×N/K) expected); both stages are broadcast joins on
  * the centroid table, so the big side never shuffles.
  */
object Similarity {

  /** Persist-and-release for gate paths (optimization guide §1.2/§2.4:
    * compute shared subtrees once instead of replaying them per reference
    * — the DataFrame API does not share common subplans, so an `e` used by
    * the codebook, the assignment, the query batch and the candidate join
    * is otherwise scanned and re-normalized once PER REFERENCE). `res` is
    * materialized eagerly (localCheckpoint, the [[graft.queries.Analytics]]
    * pattern), then every per-gate cache is released: gates run in one
    * long-lived session, so a leaked cache entry would both accumulate
    * storage and let an identical plan fragment of a LATER gate silently
    * read cached data, corrupting that gate's measurement. `reuse = false`
    * (the plan-audit path) does neither — callers see the live pipeline
    * plan, exactly like `Analytics.graphPagerank(checkpoint = false)`.
    * The cache is released even when `res` fails.
    */
  private[ext] def finishGate(reuse: Boolean, shared: DataFrame)(
      res: DataFrame => DataFrame): DataFrame =
    if (!reuse) res(shared)
    else withPersisted(shared)(p => res(p).localCheckpoint())

  /** Runs `body` over `df` persisted and unpersists it in a `finally`, so
    * an exception cannot leave the cache entry in the long-lived session.
    */
  private[ext] def withPersisted[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = df.persist()
    try body(p) finally p.unpersist()
  }

  /** Strict sequential dot product of two double arrays — the codegen'd
    * native expression (see graft.functions.DotProductD). Numerically
    * identical to the higher-order fold below.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.dotD(a, b)

  /** Reference formulation via higher-order functions (interpreted lambda;
    * kept for cross-checking the native expression in tests).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** embeddings with a double-cast vector and its L2 norm. The single-file
    * input is fanned out so the O(N×M) pairwise stages downstream
    * parallelize (a one-partition left side serializes a nested-loop join).
    */
  def withNorm(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(
        col("vec_id"), col("label"),
        // a plain array cast is codegen'd element-wise float→double —
        // identical values to the interpreted per-element transform
        // lambda it replaces (round 18, guide §1.2 per-task work)
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      // zero-norm vectors have no defined cosine; Spark's x/0 → NULL and
      // DuckDB's → inf would also rank differently, so exclude them here
      // and in every oracle (WHERE nrm > 0)
      .filter(col("nrm") > 0)

  def cosine(va: Column, na: Column, vb: Column, nb: Column): Column =
    dot(va, vb) / (na * nb)

  /** Deterministic FIXED query batch for the ANN gates: every 100th vec_id
    * below 2000 (20 queries). At the driver SF (sf0.01, 2000 vectors) this
    * equals the previous unbounded `% 100` predicate, so gate hashes are
    * unchanged; at larger corpora the batch stays constant — ANN query
    * load is a property of the consumer, not the corpus, and letting Q
    * grow with N made the benched scans O(N²/100) (measured exponent 1.9
    * on `x_ann_pq` at 30× before this bound; linear after).
    */
  private[ext] def isQuery(id: Column): Column = id % 100 === 0 && id < 2000

  /** Brute-force cosine top-k neighbors for a deterministic query subset
    * ([[isQuery]]), ties broken by neighbor id.
    */
  def annTopK(s: SparkSession, d: String): DataFrame = {
    // single-action gate: e's duplicate subtrees dedupe at runtime via
    // exchange/broadcast reuse — a persist here was MEASURED slower
    // (cache build/scan beats nothing when the frame is cheap codegen;
    // see OPTIMIZATION_r17.md "persist lesson")
    val e = withNorm(Tables.embeddings(s, d))
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
  }

  val annTopKOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
      |SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
      |       list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos,
      |       row_number() OVER (PARTITION BY q.vec_id
      |                          ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC,
      |                                   e.vec_id) AS rk
      |FROM (SELECT * FROM e WHERE vec_id % 100 = 0 AND vec_id < 2000) q
      |JOIN e ON e.vec_id <> q.vec_id
      |QUALIFY rk <= 5""".stripMargin

  /** All near-duplicate pairs above a cosine threshold (embedding-cosine
    * near-dup detection). Bounded all-pairs — the verification path; LSH /
    * IVF bucketing is the scale path.
    */
  def cosineNearDup(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  val cosineNearDupOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""".stripMargin

  /** Number of IVF centroids — FIXED, independent of the corpus size. At
    * 100 TB this is the trained codebook size; here the codebook is a
    * deterministic sample (the K lowest vec_ids) so the oracle can rebuild
    * it in SQL.
    */
  val IvfK = 64

  /** IVF-style ANN with a fixed-K codebook: every vector is assigned to its
    * max-cosine centroid in one pass, queries search only their own cell.
    *
    * Scale shape: K is a CONSTANT (not a fraction of N), so assignment is
    * O(N·K) against a truly broadcastable O(K) centroid table, and the
    * assignment itself is a `max_by` AGGREGATE — partial aggregation folds
    * each partition's N×K scored rows down to N before the only shuffle.
    * (The previous formulation had both failure modes the 100× test
    * catches: centroids = `vec_id % 64` grows K with N, making assignment
    * O(N²/64) with an unbounded broadcast, and a `row_number` window over
    * the N×K product adds a full N×K exchange+sort that the aggregate
    * avoids.) Ties (one vector equidistant to two centroids) break to the
    * lowest cent_id via the (ccos, -cent_id) ordering struct, matching the
    * oracle's ORDER BY.
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.orderBy(col("vec_id")).limit(IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    // assignment rows are NARROWED to (vec_id, cent_id, ccos) before the
    // aggregate: max_by's struct buffer plans as a SortAggregate, and
    // carrying the 64-dim vectors through that sort would multiply its
    // bytes ~30× for data the aggregate doesn't need — vectors re-attach
    // by a plain N-row join afterwards instead (shared [[ivfAssigned]])
    val assigned = ivfAssigned(e, cents)
    val q = assigned.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cent_id").as("q_cell"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q),
        col("cent_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
  }

  val annIvfOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |assigned AS (
      |  SELECT e.vec_id, e.v, e.nrm, c.vec_id AS cent_id
      |  FROM e JOIN (SELECT * FROM e ORDER BY vec_id LIMIT 64) c ON TRUE
      |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
      |    ORDER BY list_dot_product(c.v, e.v) / (c.nrm * e.nrm) DESC, c.vec_id) = 1)
      |SELECT q.vec_id AS q_id, a.vec_id AS neighbor_id,
      |       list_dot_product(q.v, a.v) / (q.nrm * a.nrm) AS cos,
      |       row_number() OVER (PARTITION BY q.vec_id
      |         ORDER BY list_dot_product(q.v, a.v) / (q.nrm * a.nrm) DESC, a.vec_id) AS rk
      |FROM (SELECT * FROM assigned WHERE vec_id % 100 = 0 AND vec_id < 2000) q
      |JOIN assigned a ON a.cent_id = q.cent_id AND a.vec_id <> q.vec_id
      |QUALIFY rk <= 3""".stripMargin

  /** Vectors assigned to their argmax-cosine centroid — the shared IVF
    * index build ([[annIvf]]'s shape): O(N·K) scoring against a broadcast
    * O(K) table, folded to N rows by partial aggregation before the one
    * shuffle, vectors re-attached by a plain join.
    */
  private[ext] def ivfAssigned(e: DataFrame, cents: DataFrame): DataFrame = {
    val assignedIds = e.join(broadcast(cents), lit(true))
      .withColumn("ccos", cosine(col("cv"), col("cn"), col("v"), col("nrm")))
      .select(col("vec_id"), col("cent_id"), col("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("ccos"), -col("cent_id"))).as("cent_id"))
    // label rides along: index structures built from this assignment can
    // store the metadata attribute beside the codes, which is what makes
    // PRE-filtered search possible ([[annIvfPqFiltered]]) — the filter
    // applies to the index scan itself, not to the search output
    e.join(assignedIds, "vec_id")
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cent_id"))
  }

  /** The `nprobe` nearest centroids per QUERY vector, ranked by centroid
    * cosine (ties to the lowest cent_id — probe rank 1 is exactly the
    * cell [[annIvf]] assigns the query to). Work is O(Q·K) over the
    * broadcast codebook; the rank window partitions by query, K rows per
    * partition — bounded by the constant codebook size, never by N.
    */
  private[ext] def queryProbes(e: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    e.filter(isQuery(col("vec_id")))
      .join(broadcast(cents), lit(true))
      .withColumn("ccos", cosine(col("cv"), col("cn"), col("v"), col("nrm")))
      .select(col("vec_id"), col("cent_id"), col("ccos"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("probe_cell"), col("prk"))
  }

  /** Multi-probe IVF top-k: candidates come from the query's `nprobe`
    * nearest cells instead of only its own — the standard fix for the
    * Voronoi-boundary recall loss of single-probe IVF (a true neighbor
    * sitting just across a cell boundary is invisible at nprobe=1).
    *
    * Scale shape: identical to [[annIvf]] with the candidate set scaled by
    * nprobe — O(Q·nprobe·N/K) expected comparisons, the probe table is
    * O(Q·nprobe) rows and stays the broadcast side, and each candidate
    * appears exactly once (a vector lives in ONE cell and probe cells are
    * distinct), so no dedup stage is needed. Recall vs brute force is
    * pinned by [[annIvfRecall]]; nprobe trades compute for recall with no
    * change to the plan shape.
    */
  def annIvfMultiprobe(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.orderBy(col("vec_id")).limit(IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = ivfAssigned(e, cents)
    val qp = queryProbes(e, cents, nprobe = 4).drop("prk")
      .join(e.filter(isQuery(col("vec_id"))).select(
        col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), Seq("q_id"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(qp),
        col("cent_id") === col("probe_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
  }

  val annIvfMultiprobeOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn
      |          FROM e ORDER BY vec_id LIMIT 64),
      |scored AS (
      |  SELECT e.vec_id, c.cent_id,
      |         list_dot_product(c.cv, e.v) / (c.cn * e.nrm) AS ccos
      |  FROM e JOIN cents c ON TRUE),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |                             ORDER BY ccos DESC, cent_id) = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, cent_id AS probe_cell FROM scored
      |  WHERE vec_id % 100 = 0 AND vec_id < 2000
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |                             ORDER BY ccos DESC, cent_id) <= 4)
      |SELECT p.q_id, a.vec_id AS neighbor_id,
      |       list_dot_product(q.v, av.v) / (q.nrm * av.nrm) AS cos,
      |       row_number() OVER (PARTITION BY p.q_id
      |         ORDER BY list_dot_product(q.v, av.v) / (q.nrm * av.nrm) DESC,
      |                  a.vec_id) AS rk
      |FROM probes p
      |JOIN assigned a ON a.cent_id = p.probe_cell AND a.vec_id <> p.q_id
      |JOIN e q ON q.vec_id = p.q_id
      |JOIN e av ON av.vec_id = a.vec_id
      |QUALIFY rk <= 3""".stripMargin

  /** The recall CONTRACT for the IVF family: per query, how many of the
    * brute-force top-3 neighbors the IVF retrieval finds at nprobe = 1 and
    * at nprobe = 4 — exact integers the oracle recomputes from first
    * principles, so the quality/compute trade-off is measured, not
    * asserted. hits are counted against the candidate CELLS (truth ∩
    * probed cells): a global-top-3 neighbor present in any probed cell is
    * always inside the retrieved top-3, because at most two vectors beat
    * it anywhere — membership and retrieval coincide for truth rows, and
    * candidates@1 ⊆ candidates@4 makes hits monotone in nprobe BY
    * CONSTRUCTION (the ExtSpec pin asserts the measured improvement is
    * strict on this corpus).
    */
  def annIvfRecall(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.orderBy(col("vec_id")).limit(IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = ivfAssigned(e, cents).select(col("vec_id"), col("cent_id"))
    val probes = queryProbes(e, cents, nprobe = 4)
      .withColumnRenamed("q_id", "pq_id")
    // brute-force truth: the global top-3 neighbors per query
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wT = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .withColumn("trk", row_number().over(wT))
      .filter(col("trk") <= 3)
      .select(col("q_id"), col("vec_id"))
    // each truth neighbor's IVF cell, matched against the query's probed
    // cells (probe rank 1 = single-probe IVF; ranks 1-4 = multi-probe)
    truth.join(assigned, Seq("vec_id"))
      .join(broadcast(probes),
        col("pq_id") === col("q_id") && col("probe_cell") === col("cent_id"),
        "left")
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("truth_k"),
        coalesce(sum(when(col("prk") <= 1, 1)), lit(0)).cast("long").as("hits_np1"),
        coalesce(sum(when(col("prk") <= 4, 1)), lit(0)).cast("long").as("hits_np4"))
  }

  val annIvfRecallOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn
      |          FROM e ORDER BY vec_id LIMIT 64),
      |scored AS (
      |  SELECT e.vec_id, c.cent_id,
      |         list_dot_product(c.cv, e.v) / (c.cn * e.nrm) AS ccos
      |  FROM e JOIN cents c ON TRUE),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |                             ORDER BY ccos DESC, cent_id) = 1),
      |probes AS (
      |  SELECT vec_id AS pq_id, cent_id AS probe_cell,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY ccos DESC, cent_id) AS prk
      |  FROM scored WHERE vec_id % 100 = 0 AND vec_id < 2000
      |  QUALIFY prk <= 4),
      |truth AS (
      |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id
      |  FROM (SELECT * FROM e WHERE vec_id % 100 = 0 AND vec_id < 2000) q
      |  JOIN e ON e.vec_id <> q.vec_id
      |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC,
      |             e.vec_id) <= 3),
      |tc AS (SELECT t.q_id, t.neighbor_id, a.cent_id
      |       FROM truth t JOIN assigned a ON a.vec_id = t.neighbor_id)
      |SELECT tc.q_id, COUNT(*) AS truth_k,
      |       CAST(COALESCE(SUM(CASE WHEN p.prk <= 1 THEN 1 END), 0) AS BIGINT) AS hits_np1,
      |       CAST(COALESCE(SUM(CASE WHEN p.prk <= 4 THEN 1 END), 0) AS BIGINT) AS hits_np4
      |FROM tc LEFT JOIN probes p
      |  ON p.pq_id = tc.q_id AND p.probe_cell = tc.cent_id
      |GROUP BY 1""".stripMargin

  /** Number of k-means clusters — fixed, independent of N (same contract as
    * the IVF/PQ codebooks).
    */
  val KmeansK = 8

  /** One Lloyd assignment pass: nearest centroid per vector (ties to the
    * lowest cid), as a `min(struct)` AGGREGATE over the broadcast N×K score
    * — partial aggregation folds to N rows before the only shuffle, the
    * same shape as [[annIvf]]'s assignment.
    *
    * Distance is the dot identity `|a|² − 2a·c + |c|²` with BOTH squared
    * norms hoisted out of the N×K product: `_daa` is a column of `e`
    * (computed once per vector instead of once per vector PER CENTROID —
    * the un-hoisted form redid K−1 identical dot products per vector) and
    * `_dcc` a column of `cents`. The summation order is unchanged —
    * `(_daa − 2·a·c) + _dcc` — and each hoisted value is the same IEEE
    * expression over the same input, so distances (hence assignments and
    * the trained codebook) are bit-identical to the inline form.
    */
  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents), lit(true))
      .withColumn("dist",
        col("_daa") - lit(2.0) * dot(col("v"), col("cv")) + col("_dcc"))
      .select(col("vec_id"), col("cid"), col("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))

  /** One Lloyd update pass: element-wise mean per cluster. The per-cluster
    * sum is an ORDERED left fold over the members sorted by vec_id —
    * starting FROM THE FIRST MEMBER VECTOR (no zero init), exactly
    * DuckDB's `list_reduce` semantics — so the float sums are bit-identical
    * across engines (a zero init would differ on −0.0 components, and an
    * unordered SUM would differ run to run).
    *
    * Scale note: `collect_list` bounds this to the TRAINING SAMPLE — the
    * production contract is "train the codebook on a deterministic sample,
    * assign the full corpus", so the collected list is O(sample/K), never
    * O(N/K) of the lake.
    */
  private def kmUpdate(e: DataFrame, assign: DataFrame): DataFrame =
    e.join(assign, "vec_id")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("vec_id"), col("v")))).as("svs"))
      .withColumn("vs", transform(col("svs"), s => s("v")))
      .withColumn("sm", aggregate(
        slice(col("vs"), lit(2), greatest(size(col("vs")) - 1, lit(0))),
        element_at(col("vs"), 1),
        (acc, x) => zip_with(acc, x, (a, b) => a + b)))
      .select(col("cid"), col("n"),
        transform(col("sm"), x => x / col("n").cast("double")).as("cv"))

  /** K-means codebook training (Lloyd's algorithm, 2 full iterations over a
    * deterministic init — the K lowest vec_ids): the op that turns the
    * deterministic-sample codebooks of [[annIvf]]/[[annPq]] into TRAINED
    * ones. Every stage is engine-exact: distances use the fixed-order dot
    * identity, assignment ties break to the lowest cid, and means are
    * ordered folds (see [[kmUpdate]]) — so the trained centroids, not just
    * their geometry, hash-match SQL bit-for-bit.
    *
    * Output: the final codebook posexploded to scalar (cid, n, dim, val)
    * rows (the value matrix hash needs scalar columns).
    *
    * EAGER: this overload trains before it returns (see [[finishGate]])
    * and returns a lineage-truncated frame, a scan of the checkpointed
    * codebook rows; the `reuse = false` overload returns the live plan.
    */
  def kmeansTrain(s: SparkSession, d: String): DataFrame =
    kmeansTrain(s, d, reuse = true)

  private[graft] def kmeansTrain(
      s: SparkSession, d: String, reuse: Boolean): DataFrame = {
    def withDcc(c: DataFrame): DataFrame =
      c.withColumn("_dcc", dot(col("cv"), col("cv")))
    // e feeds five passes (init codebook, 2× assign, 2× update-join):
    // persist so the scan + double-cast + |v|² run once (§2.4)
    finishGate(reuse, Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("_daa", dot(col("v"), col("v")))) { e =>
      val c0 = withDcc(e.orderBy(col("vec_id")).limit(KmeansK)
        .select(col("vec_id").as("cid"), col("v").as("cv")))
      val c1 = kmUpdate(e, kmAssign(e, c0))
      val c2 = kmUpdate(e, kmAssign(e, withDcc(c1.select(col("cid"), col("cv")))))
      c2.select(col("cid"), col("n"), posexplode(col("cv")))
        .select(col("cid"), col("n"), col("pos").as("dim"), col("col").as("val"))
    }
  }

  val kmeansTrainOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      |a1 AS (
      |  SELECT e.vec_id, c.cid
      |  FROM e JOIN c0 c ON TRUE
      |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
      |      + list_dot_product(c.cv, c.cv), c.cid) = 1),
      |g1 AS (SELECT a.cid, COUNT(*) AS n, list(e.v ORDER BY e.vec_id) AS vs
      |       FROM a1 a JOIN e ON e.vec_id = a.vec_id GROUP BY 1),
      |c1 AS (SELECT cid, n,
      |              [x / n for x in list_reduce(vs,
      |                 (acc, v) -> [acc[i] + v[i] for i in range(1, 65)])] AS cv
      |       FROM g1),
      |a2 AS (
      |  SELECT e.vec_id, c.cid
      |  FROM e JOIN c1 c ON TRUE
      |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
      |      + list_dot_product(c.cv, c.cv), c.cid) = 1),
      |g2 AS (SELECT a.cid, COUNT(*) AS n, list(e.v ORDER BY e.vec_id) AS vs
      |       FROM a2 a JOIN e ON e.vec_id = a.vec_id GROUP BY 1),
      |c2 AS (SELECT cid, n,
      |              [x / n for x in list_reduce(vs,
      |                 (acc, v) -> [acc[i] + v[i] for i in range(1, 65)])] AS cv
      |       FROM g2)
      |SELECT cid, n, j - 1 AS dim, cv[j] AS val
      |FROM c2, (SELECT unnest(generate_series(1, 64)) AS j) t""".stripMargin

  /** SemDeDup-style semantic deduplication: cluster the corpus (one
    * assignment pass against the fixed K=64 codebook — the [[annIvf]]
    * partition), then prune near-duplicates WITHIN each cluster by exact
    * cosine ≥ τ, keeping the lowest doc id of each duplicate group. A
    * document is dropped iff some lower-id cluster-mate sits above the
    * threshold; its keeper is the lowest such mate.
    *
    * Scale shape: this is the trick that makes embedding-level dedup
    * tractable at 100 TB — candidate pairs exist only inside a cluster
    * (expected O(N²/K) vs all-pairs O(N²)), the cluster id is one broadcast
    * aggregate pass, and the within-cluster join is an equi-join on cell
    * with both sides narrowed to (id, v, nrm). The pair stage shares the
    * same shape as the capped-bucket dedup pipelines; τ here is 0.4 so the
    * gate exercises real prunes on the driver corpus (max pairwise cosine
    * ≈ 0.48).
    */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val assigned = e.join(broadcast(
        e.orderBy(col("vec_id")).limit(IvfK)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))),
        lit(true))
      .withColumn("ccos", cosine(col("cv"), col("cn"), col("v"), col("nrm")))
      .select(col("vec_id"), col("cent_id"), col("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("ccos"), -col("cent_id"))).as("cell"))
    val cellVecs = e.join(assigned, "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val lo = cellVecs.select(col("cell"), col("vec_id").as("keep_id"),
      col("v").as("va"), col("nrm").as("na"))
    val hi = cellVecs.select(col("cell"), col("vec_id").as("drop_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    hi.join(lo, Seq("cell"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos", cosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= 0.4)
      .groupBy(col("cell"), col("drop_id"))
      .agg(min(col("keep_id")).as("keeper_id"),
        min_by(col("cos"), col("keep_id")).as("cos"))
  }

  val semDedupOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |assigned AS (
      |  SELECT e.vec_id, e.v, e.nrm, c.vec_id AS cell
      |  FROM e JOIN (SELECT * FROM e ORDER BY vec_id LIMIT 64) c ON TRUE
      |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
      |    ORDER BY list_dot_product(c.v, e.v) / (c.nrm * e.nrm) DESC, c.vec_id) = 1)
      |SELECT a.cell, b.vec_id AS drop_id,
      |       MIN(a.vec_id) AS keeper_id,
      |       arg_min(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), a.vec_id) AS cos
      |FROM assigned a
      |JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
      |GROUP BY 1, 2""".stripMargin

  /** Catalyst-rewrite gate: a cosine-style query written ENTIRELY with the
    * interpreted higher-order-function dot product — no native expression
    * in the source. In a session built with [[graft.GraftExtensions]], the
    * injected [[graft.RewriteDotProduct]] optimizer rule swaps every
    * `aggregate(zip_with(·,·,*), 0.0, +)` for the codegen'd `graft_dot`;
    * ExtensionsSpec pins the plan substitution, and this gate hash-verifies
    * that a query THROUGH the rewrite still matches DuckDB bit-for-bit
    * (both formulations are the same strict IEEE fold, so the rule firing
    * or not firing must be invisible in results — that invariance is what
    * makes it safe to inject globally).
    */
  def catalystDot(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    e.withColumn("nd", dotHof(col("v"), col("v")))
      .filter(col("nd") > 0)
      .withColumn("cos_self", dotHof(col("v"), col("v"))
        / (sqrt(col("nd")) * sqrt(col("nd"))))
      .select(col("vec_id"), col("nd"), col("cos_self"))
  }

  val catalystDotOracle: String =
    """SELECT vec_id,
      |       list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nd,
      |       list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |            * sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS cos_self
      |FROM embeddings
      |WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0""".stripMargin

  private val NumPlanes = 24
  private val ChunkBits = 8
  private val NumChunks = NumPlanes / ChunkBits

  /** Deterministic ±1 random hyperplane matrix (seeded) — the single
    * generator behind both the typed LSH path and the SQL-registered
    * function (GraftExtensions).
    */
  def planeMatrix(n: Int, dim: Int = 64): Array[Array[Double]] =
    Array.tabulate(n) { p =>
      val rnd = new scala.util.Random(42L * (p + 1))
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  private lazy val planes: Array[Array[Double]] = planeMatrix(NumPlanes)

  /** Random-hyperplane LSH (SimHash-for-vectors): 24-bit signature = sign
    * pattern against fixed ±1 hyperplanes; candidates share one of three
    * 8-bit chunks; candidates verified by exact cosine ≥ 0.9.
    *
    * The 100-TB embedding near-dup path: O(N·planes) signatures +
    * O(candidates) verification, never all-pairs. Sensitivity is tuned for
    * true near-duplicates (theoretical recall ≈ 0.97 at cos 0.99, ≈ 0.8 at
    * cos 0.95 — asserted on planted duplicates in ExtSpec); the driver
    * testdata's max pairwise cosine is ~0.48, so an empty result here is
    * the honest answer. `cosineNearDup` above is the exact ground truth.
    */
  def embedLsh(s: SparkSession, d: String): DataFrame =
    embedLshOver(withNorm(Tables.embeddings(s, d)), threshold = 0.9)

  /** LSH core over a prepared (vec_id, v, nrm) frame — reused by tests.
    *
    * Candidate generation carries IDS ONLY (the vectors re-attach after the
    * candidate set is deduped — shuffling 64-dim arrays through the bucket
    * stage would multiply its width for nothing), and in-bucket pair
    * expansion goes through the same capped policy as the minhash/simhash
    * banding ([[Dedup.cappedBucketPairs]]): a degenerate corpus that piles
    * thousands of near-identical embeddings into one 8-bit chunk bucket
    * generates at most maxBucket²/2 pairs per bucket instead of all-pairs.
    * The signature table is persisted — computed once, read by the bucket
    * stage and both re-attach joins (at 100 TB it's a lake checkpoint).
    */
  def embedLshOver(
      e: DataFrame, threshold: Double,
      maxBucket: Int = Dedup.MaxBucketDefault): DataFrame = {
    val signed = e.withColumn("sig",
      org.apache.spark.sql.graft.VectorFunctions.hyperplaneSig(col("v"), planes))
      .persist()
    embedLshCandidates(signed, maxBucket)
      .join(signed.select(col("vec_id").as("vec_a"),
        col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(signed.select(col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos", cosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Chunk-bucket candidate pairs (ids only, capped per bucket). Exposed for
    * the skew test: candidate counts must stay bounded when a boilerplate
    * cluster of identical embeddings floods one bucket.
    */
  private[graft] def embedLshCandidates(signed: DataFrame, maxBucket: Int): DataFrame = {
    val chunkCols = (0 until NumChunks).map { c =>
      struct(lit(c).as("chunk_idx"),
        shiftright(col("sig"), c * ChunkBits).bitwiseAND(0xFFL).as("chunk_val"))
    }
    val chunks = signed.select(
      // cappedBucketPairs speaks rep_id — same id-ranked cap policy
      col("vec_id").as("rep_id"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("rep_id"), col("ch.chunk_idx"), col("ch.chunk_val"))
    Dedup.cappedBucketPairs(chunks, Seq("chunk_idx", "chunk_val"), maxBucket)
      .select(col("rep_a").as("vec_a"), col("rep_b").as("vec_b"))
  }

  /** The embed-LSH gate on REAL data, as an exact containment contract:
    * bucket recall is probabilistic by design, so the found-pair set is not
    * oracle-able, but (a) every emitted pair must be a true brute-force
    * cosine ≥ 0.9 pair (`false_positives = 0` — the exact-verify stage makes
    * this structural), (b) its cosine must equal the brute-force value
    * bit-for-bit (`value_mismatches = 0`, same IEEE fold both ways), and
    * (c) the brute-force truth count is recomputed independently by the
    * oracle from the raw embeddings — on the driver testdata that count is
    * honestly 0 (max pairwise cosine ~0.48), and the gate proves LSH agrees
    * rather than hallucinating pairs. The planted twin covers recall.
    */
  def embedLshContainment(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val lsh = embedLshOver(e, threshold = 0.9)
    // Exact prefix-bound pruning of the O(N²) truth scan (round 18, the
    // guide's §1.2 "per-task work" step — the all-pairs CONTRACT stays,
    // only the per-pair arithmetic shrinks): by Cauchy-Schwarz,
    //   dot(a,b) ≤ dot(head_a, head_b) + |tail_a|·|tail_b|,
    // so a pair whose 16-dim-prefix bound falls below the threshold
    // (minus a margin vastly exceeding the ~1e-13 relative rounding of a
    // 64-term double dot) cannot reach cos ≥ 0.9 and skips the full
    // 64-dim dot. Survivors are verified with EXACTLY the previous
    // expression, so every emitted value is bit-identical; the bound is
    // an upper bound, so no true pair is pruned — the truth SET is
    // unchanged, proven by the oracle's independent full recompute.
    val Split = 16
    def headTail(df: DataFrame, suffix: String): DataFrame = df.select(
      col("vec_id").as(s"vec_$suffix"), col("v").as(s"v$suffix"),
      col("nrm").as(s"n$suffix"),
      slice(col("v"), 1, Split).as(s"h$suffix"),
      sqrt(greatest(lit(0.0),
        dot(col("v"), col("v")) -
          dot(slice(col("v"), 1, Split), slice(col("v"), 1, Split))))
        .as(s"t$suffix"))
    val a = headTail(e, "a")
    val b = headTail(e, "b")
    val truth = a.join(b, col("vec_a") < col("vec_b"))
      .filter((dot(col("ha"), col("hb")) + col("ta") * col("tb"))
        / (col("na") * col("nb")) >= lit(0.9 - 1e-6))
      .withColumn("true_cos", cosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("true_cos") >= 0.9)
      .select(col("vec_a"), col("vec_b"), col("true_cos"))
    val stats = lsh.join(truth, Seq("vec_a", "vec_b"), "left_outer")
      .agg(
        coalesce(sum(when(col("true_cos").isNull, 1)), lit(0))
          .cast("long").as("false_positives"),
        coalesce(sum(when(col("true_cos").isNotNull
          && col("cos") =!= col("true_cos"), 1)), lit(0))
          .cast("long").as("value_mismatches"))
    stats.crossJoin(truth.agg(count(lit(1)).as("truth_pairs")))
      .select(col("truth_pairs"), col("false_positives"), col("value_mismatches"))
  }

  val embedLshContainmentOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
      |SELECT COUNT(*) AS truth_pairs,
      |       CAST(0 AS BIGINT) AS false_positives,
      |       CAST(0 AS BIGINT) AS value_mismatches
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9""".stripMargin

  /** LSH with PLANTED exact duplicates, hash-verified end-to-end: 100 base
    * vectors from a deterministic LCG (reproducible in SQL with pure integer
    * arithmetic) plus an exact copy of the first 50. Identical vectors get
    * identical signatures, so candidate recall on the planted pairs is
    * exactly 1 — which makes the LSH output equal brute-force cosine ≥
    * threshold, and therefore oracle-checkable (the driver testdata has no
    * near-dups, so `x_embed_lsh`'s honest empty result cannot exercise
    * this path; ExtSpec covers perturbed near-dups where recall < 1).
    */
  def embedLshPlanted(s: SparkSession, d: String): DataFrame = {
    // NONLINEAR mixer (LCG step + xor-shift + multiply + xor-shift), exactly
    // reproducible in SQL via integer ops. A plain LCG is linear, and its
    // lattice structure makes lag-correlated vectors (components shifted by
    // a constant ~5e-4) that cross the 0.999 cosine threshold without being
    // identical — which would make LSH recall probabilistic and the oracle
    // equality unsound. The xor steps destroy the lattice; max non-planted
    // cosine is far below threshold (asserted in ExtSpec).
    def mix(x: Column): Column = {
      val h1 = (lit(1103515245L) * x + lit(12345L)) % lit(2147483648L)
      val h2 = h1.bitwiseXOR(shiftright(h1, 13))
      val h3 = (h2 * lit(69069L)) % lit(2147483648L)
      h3.bitwiseXOR(shiftright(h3, 7))
    }
    def unit(x: Column): Column =
      (mix(x) % lit(2147483648L)).cast("double") / lit(2147483648.0) - lit(0.5)
    val ids = s.range(100).select(col("id").as("vec_id"), col("id").as("src"))
      .unionByName(s.range(50).select((col("id") + 1000).as("vec_id"), col("id").as("src")))
    val vecs = ids
      .withColumn("v", transform(sequence(lit(0), lit(63)),
        j => unit(col("src") * 64 + j)))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"))
    embedLshOver(vecs, threshold = 0.999)
  }

  val embedLshPlantedOracle: String =
    """WITH ids AS (
      |  SELECT id AS vec_id, id AS src FROM range(0, 100) t(id)
      |  UNION ALL
      |  SELECT id + 1000 AS vec_id, id AS src FROM range(0, 50) t(id)),
      |h1 AS (
      |  SELECT vec_id,
      |         [(1103515245 * (src * 64 + j) + 12345) % 2147483648
      |          for j in range(0, 64)] AS hs
      |  FROM ids),
      |h2 AS (SELECT vec_id, [xor(h, h >> 13) for h in hs] AS hs FROM h1),
      |h3 AS (SELECT vec_id, [(h * 69069) % 2147483648 for h in hs] AS hs FROM h2),
      |e AS (
      |  SELECT vec_id,
      |         [CAST(xor(h, h >> 7) AS DOUBLE) / 2147483648.0 - 0.5
      |          for h in hs] AS v
      |  FROM h3),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.999""".stripMargin

  /** Symmetric int8 quantization of the embedding column — the
    * storage/serving compression step of an embedding pipeline (4× smaller
    * than float32, 8× smaller than the double math type). Per-vector scale
    * = max |component| / 127; `floor(x + 0.5)` rounds half-up in exact IEEE
    * arithmetic (`round()` differs between engines, floor does not). The
    * gate reports per-vector reconstruction error, so the oracle verifies
    * quantize AND dequantize bit-exactly.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val scale = aggregate(col("v"), lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / lit(127.0)
    val q = transform(col("v"), x => floor(x / col("scale") + lit(0.5)).cast("int"))
    val deq = transform(col("q"), x => x.cast("double") * col("scale"))
    val err = aggregate(zip_with(col("v"), col("deq"), (a, b) => abs(a - b)),
      lit(0.0), (acc, x) => greatest(acc, x))
    e.withColumn("scale", scale)
      .withColumn("q", q)
      .withColumn("deq", deq)
      .withColumn("max_abs_err", err)
      // the comparer hashes scalar columns only — serialize the int8 vector
      .select(col("vec_id"), col("scale"),
        concat_ws(",", col("q")).as("q_csv"), col("max_abs_err"))
  }

  val embedQuantizeOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |s AS (SELECT vec_id, v,
      |             list_max([abs(x) for x in v]) / 127.0 AS scale FROM e),
      |q AS (SELECT vec_id, v, scale,
      |             [CAST(floor(x / scale + 0.5) AS INT) for x in v] AS q FROM s)
      |SELECT vec_id, scale,
      |       array_to_string(q, ',') AS q_csv,
      |       list_max([abs(v[i] - q[i] * scale) for i in range(1, len(v) + 1)]) AS max_abs_err
      |FROM q""".stripMargin

  /** Product-quantization codebook geometry: 64 dims → 4 subspaces × 16
    * dims, 16 centroids per subspace (8-bit code per vector total). At
    * 100 TB the codebook is k-means-trained; here it is a deterministic
    * sample (subvectors of the 16 lowest vec_ids) so the oracle can
    * rebuild it in SQL — same move as the IVF codebook.
    */
  private[ext] val PqM = 4
  private[ext] val PqSub = 16
  private[ext] val PqK = 16

  /** Squared L2 via the dot identity, in a FIXED expression order —
    * `|a|² − 2a·c + |c|²` — so both engines run the identical IEEE op
    * sequence and distances (hence codes and rankings) are bit-exact.
    */
  private[ext] def l2sq(a: Column, c: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, c) + dot(c, c)

  /** Product-quantization encode + asymmetric-distance (ADC) top-k search —
    * the memory-bound ANN scale path: vectors compress 64×8 bytes → 4
    * codes, and query-time search never touches a raw vector, only a
    * Q×M×K lookup table of precomputed subspace distances.
    *
    * Scale shape: encoding scores N×M subvectors against a broadcast
    * codebook and collapses to one code per (vector, subspace) via a
    * `min(struct(dist, cid))` AGGREGATE — partial aggregation folds the
    * N×M×K scored rows to N×M before the only shuffle, and rows are
    * narrowed to (id, j, dist, cid) first (the IVF lesson: never drag
    * vectors through an aggregate that doesn't need them). ADC search is a
    * broadcast hash join of the code table against the tiny LUT — O(N·M)
    * lookups, zero vector math per candidate, and the per-query sum runs
    * over j-pivoted columns in a fixed order so the float total is
    * engine-exact. Ties (identical codes ⇒ identical ADC) break by
    * neighbor id, matching the oracle.
    */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val subs = e
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(v, j * $PqSub + 1, $PqSub))")))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("sub"))
    val cb = subs.filter(col("vec_id") < PqK)
      .select(col("j").as("cj"), col("vec_id").as("cid"), col("sub").as("csub"))
    val codes = subs.join(broadcast(cb), col("j") === col("cj"))
      .withColumn("dist", l2sq(col("sub"), col("csub")))
      .select(col("vec_id"), col("j"), col("dist"), col("cid"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("j"), col("m.cid").as("code"))
    val lut = subs.filter(isQuery(col("vec_id")))
      .join(broadcast(cb), col("j") === col("cj"))
      .select(col("vec_id").as("q_id"), col("j").as("lj"), col("cid"),
        l2sq(col("sub"), col("csub")).as("qdist"))
    val scored = codes
      .join(broadcast(lut), col("j") === col("lj") && col("code") === col("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(
        max(when(col("j") === 0, col("qdist"))).as("d0"),
        max(when(col("j") === 1, col("qdist"))).as("d1"),
        max(when(col("j") === 2, col("qdist"))).as("d2"),
        max(when(col("j") === 3, col("qdist"))).as("d3"),
        max(when(col("j") === 0, col("code"))).as("c0"),
        max(when(col("j") === 1, col("code"))).as("c1"),
        max(when(col("j") === 2, col("code"))).as("c2"),
        max(when(col("j") === 3, col("code"))).as("c3"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("c0"), col("c1"), col("c2"), col("c3"), col("adc"), col("rk"))
  }

  val annPqOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |subs AS (
      |  SELECT vec_id, j, v[j * 16 + 1 : j * 16 + 16] AS sub
      |  FROM e, (SELECT unnest(generate_series(0, 3)) AS j) t),
      |cb AS (SELECT j AS cj, vec_id AS cid, sub AS csub FROM subs WHERE vec_id < 16),
      |dist AS (
      |  SELECT s.vec_id, s.j, c.cid,
      |         list_dot_product(s.sub, s.sub) - 2.0 * list_dot_product(s.sub, c.csub)
      |           + list_dot_product(c.csub, c.csub) AS dist
      |  FROM subs s JOIN cb c ON s.j = c.cj),
      |codes AS (
      |  SELECT vec_id, j, cid AS code,
      |         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
      |  FROM dist),
      |lut AS (
      |  SELECT s.vec_id AS q_id, s.j, c.cid,
      |         list_dot_product(s.sub, s.sub) - 2.0 * list_dot_product(s.sub, c.csub)
      |           + list_dot_product(c.csub, c.csub) AS qdist
      |  FROM subs s JOIN cb c ON s.j = c.cj
      |  WHERE s.vec_id % 100 = 0 AND s.vec_id < 2000),
      |adc AS (
      |  SELECT l.q_id, k.vec_id,
      |         MAX(CASE WHEN k.j = 0 THEN l.qdist END) AS d0,
      |         MAX(CASE WHEN k.j = 1 THEN l.qdist END) AS d1,
      |         MAX(CASE WHEN k.j = 2 THEN l.qdist END) AS d2,
      |         MAX(CASE WHEN k.j = 3 THEN l.qdist END) AS d3,
      |         MAX(CASE WHEN k.j = 0 THEN k.code END) AS c0,
      |         MAX(CASE WHEN k.j = 1 THEN k.code END) AS c1,
      |         MAX(CASE WHEN k.j = 2 THEN k.code END) AS c2,
      |         MAX(CASE WHEN k.j = 3 THEN k.code END) AS c3
      |  FROM (SELECT * FROM codes WHERE rn = 1) k
      |  JOIN lut l ON l.j = k.j AND l.cid = k.code
      |  WHERE k.vec_id <> l.q_id
      |  GROUP BY 1, 2)
      |SELECT q_id, vec_id AS neighbor_id, c0, c1, c2, c3,
      |       d0 + d1 + d2 + d3 AS adc,
      |       row_number() OVER (PARTITION BY q_id
      |                          ORDER BY d0 + d1 + d2 + d3, vec_id) AS rk
      |FROM adc QUALIFY rk <= 5""".stripMargin

  /** Composed IVF-PQ — the FAISS IVFPQ shape (coarse quantizer + PQ over
    * RESIDUALS + ADC within probed lists), returning the per-query ADC
    * top-5 with each neighbor's cell. Shared core of [[annIvfPq]] and
    * [[annIvfPqRecall]].
    *
    * Why the composition matters at 100 TB: IVF alone prunes the search to
    * nprobe/K of the corpus but stores FULL vectors (memory ∝ N·dim·8 B);
    * PQ alone compresses 64×8 B → 4 codes but scans EVERYTHING. Composed,
    * the index is nprobe/K of the scan over 4-byte codes — both axes cut.
    * Quantizing the RESIDUAL v − c(cell) instead of v is what makes the
    * codebook spend its 16 entries on the within-cell spread rather than
    * re-describing the coarse structure the centroid already removed.
    *
    * Scale shape: every stage is a broadcast join against an O(1) table —
    * the 64-row centroid codebook, the 64-row residual codebook, the
    * Q·nprobe·M·K (= 5120-row) LUT — so the corpus never shuffles except
    * the two narrow encode aggregates (`min(struct)` with partial
    * aggregation, rows pre-narrowed to ids+dist: the [[annIvf]] lesson).
    * Query-time ADC is per-PROBED-CELL: each probed cell gets its own LUT
    * from the query's residual to THAT centroid (the textbook IVFPQ ADC),
    * and a candidate appears exactly once because a vector lives in one
    * cell. Codebooks are deterministic samples (residual subvectors of the
    * PqK lowest vec_ids — the same convention as [[annIvf]]/[[annPq]]) so
    * the oracle rebuilds them in SQL; distances use [[l2sq]]'s fixed IEEE
    * order, making codes, ADC sums, and ranks engine-exact.
    */
  private[ext] def ivfPqTopK(s: SparkSession, d: String): DataFrame =
    ivfPqTopKImpl(s, d, candLabels = None)

  /** The shared frames of one IVF-PQ index build + search, so consumer
    * gates (recall, rerank) express their bookkeeping against the same
    * logical subtrees as the retrieved set — duplicate exchange subtrees
    * dedupe at runtime (ReusedExchange), and sharing the frames keeps the
    * duplicates bit-identical by construction.
    */
  private[ext] case class IvfPqBuild(
      e: DataFrame, cents: DataFrame, assigned: DataFrame,
      probes: DataFrame, topk: DataFrame)

  /** [[ivfPqTopK]] with an optional metadata PRE-filter: when `candLabels`
    * is set, the codes (index) table — which stores each vector's `label`
    * attribute beside its PQ codes, exactly so this is possible — is
    * filtered to qualifying labels BEFORE the LUT join and ADC aggregate.
    * The top-5 window then ranks qualifying candidates only, so every
    * query still gets its full k (the post-filter trap — rank first,
    * filter after — silently returns < k and loses recall; see
    * [[annIvfPqFilteredRecall]] for the measured contract). Models
    * (centroids, residual codebook) stay trained on the FULL corpus: the
    * filter is a query-time predicate, not a different index.
    */
  private[ext] def ivfPqTopKImpl(
      s: SparkSession, d: String, candLabels: Option[Seq[Int]]): DataFrame =
    ivfPqBuild(s, d, candLabels).topk

  private[ext] def ivfPqBuild(
      s: SparkSession, d: String, candLabels: Option[Seq[Int]]): IvfPqBuild = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.orderBy(col("vec_id")).limit(IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = ivfAssigned(e, cents)
    // residuals to the ASSIGNED centroid, sliced into PqM subvectors
    val rsubs = assigned.join(broadcast(cents), "cent_id")
      .select(col("vec_id"), col("label"), col("cent_id"),
        zip_with(col("v"), col("cv"), (x, y) => x - y).as("r"))
      .select(col("vec_id"), col("label"), col("cent_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(r, j * $PqSub + 1, $PqSub))")))
      .select(col("vec_id"), col("label"), col("cent_id"),
        col("pos").as("j"), col("col").as("rsub"))
    // residual codebook: deterministic sample, PqK entries per subspace
    val cb = rsubs.filter(col("vec_id") < PqK)
      .select(col("j").as("cj"), col("vec_id").as("cid"), col("rsub").as("csub"))
    // encode: nearest residual-codebook entry per (vector, subspace) —
    // narrow rows through the aggregate, vectors never ride the shuffle.
    // `label` rides the group key (functionally dependent on vec_id, so
    // it costs nothing) into the stored codes: the index carries its
    // filterable attributes, the production filtered-ANN layout.
    val codesAll = rsubs.join(broadcast(cb), col("j") === col("cj"))
      .withColumn("dist", l2sq(col("rsub"), col("csub")))
      .select(col("vec_id"), col("label"), col("cent_id"), col("j"),
        col("dist"), col("cid"))
      .groupBy(col("vec_id"), col("label"), col("cent_id"), col("j"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("label"), col("cent_id"), col("j"),
        col("m.cid").as("code"))
    // metadata PRE-filter: prune the candidate codes before any ADC work —
    // at 100 TB this predicate reaches the codes-table scan (parquet
    // pushdown on the label column), so a 10%-selective filter does 10%
    // of the ADC arithmetic instead of ranking and then discarding
    val codes = candLabels.fold(codesAll)(ls =>
      codesAll.filter(col("label").isin(ls: _*)))
    // per-(query, probed cell) LUT over the QUERY's residual to that cell
    val probes = queryProbes(e, cents, nprobe = 4).drop("prk")
    val lut = probes
      .join(e.filter(isQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(broadcast(cents), col("probe_cell") === col("cent_id"))
      .select(col("q_id"), col("probe_cell"),
        zip_with(col("qv"), col("cv"), (x, y) => x - y).as("qr"))
      .select(col("q_id"), col("probe_cell"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(qr, j * $PqSub + 1, $PqSub))")))
      .select(col("q_id"), col("probe_cell"), col("pos").as("lj"), col("col").as("qsub"))
      .join(broadcast(cb), col("lj") === col("cj"))
      .select(col("q_id"), col("probe_cell"), col("lj"), col("cid"),
        l2sq(col("qsub"), col("csub")).as("qdist"))
    // ADC: candidates are the probed cells' code rows; the j-pivoted sum
    // runs in a fixed column order so the float total is engine-exact
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val topk = codes
      .join(broadcast(lut),
        col("cent_id") === col("probe_cell") && col("j") === col("lj") &&
          col("code") === col("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"), col("cent_id"))
      .agg(
        max(when(col("j") === 0, col("qdist"))).as("d0"),
        max(when(col("j") === 1, col("qdist"))).as("d1"),
        max(when(col("j") === 2, col("qdist"))).as("d2"),
        max(when(col("j") === 3, col("qdist"))).as("d3"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("cent_id").as("cell"), col("adc"), col("rk"))
    IvfPqBuild(e, cents, assigned, probes, topk)
  }

  def annIvfPq(s: SparkSession, d: String): DataFrame = ivfPqTopK(s, d)

  /** The label set for the filtered-ANN gates: ~20% of the corpus
    * (labels are 0-9, near-uniform), so the filter genuinely prunes.
    */
  private[ext] val FilteredAnnLabels = Seq(2, 5)

  /** Filtered ANN — vector search under a metadata predicate, the
    * dominant production vector-search pattern: "nearest neighbors of q
    * AMONG vectors with label ∈ {2, 5}". Pre-filtering semantics: the
    * predicate prunes the codes table BEFORE ADC scoring (the index
    * stores the label beside the codes for exactly this), so the top-5
    * ranks qualifying vectors only and each query receives its full k.
    * The alternative — rank the unfiltered corpus, filter the top-k
    * after — returns however many qualifying rows happened to land in
    * the global top-k (usually fewer than k, sometimes zero): the
    * post-filter recall trap this gate's shape avoids by construction.
    */
  def annIvfPqFiltered(s: SparkSession, d: String): DataFrame =
    ivfPqTopKImpl(s, d, candLabels = Some(FilteredAnnLabels))

  lazy val annIvfPqFilteredOracle: String =
    ivfPqSql(
      s"k.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (2, 5))") +
      "\nSELECT q_id, neighbor_id, cell, adc, rk FROM topk"

  /** Recall contract for FILTERED search, against filtered brute force:
    * truth is each query's exact cosine top-3 AMONG label-qualifying
    * vectors; `hits_cells` counts truth neighbors in a probed cell (the
    * coarse stage's ceiling — unchanged by the filter, since probing is
    * query-side), `hits_adc` counts truth neighbors the filtered index
    * actually returns. Pre-filtering keeps hits_adc close to the
    * unfiltered gate's recall; a post-filtered implementation would show
    * hits_adc collapsing toward zero here (qualifying vectors rarely
    * survive an unfiltered top-5), which is why the contract is measured
    * against FILTERED truth rather than asserted.
    */
  def annIvfPqFilteredRecall(s: SparkSession, d: String): DataFrame = {
    // one shared build: the retrieved set and the recall bookkeeping
    // reference the same logical subtrees (duplicates dedupe at runtime
    // via exchange reuse; sharing keeps them bit-identical by construction)
    val b = ivfPqBuild(s, d, candLabels = Some(FilteredAnnLabels))
    val e = b.e
    val assigned = b.assigned.select(col("vec_id"), col("cent_id"))
    val probes = b.probes.withColumnRenamed("q_id", "pq_id")
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wT = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    // FILTERED ground truth: brute-force cosine over qualifying vectors
    val truth = e.filter(col("label").isin(FilteredAnnLabels: _*))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .withColumn("trk", row_number().over(wT))
      .filter(col("trk") <= 3)
      .select(col("q_id"), col("vec_id"))
    val retrieved = b.topk
      .select(col("q_id").as("rq_id"), col("neighbor_id"))
    truth.join(assigned, Seq("vec_id"))
      .join(broadcast(probes),
        col("pq_id") === col("q_id") && col("probe_cell") === col("cent_id"), "left")
      .join(broadcast(retrieved),
        col("rq_id") === col("q_id") && col("neighbor_id") === col("vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("truth_k"),
        coalesce(sum(when(col("probe_cell").isNotNull, 1)), lit(0))
          .cast("long").as("hits_cells"),
        coalesce(sum(when(col("neighbor_id").isNotNull, 1)), lit(0))
          .cast("long").as("hits_adc"))
  }

  lazy val annIvfPqFilteredRecallOracle: String =
    ivfPqSql(
      s"k.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (2, 5))") +
      """,
        |truth AS MATERIALIZED (
        |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id
        |  FROM (SELECT * FROM e WHERE vec_id % 100 = 0 AND vec_id < 2000) q
        |  JOIN e ON e.vec_id <> q.vec_id
        |  WHERE e.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (2, 5))
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC,
        |             e.vec_id) <= 3),
        |tc AS MATERIALIZED (
        |  SELECT t.q_id, t.neighbor_id, a.cent_id
        |  FROM truth t JOIN assigned a ON a.vec_id = t.neighbor_id)
        |SELECT tc.q_id, COUNT(*) AS truth_k,
        |       CAST(COALESCE(SUM(CASE WHEN p.probe_cell IS NOT NULL THEN 1 END), 0)
        |            AS BIGINT) AS hits_cells,
        |       CAST(COALESCE(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 END), 0)
        |            AS BIGINT) AS hits_adc
        |FROM tc
        |LEFT JOIN probes p ON p.q_id = tc.q_id AND p.probe_cell = tc.cent_id
        |LEFT JOIN topk r ON r.q_id = tc.q_id AND r.neighbor_id = tc.neighbor_id
        |GROUP BY 1""".stripMargin

  /** The shared oracle prefix rebuilding the IVFPQ index + search in SQL —
    * every CTE MATERIALIZED (DuckDB re-inlines plain CTEs per reference;
    * this chain is deep enough to compound). `candFilter` restricts the
    * ADC candidate set (erasure oracles exclude erased ids; `TRUE`
    * everywhere else — centroids and the residual codebook stay trained
    * on the FULL corpus either way, matching the frozen-model contract).
    */
  private[ext] def ivfPqSql(candFilter: String): String =
    ivfPqSqlPrefixRaw.replace("__CAND_FILTER__", candFilter)

  private[ext] lazy val ivfPqSqlPrefix: String = ivfPqSql("TRUE")

  private val ivfPqSqlPrefixRaw: String =
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |cents AS MATERIALIZED (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e ORDER BY vec_id LIMIT 64),
      |cscored AS MATERIALIZED (
      |  SELECT e.vec_id, c.cent_id,
      |         list_dot_product(c.cv, e.v) / (c.cn * e.nrm) AS ccos
      |  FROM e JOIN cents c ON TRUE),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, cent_id FROM cscored
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |                             ORDER BY ccos DESC, cent_id) = 1),
      |rsubs AS MATERIALIZED (
      |  SELECT e.vec_id, a.cent_id, t.j,
      |         (list_transform(generate_series(1, 64), i -> e.v[i] - c.cv[i]))
      |           [t.j * 16 + 1 : t.j * 16 + 16] AS rsub
      |  FROM e JOIN assigned a ON a.vec_id = e.vec_id
      |  JOIN cents c ON c.cent_id = a.cent_id,
      |       (SELECT unnest(generate_series(0, 3)) AS j) t),
      |cb AS MATERIALIZED (
      |  SELECT j AS cj, vec_id AS cid, rsub AS csub FROM rsubs WHERE vec_id < 16),
      |codes AS MATERIALIZED (
      |  SELECT vec_id, cent_id, j, cid AS code FROM (
      |    SELECT s.vec_id, s.cent_id, s.j, c.cid,
      |           list_dot_product(s.rsub, s.rsub)
      |             - 2.0 * list_dot_product(s.rsub, c.csub)
      |             + list_dot_product(c.csub, c.csub) AS dist
      |    FROM rsubs s JOIN cb c ON s.j = c.cj)
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) = 1),
      |probes AS MATERIALIZED (
      |  SELECT vec_id AS q_id, cent_id AS probe_cell FROM cscored
      |  WHERE vec_id % 100 = 0 AND vec_id < 2000
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |                             ORDER BY ccos DESC, cent_id) <= 4),
      |lut AS MATERIALIZED (
      |  SELECT s.q_id, s.probe_cell, s.j, c.cid,
      |         list_dot_product(s.qsub, s.qsub)
      |           - 2.0 * list_dot_product(s.qsub, c.csub)
      |           + list_dot_product(c.csub, c.csub) AS qdist
      |  FROM (SELECT p.q_id, p.probe_cell, t.j,
      |               (list_transform(generate_series(1, 64), i -> q.v[i] - c.cv[i]))
      |                 [t.j * 16 + 1 : t.j * 16 + 16] AS qsub
      |        FROM probes p JOIN e q ON q.vec_id = p.q_id
      |        JOIN cents c ON c.cent_id = p.probe_cell,
      |             (SELECT unnest(generate_series(0, 3)) AS j) t) s
      |  JOIN cb c ON s.j = c.cj),
      |topk AS MATERIALIZED (
      |  SELECT q_id, vec_id AS neighbor_id, cell, d0 + d1 + d2 + d3 AS adc,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY d0 + d1 + d2 + d3, vec_id) AS rk
      |  FROM (
      |    SELECT l.q_id, k.vec_id, k.cent_id AS cell,
      |           MAX(CASE WHEN k.j = 0 THEN l.qdist END) AS d0,
      |           MAX(CASE WHEN k.j = 1 THEN l.qdist END) AS d1,
      |           MAX(CASE WHEN k.j = 2 THEN l.qdist END) AS d2,
      |           MAX(CASE WHEN k.j = 3 THEN l.qdist END) AS d3
      |    FROM codes k
      |    JOIN lut l ON l.probe_cell = k.cent_id AND l.j = k.j AND l.cid = k.code
      |    WHERE k.vec_id <> l.q_id AND (__CAND_FILTER__)
      |    GROUP BY 1, 2, 3)
      |  QUALIFY rk <= 5)""".stripMargin

  val annIvfPqOracle: String =
    ivfPqSqlPrefix + "\nSELECT q_id, neighbor_id, cell, adc, rk FROM topk"

  /** The recall CONTRACT for the composed index, splitting the two loss
    * sources: per query, of the brute-force cosine top-3 (truth) —
    *  - `hits_cells`: truth neighbors living in a probed cell (what the
    *    COARSE stage admits — IVF loss alone, the [[annIvfRecall]] bound);
    *  - `hits_adc`: truth neighbors the composed index actually RETURNS in
    *    its ADC top-5 (coarse loss + quantization loss together).
    * hits_adc ≤ hits_cells ≤ truth_k by construction; the gap between the
    * two IS the PQ approximation cost, measured rather than asserted.
    */
  def annIvfPqRecall(s: SparkSession, d: String): DataFrame = {
    // one shared build (see annIvfPqFilteredRecall's note)
    val b = ivfPqBuild(s, d, candLabels = None)
    val e = b.e
    val assigned = b.assigned.select(col("vec_id"), col("cent_id"))
    val probes = b.probes.withColumnRenamed("q_id", "pq_id")
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wT = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .withColumn("trk", row_number().over(wT))
      .filter(col("trk") <= 3)
      .select(col("q_id"), col("vec_id"))
    val retrieved = b.topk
      .select(col("q_id").as("rq_id"), col("neighbor_id"))
    truth.join(assigned, Seq("vec_id"))
      .join(broadcast(probes),
        col("pq_id") === col("q_id") && col("probe_cell") === col("cent_id"), "left")
      .join(broadcast(retrieved),
        col("rq_id") === col("q_id") && col("neighbor_id") === col("vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("truth_k"),
        coalesce(sum(when(col("probe_cell").isNotNull, 1)), lit(0))
          .cast("long").as("hits_cells"),
        coalesce(sum(when(col("neighbor_id").isNotNull, 1)), lit(0))
          .cast("long").as("hits_adc"))
  }

  val annIvfPqRecallOracle: String =
    ivfPqSqlPrefix +
      """,
        |truth AS MATERIALIZED (
        |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id
        |  FROM (SELECT * FROM e WHERE vec_id % 100 = 0 AND vec_id < 2000) q
        |  JOIN e ON e.vec_id <> q.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC,
        |             e.vec_id) <= 3),
        |tc AS MATERIALIZED (
        |  SELECT t.q_id, t.neighbor_id, a.cent_id
        |  FROM truth t JOIN assigned a ON a.vec_id = t.neighbor_id)
        |SELECT tc.q_id, COUNT(*) AS truth_k,
        |       CAST(COALESCE(SUM(CASE WHEN p.probe_cell IS NOT NULL THEN 1 END), 0)
        |            AS BIGINT) AS hits_cells,
        |       CAST(COALESCE(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 END), 0)
        |            AS BIGINT) AS hits_adc
        |FROM tc
        |LEFT JOIN probes p ON p.q_id = tc.q_id AND p.probe_cell = tc.cent_id
        |LEFT JOIN topk r ON r.q_id = tc.q_id AND r.neighbor_id = tc.neighbor_id
        |GROUP BY 1""".stripMargin

  /** Two-stage retrieval — ADC shortlist, EXACT re-rank: the composed
    * IVFPQ index ([[ivfPqTopK]]) produces a cheap top-5 shortlist from
    * 4-byte codes; this gate re-scores exactly those candidates with the
    * TRUE cosine against the raw vectors and returns the top-3. The
    * standard production shape: quantized distances order the haystack,
    * exact math orders the needle — total exact work is O(Q·shortlist),
    * independent of the corpus, and the raw-vector fetch is a plain
    * N-row join on vec_id (at 100 TB: a key-pruned point lookup per
    * candidate, not a scan). Re-ranking repairs ADC's quantization-order
    * errors inside the shortlist for free; what it cannot repair —
    * truth missing from the shortlist entirely — is exactly what
    * [[annIvfPqRecall]]'s hits_adc measures.
    */
  def annIvfPqRerank(s: SparkSession, d: String): DataFrame = {
    // one shared build (see annIvfPqFilteredRecall's note)
    val b = ivfPqBuild(s, d, candLabels = None)
    val e = b.e
    val shortlist = b.topk.select(col("q_id"), col("neighbor_id"))
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("neighbor_id"), col("cos"), col("rk"))
  }

  val annIvfPqRerankOracle: String =
    ivfPqSqlPrefix +
      """
        |SELECT q_id, neighbor_id, cos, rrk AS rk FROM (
        |  -- distinct rank alias: a bare `rk` in QUALIFY would resolve to
        |  -- topk's OWN rk column (the ADC rank), not this rerank rank
        |  SELECT t.q_id, t.neighbor_id,
        |         list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos,
        |         row_number() OVER (PARTITION BY t.q_id
        |           ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC,
        |                    t.neighbor_id) AS rrk
        |  FROM topk t
        |  JOIN e q ON q.vec_id = t.q_id
        |  JOIN e ON e.vec_id = t.neighbor_id)
        |WHERE rrk <= 3""".stripMargin

  /** Hard-negative mining for contrastive training: for each anchor in
    * the fixed query batch, emit a TRIPLET SET — the single most-similar
    * SAME-label vector (the positive) joined with the 3 most-similar
    * DIFFERENT-label vectors (the hard negatives: high cosine but wrong
    * class, exactly the examples a contrastive loss learns most from;
    * random negatives are trivially separable and teach nothing). One
    * broadcast of the fixed query batch scores both sides in a single
    * pass; anchors lacking a same-label peer drop (no positive → no
    * triplet). Brute-force over the corpus is the verification baseline —
    * at 100 TB the candidate set comes from the multiprobe IVF index
    * (`x_ann_ivf_multiprobe`) with the label filter applied post-probe,
    * same top-k shape per anchor.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    // the O(Q·N) scoring pass is narrowed to the 5 columns the windows
    // need — the 64-dim vectors would otherwise ride both window sorts
    // for nothing (guide §2.3)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("qn"), col("v"), col("nrm")))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"), col("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val negs = scored.filter(col("label") =!= col("q_label"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("vec_id").as("neg_id"), col("cos").as("neg_cos"), col("rk"))
    val pos = scored.filter(col("label") === col("q_label"))
      .withColumn("prk", row_number().over(w))
      .filter(col("prk") === 1)
      .select(col("q_id"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
    negs.join(pos, Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"), col("rk"))
  }

  val hardNegativesOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |scored AS (
      |  SELECT q.vec_id AS q_id, q.label AS q_label, e.vec_id, e.label,
      |         list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos
      |  FROM (SELECT * FROM e WHERE vec_id % 100 = 0 AND vec_id < 2000) q
      |  JOIN e ON e.vec_id <> q.vec_id),
      |negs AS (
      |  SELECT q_id, vec_id AS neg_id, cos AS neg_cos,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored WHERE label <> q_label QUALIFY rk <= 3),
      |pos AS (
      |  SELECT q_id, vec_id AS pos_id, cos AS pos_cos
      |  FROM scored WHERE label = q_label
      |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) = 1)
      |SELECT n.q_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos, n.rk
      |FROM negs n JOIN pos p USING (q_id)""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "x_hard_negatives" -> (hardNegatives _),
    "x_kmeans" -> (kmeansTrain _),
    "x_semdedup" -> (semDedup _),
    "x_ann_pq" -> (annPq _),
    "x_embed_quantize" -> (embedQuantize _),
    "x_ann_topk" -> (annTopK _),
    "x_embed_neardup" -> (cosineNearDup _),
    "x_embed_lsh" -> (embedLshContainment _),
    "x_embed_lsh_planted" -> (embedLshPlanted _),
    "x_catalyst_dot" -> (catalystDot _),
    "x_ann_ivf" -> (annIvf _),
    "x_ann_ivf_multiprobe" -> (annIvfMultiprobe _),
    "x_ann_ivf_recall" -> (annIvfRecall _),
    "x_ann_ivfpq" -> (annIvfPq _),
    "x_ann_ivfpq_recall" -> (annIvfPqRecall _),
    "x_ann_ivfpq_rerank" -> (annIvfPqRerank _),
    "x_ann_filtered" -> (annIvfPqFiltered _),
    "x_ann_filtered_recall" -> (annIvfPqFilteredRecall _))

  val oracles: Map[String, String] = Map(
    "x_hard_negatives" -> hardNegativesOracle,
    "x_kmeans" -> kmeansTrainOracle,
    "x_semdedup" -> semDedupOracle,
    "x_ann_pq" -> annPqOracle,
    "x_embed_quantize" -> embedQuantizeOracle,
    "x_ann_topk" -> annTopKOracle,
    "x_embed_neardup" -> cosineNearDupOracle,
    "x_embed_lsh" -> embedLshContainmentOracle,
    "x_embed_lsh_planted" -> embedLshPlantedOracle,
    "x_catalyst_dot" -> catalystDotOracle,
    "x_ann_ivf" -> annIvfOracle,
    "x_ann_ivf_multiprobe" -> annIvfMultiprobeOracle,
    "x_ann_ivf_recall" -> annIvfRecallOracle,
    "x_ann_ivfpq" -> annIvfPqOracle,
    "x_ann_ivfpq_recall" -> annIvfPqRecallOracle,
    "x_ann_ivfpq_rerank" -> annIvfPqRerankOracle,
    "x_ann_filtered" -> annIvfPqFilteredOracle,
    "x_ann_filtered_recall" -> annIvfPqFilteredRecallOracle)
}
