package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Q.QueryFn

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline at 100 TB.
  *
  * Scale design:
  *  - Exact dedup is a hash-groupBy: one shuffle keyed on the 256-bit
  *    fingerprint; group cardinality ≈ distinct docs, never wider than input.
  *  - MinHash+LSH is the scalable near-dup path: exact-dup pre-collapse →
  *    shingle → 32 minhashes → 8 bands of 4 → candidates are pairs sharing
  *    a band bucket, with a per-bucket cap bounding skew (boilerplate
  *    clusters). Work is O(docs × shingles) + O(candidate pairs); there is
  *    no all-pairs stage. The verify stage bounds false positives.
  *  - SimHash gives a 64-bit sketch; the 4×16-bit chunk-band trick finds all
  *    pairs within Hamming distance 3 (pigeonhole) without an all-pairs scan.
  *  - The brute-force n-gram Jaccard operator is intentionally restricted to
  *    a bounded slice (doc_id < 300) — it is the oracle/verification path,
  *    not the scale path.
  */
object Dedup {

  /** Word 3-gram shingle set (distinct, first-occurrence order) of a text
    * column — the hottest scalar kernel of every dedup pipeline. A native
    * codegen'd expression ([[org.apache.spark.sql.graft.Shingles3]]): no
    * ScalaUDF converter stack, no interpreted HOF lambda per element, stays
    * inside whole-stage codegen (Plans.md pins the UDF-free plan).
    * `split(" ", -1)` keeps trailing empties and NULL propagates to NULL,
    * so outputs are identical to the former UDF, the HOF formulation, and
    * the DuckDB oracles built on `string_split` — including on null text.
    */
  def shingles(text: Column): Column =
    org.apache.spark.sql.graft.TextExpressions.shingles3(text)

  /** Exact dedup groups: fingerprint → surviving doc_id + duplicate count. */
  def exactGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(sha2(col("text"), 256).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  val exactGroupsOracle: String =
    """SELECT sha256(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
      |FROM documents GROUP BY 1""".stripMargin

  /** Exact dedup survivors: first doc_id per identical text. */
  def exactSurvivors(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  val exactSurvivorsOracle: String =
    """SELECT doc_id, lang, source FROM documents
      |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin

  /** Brute-force n-gram Jaccard near-dup pairs on a bounded slice —
    * all-pairs × array_intersect; the ground-truth/verification operator.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .filter(col("inter") > 0)
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= 0.35)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  val ngramJaccardOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |           ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                 for i in range(1, len(ws) - 1)] END) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE doc_id < 300))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM sh a, sh b
      |WHERE a.doc_id < b.doc_id
      |  AND len(list_intersect(a.sh, b.sh)) > 0
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35""".stripMargin

  val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands

  /** Default per-band bucket cap for LSH candidate generation — see
    * [[minhashLshOver]]. 64 keeps per-bucket pair work ≤ 64²/2 = 2k pairs.
    */
  val MaxBucketDefault = 64

  /** splitmix64 avalanche: derives the i-th of the 32 hash functions from ONE
    * base hash of the shingle — each shingle string is hashed exactly once.
    */
  private[ext] def mix(h0: Long): Long = {
    var h = h0 + 0x9e3779b97f4a7c15L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Custom typed aggregate computing all 32 minima in one buffer. A
    * 32-column `min(...)` aggregate works, but its generated code is huge
    * (Janino compile time dominated the whole pipeline); this Aggregator is
    * one JIT-compiled Scala loop with a 32-slot array buffer.
    */
  object MinHashAgg extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.fill(NumHashes)(Long.MaxValue)
    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var x = h
      var i = 0
      while (i < NumHashes) {
        x = mix(x)
        if (x < buf(i)) buf(i) = x
        i += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < NumHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** MinHash signatures: doc_id → sig array<long>[32] over the shingle set.
    * One explode + one groupBy with the compact custom aggregate. This is
    * the streaming-friendly form (partial aggregation works per batch); the
    * batch LSH pipeline below uses the shuffle-free [[sigOfHashes]] instead.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // Small single-file inputs arrive as ONE partition; fan out before the
    // per-doc shingling lambda or it runs serially on one core.
    val fanout = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val minhash = udaf(MinHashAgg)
    fanout
      // outer generate + explicit null filter: a plain explode would infer a
      // size(shingles(text)) > 0 filter and push it BELOW the fan-out
      // repartition, re-running the shingle lambda serially (see
      // decontaminate for the same trap)
      .select(col("doc_id"), explode_outer(shingles(col("text"))).as("shingle"))
      .filter(col("shingle").isNotNull)
      .withColumn("h", xxhash64(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(minhash(col("h")).as("sig"))
  }

  /** Scalar signature kernel: the full 32-slot min loop over a doc's shingle
    * hashes in ONE projection — no explode, no aggregation shuffle. Same
    * hash chain as [[MinHashAgg]] (splitmix64 over xxhash64), so the two
    * paths produce identical signatures. A native codegen'd expression
    * ([[org.apache.spark.sql.graft.MinhashSig]]) reading primitive longs
    * straight from ArrayData — the former ScalaUDF boxed every hash into a
    * Seq[Long] through the converter layer; the input hashes come from the
    * codegen'd `xxhash64` via a `transform`.
    */
  private[ext] def sigOfHashes(hashes: Column): Column =
    org.apache.spark.sql.graft.TextExpressions.minhashSig(hashes)

  /** MinHash + LSH near-dup pairs over the documents table — the registry
    * gate. Runs the exact production pipeline shape (exact-dup collapse →
    * signature → capped band buckets → Jaccard verify → capped algebraic
    * re-expansion) but with the PORTABLE hash family ([[portableH]]) in
    * place of xxhash64/splitmix64, so the DuckDB oracle can recompute the
    * entire pipeline from first principles and hash-verify the pair set
    * bit-for-bit ([[minhashLshOracle]]). The xxhash64 family stays the
    * library default ([[minhashLshOver]]) and is itself hash-verified by
    * the planted and containment gates, whose guarantees are
    * hash-function-independent.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshPortable(Tables.documents(s, d))

  /** Exact-duplicate collapse shared by the near-dup pipelines: one row per
    * distinct text (`rep_id` = min doc_id, carrying the text and member
    * count `k`) plus the doc→rep membership table. ONE shuffle keyed on the
    * content fingerprint — the same cost exact dedup already pays.
    */
  private[ext] def collapseExact(docs0: DataFrame): (DataFrame, DataFrame) = {
    // no pre-repartition: only the cheap sha2 projection runs before the
    // fp-shuffle; all expensive work (shingling, sketching) lands on the
    // post-shuffle side, and at scale scan splits parallelize the map
    val docs = docs0
      .select(col("doc_id"), col("text"), sha2(col("text"), 256).as("fp"))
    val groups = docs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_id"),
        first(col("text")).as("text"), // texts in a fp-group are identical
        count(lit(1)).as("k"))
    val members = docs.select(col("doc_id"), col("fp"))
      .join(groups.select(col("fp"), col("rep_id"), col("k")), "fp")
    (groups, members)
  }

  /** Expand rep-level near-dup pairs back to member pairs after a collapsed
    * pipeline: within-group pairs score `withinScore` (identical texts);
    * cross-group member pairs inherit their reps' score. `dupReps`
    * restricts which groups generate within-pairs (e.g. minhash excludes
    * shingle-less texts, which its signature path never sees).
    *
    * The expansion is capped by the same policy as the band buckets: only
    * the first `maxBucket` members (by doc_id) of a group participate, so
    * a 1M-member boilerplate group emits ≤ cap²/2 within-pairs instead of
    * 5·10¹¹ on one shuffle key — pair output stays linear-ish in input,
    * and the FULL membership of a capped group remains recoverable from
    * [[exactGroups]] (pairs among exact duplicates carry no information
    * beyond the group listing).
    */
  private def expandPairs(
      members: DataFrame, repPairs: DataFrame, scoreName: String,
      withinScore: Column, dupReps: DataFrame, maxBucket: Int): DataFrame = {
    val mw = Window.partitionBy(col("rep_id"))
    val capped = members
      .withColumn("_mrn", row_number().over(mw.orderBy(col("doc_id"))))
      .filter(col("_mrn") <= maxBucket)
      .select(col("rep_id"), col("doc_id"), col("k"))
    val dupMembers = capped.filter(col("k") > 1)
      .join(dupReps.select(col("rep_id")), "rep_id")
      .select(col("rep_id"), col("doc_id"))
    val within = dupMembers.as("p")
      .join(dupMembers.as("q"),
        col("p.rep_id") === col("q.rep_id") && col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"),
        withinScore.as(scoreName))
    val m = capped.select(col("doc_id"), col("rep_id"))
    val cross = repPairs
      .join(m.select(col("doc_id").as("a_id"), col("rep_id").as("rep_a")), "rep_a")
      .join(m.select(col("doc_id").as("b_id"), col("rep_id").as("rep_b")), "rep_b")
      .select(least(col("a_id"), col("b_id")).as("doc_a"),
        greatest(col("a_id"), col("b_id")).as("doc_b"), col(scoreName))
    within.unionByName(cross)
  }

  /** MinHash + LSH near-dup pairs, scale-safe form:
    *
    *  1. '''Exact-duplicate pre-collapse''': docs are grouped by content
    *     fingerprint and only one representative per distinct text enters
    *     the LSH pipeline. A 100 TB crawl corpus is typically 20-50% exact
    *     dups clustered on boilerplate; without this step every k-dup group
    *     lands in the same bucket in all 8 bands and yields 8·k² candidate
    *     pairs. After collapse, member pairs are re-expanded algebraically
    *     (identical texts have Jaccard exactly 1.0).
    *  2. '''One shingle pass''': the representatives' shingle arrays are
    *     computed once and persisted; the signature stage and the verify
    *     stage both read that cache instead of re-shingling.
    *  3. '''Band-bucket cap''': within each (band, hash) bucket, members are
    *     ranked and only the first `maxBucket` generate pairs, bounding
    *     per-bucket work at maxBucket²/2 regardless of skew. Near-dup
    *     clusters larger than the cap still connect through their retained
    *     members (and the pre-collapse already removed the exact-dup mass);
    *     bounded-candidate behavior on a planted boilerplate cluster is
    *     pinned in ExtSpec via [[lshCandidates]].
    *  4. Pair generation is a per-bucket `collect_list` (bounded by the cap)
    *     + combination expansion — same shuffle key as the ranking window,
    *     no self-join re-shuffle, never an all-pairs stage.
    *
    * The persisted rep table lives until the session ends (there is no
    * sound point to unpersist a lazily-consumed result); it is one row per
    * DISTINCT text, and the 100 TB deployment writes this intermediate to
    * the lake (checkpoint) instead of executor memory.
    */
  def minhashLshOver(docs0: DataFrame, maxBucket: Int = MaxBucketDefault): DataFrame =
    minhashLshPipeline(docs0, maxBucket,
      sign = _.withColumn("sig", sigOfHashes(transform(col("sh"), sv => xxhash64(sv)))),
      bandKey = xxhashBandKey)

  /** 60-bit portable base hashes (h0, h1) of a string from ONE md5 —
    * reproducible bit-for-bit in DuckDB (`('0x' || substr(md5(s), …))
    * ::BIGINT`), unlike xxhash64/splitmix64 which no other engine
    * implements. h0 = hex chars 1-15 (60 bits), h1 = chars 16-29 (56
    * bits); the Kirsch–Mitzenmacher double-hash family h_i = h0 + i·h1
    * stays below 2^62 for i < 32, so there is no wrap in Spark and no
    * checked-overflow error in DuckDB.
    */
  private[ext] def portableH0(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")
  private[ext] def portableH1(s: Column): Column =
    conv(substring(md5(s), 16, 14), 16, 10).cast("long")

  /** Portable-family signature stage: explode shingles, hash each ONCE,
    * fold the 32 double-hash minima in a partial-aggregating groupBy.
    * One extra rep_id shuffle vs the shuffle-free production kernel
    * ([[sigOfHashes]]) — the price of staying inside expressions both
    * engines evaluate identically (min partial-merges map-side, so the
    * shuffle carries 32 longs per distinct doc, not per shingle).
    * Returns (rep_id, sig) only — the pipeline keeps the shingle arrays
    * on its own persisted table, so no join back onto the (expensive)
    * shingle projection is needed here.
    */
  private def portableSign(repSh0: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(i =>
      min(col("h0") + lit(i.toLong) * col("h1")).as(s"_m$i"))
    repSh0
      .select(col("rep_id"), explode(col("sh")).as("s"))
      .select(col("rep_id"), portableH0(col("s")).as("h0"), portableH1(col("s")).as("h1"))
      .groupBy(col("rep_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("rep_id"),
        array((0 until NumHashes).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** The production band key: xxhash64 over the 4-minhash slice, seeded by
    * the band index — compact 8-byte shuffle key.
    */
  private val xxhashBandKey: (Column, Int) => Column =
    (sl, b) => xxhash64(sl, lit(b))

  /** The portable band key: the slice VALUES joined as a string. Equality
    * of slices is all banding needs; skipping the hash keeps the key
    * DuckDB-recomputable (`array_to_string`) at the cost of a wider
    * shuffle key (~80 bytes vs 8) — fine for the gate, not the default.
    */
  private val portableBandKey: (Column, Int) => Column =
    (sl, _) => concat_ws(",", transform(sl, _.cast("string")))

  /** [[minhashLshOver]] with the portable hash family — the registry-gate
    * variant the DuckDB oracle recomputes end-to-end.
    */
  def minhashLshPortable(docs0: DataFrame, maxBucket: Int = MaxBucketDefault): DataFrame =
    minhashLshPipeline(docs0, maxBucket, sign = portableSign, bandKey = portableBandKey)

  private def minhashLshPipeline(
      docs0: DataFrame, maxBucket: Int,
      sign: DataFrame => DataFrame,
      bandKey: (Column, Int) => Column): DataFrame = {
    val (groups, members) = collapseExact(docs0)
    // shingles computed ONCE over the representatives and persisted; the
    // signature stage AND the verify stage both read this cache (a sign
    // stage that re-referenced the shingle projection — e.g. joining back
    // onto it — would shingle every text twice). At 100 TB this
    // intermediate would be checkpointed to the lake; in one job,
    // persist() is the equivalent.
    val repSh = groups
      .select(col("rep_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0) // shingle-less docs never signed (< 3 words)
      .persist()
    val sigs = sign(repSh).select(col("rep_id"), col("sig"))
    val verified = lshCandidates(sigs, maxBucket, bandKey)
      .join(repSh.select(col("rep_id").as("rep_a"), col("sh").as("sh_a")), "rep_a")
      .join(repSh.select(col("rep_id").as("rep_b"), col("sh").as("sh_b")), "rep_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= 0.35)
      .select(col("rep_a"), col("rep_b"), col("jaccard"))
    expandPairs(members, verified, "jaccard",
      withinScore = lit(1.0), dupReps = repSh, maxBucket = maxBucket)
  }

  /** Test hook: the scalar-UDF signature path over (doc_id, text), for
    * equivalence checks against [[minhashSignatures]].
    */
  private[graft] def minhashLshSignaturesForTest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", sigOfHashes(transform(col("sh"), sv => xxhash64(sv))))
      .select(col("doc_id"), col("sig"))

  /** Bounded in-bucket pair generation, shared by the minhash and simhash
    * banding stages: rank bucket members, keep the first `maxBucket`
    * (bounding per-bucket work at maxBucket²/2 regardless of skew), then
    * expand combinations from a per-bucket `collect_list` whose length the
    * cap already bounds. Bucket size + rank come from ONE window shuffle,
    * and the groupBy reuses the same partitioning — no self-join, no
    * re-shuffle, never an all-pairs stage.
    */
  private[ext] def cappedBucketPairs(
      bucketed: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val capped = bucketed
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("rep_id"))))
      .filter(col("bsz") >= 2 && col("rn") <= maxBucket)
    capped
      .groupBy(keys.map(col): _*)
      .agg(collect_list(col("rep_id")).as("ids")) // bounded by maxBucket
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, a -> transform(filter(ids, b -> b > a), " +
          "b -> named_struct('rep_a', a, 'rep_b', b))))")).as("pr"))
      .select(col("pr.rep_a"), col("pr.rep_b"))
      .distinct()
  }

  /** LSH candidate pairs from a (rep_id, sig) table, with the per-bucket cap
    * applied. Exposed for the skew test (candidate counts must stay bounded
    * on a planted boilerplate cluster).
    */
  private[graft] def lshCandidates(
      sigs: DataFrame, maxBucket: Int,
      bandKey: (Column, Int) => Column = xxhashBandKey): DataFrame =
    cappedBucketPairs(bandBuckets(sigs, bandKey), Seq("band_idx", "band_hash"), maxBucket)

  /** (rep_id, band_idx, band_hash) postings of a (rep_id, sig) table — the
    * banding half of [[lshCandidates]], shared with the incremental index
    * ([[IncrementalLsh]]), which needs the postings of old and new
    * signatures separately.
    */
  private[ext] def bandBuckets(
      sigs: DataFrame,
      bandKey: (Column, Int) => Column = xxhashBandKey): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band_idx"),
        bandKey(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), b)
          .as("band_hash"))
    }
    sigs
      .select(col("rep_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("rep_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** The minhash-LSH gate on REAL data, as an exact containment contract.
    * Which true pairs LSH finds is probabilistic by design (band recall
    * ~0.11 at jaccard 0.35), so the found-pair set itself cannot be
    * oracled; what IS exact:
    *
    *  - every LSH pair inside the bounded slice must appear in the
    *    brute-force Jaccard ≥ 0.35 truth (the verify stage makes false
    *    positives structurally impossible — `false_positives = 0`),
    *  - the reported jaccard must equal the brute-force value bit-for-bit
    *    (`value_mismatches = 0`), including the algebraic 1.0 of expanded
    *    exact-duplicate pairs,
    *  - and the truth itself (`truth_pairs`) is recomputed independently by
    *    the oracle from raw text, so the gate is anchored to real data, not
    *    a row of constants.
    *
    * The slice bound (doc_id < 300, as in [[ngramJaccard]]) keeps the
    * all-pairs truth the verification path, never the scale path. The
    * planted gate (`x_dedup_minhash_planted`) covers the recall direction
    * with a corpus where recall is structurally 1.
    */
  def minhashLshContainment(s: SparkSession, d: String): DataFrame = {
    val lsh = minhashLshOver(Tables.documents(s, d))
      .filter(col("doc_a") < 300 && col("doc_b") < 300)
    val truth = ngramJaccard(s, d).withColumnRenamed("jaccard", "true_jaccard")
    val stats = lsh.join(truth, Seq("doc_a", "doc_b"), "left_outer")
      .agg(
        coalesce(sum(when(col("true_jaccard").isNull, 1)), lit(0))
          .cast("long").as("false_positives"),
        coalesce(sum(when(col("true_jaccard").isNotNull
          && col("jaccard") =!= col("true_jaccard"), 1)), lit(0))
          .cast("long").as("value_mismatches"))
    stats.crossJoin(truth.agg(count(lit(1)).as("truth_pairs")))
      .select(col("truth_pairs"), col("false_positives"), col("value_mismatches"))
  }

  val minhashLshContainmentOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |           ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                 for i in range(1, len(ws) - 1)] END) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE doc_id < 300))
      |SELECT COUNT(*) AS truth_pairs,
      |       CAST(0 AS BIGINT) AS false_positives,
      |       CAST(0 AS BIGINT) AS value_mismatches
      |FROM sh a, sh b
      |WHERE a.doc_id < b.doc_id
      |  AND len(list_intersect(a.sh, b.sh)) > 0
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35""".stripMargin

  /** Custom typed aggregate for the 64 per-bit ±1 sums: like [[MinHashAgg]],
    * one JIT'd loop with an array buffer instead of 64 generated aggregate
    * expressions (whose codegen compile time dominated at bench scale).
    */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var b = 0
      while (b < 64) { buf(b) += (((h >>> b) & 1L).toInt * 2) - 1; b += 1 }
      buf
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Int]): Long = {
      var sim = 0L
      var b = 0
      while (b < 64) { if (r(b) >= 0) sim |= (1L << b); b += 1 }
      sim
    }
    override def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** SimHash: 64-bit sketch = sign of per-bit ±1 sums over token hashes.
    * `tokHash` picks the hash family: xxhash64 (production default, full
    * 64 bits) or [[portableH0]] (registry gate — 60 bits, so sketch bits
    * 60-63 collapse to 0 deterministically in BOTH engines: every token
    * contributes −1 there and the sum is always negative).
    */
  def simhashSketches(
      docs: DataFrame,
      tokHash: Column => Column = xxhash64(_)): DataFrame = {
    val simhash = udaf(SimHashAgg)
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", tokHash(col("tok")))
      .groupBy(col("doc_id"))
      .agg(simhash(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance 3, found via 4×16-bit
    * chunk banding (any pair ≤3 bits apart must agree on ≥1 chunk). Same
    * skew defenses as the minhash path: exact-dup pre-collapse (identical
    * texts have identical sketches, so every k-dup group would otherwise
    * put k rows in the same chunk bucket 4 times) and the per-bucket cap;
    * within-group pairs re-expand at Hamming 0 by identity.
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsOver(Tables.documents(s, d), tokHash = portableH0)

  /** SimHash pipeline. The registry gate (`x_dedup_simhash`,
    * [[simhashPairs]]) passes `tokHash = portableH0` so the DuckDB oracle
    * ([[simhashOracle]]) recomputes sketches, chunk banding, cap, Hamming
    * verify and re-expansion from first principles and hash-verifies the
    * pair set; the xxhash64 default stays the library production path,
    * hash-verified by the planted and pigeonhole-containment gates.
    */
  def simhashPairsOver(
      docs0: DataFrame, maxBucket: Int = MaxBucketDefault,
      tokHash: Column => Column = xxhash64(_)): DataFrame = {
    val (groups, members) = collapseExact(docs0)
    val sk = simhashSketches(
      groups.select(col("rep_id").as("doc_id"), col("text")), tokHash)
      .withColumnRenamed("doc_id", "rep_id")
      .persist()
    val chunks = sk.select(
      col("rep_id"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk_idx"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("chunk_val"))): _*))
        .as("ch"))
      .select(col("rep_id"), col("ch.chunk_idx"), col("ch.chunk_val"))
    val verified = cappedBucketPairs(chunks, Seq("chunk_idx", "chunk_val"), maxBucket)
      .join(sk.select(col("rep_id").as("rep_a"), col("simhash").as("sim_a")), "rep_a")
      .join(sk.select(col("rep_id").as("rep_b"), col("simhash").as("sim_b")), "rep_b")
      .select(col("rep_a"), col("rep_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
    expandPairs(members, verified, "hamming",
      withinScore = lit(0).cast("int"), dupReps = sk, maxBucket = maxBucket)
  }

  /** The simhash gate on REAL data, as an exact set-equality contract.
    * DuckDB cannot recompute simhash sketches (xxhash64 is
    * engine-specific), but the chunk-banding construction has a property
    * brute force can pin EXACTLY: by pigeonhole, any two 64-bit sketches
    * within Hamming distance 3 must agree on at least one of the four
    * 16-bit chunks — so on a slice where no bucket overflows the cap, the
    * banded+verified pipeline output must equal all-pairs
    * Hamming ≤ 3 over the same sketches, pair for pair and distance for
    * distance. `missed_pairs` additionally proves the collapse/re-expand
    * machinery loses nothing. The cap is lifted to the slice size (300 ≥
    * any bucket) so pure completeness is what's measured; skew behavior is
    * pinned separately in ExtSpec.
    */
  def simhashContainment(s: SparkSession, d: String): DataFrame = {
    val slice = Tables.documents(s, d).filter(col("doc_id") < 300)
    val pipeline = simhashPairsOver(slice, maxBucket = 300)
    val sk = simhashSketches(slice.select(col("doc_id"), col("text")))
    val brute = sk.as("a").join(sk.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("true_hamming"))
      .filter(col("true_hamming") <= 3)
    pipeline.join(brute, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("hamming").isNull, 1)), lit(0))
          .cast("long").as("missed_pairs"),
        coalesce(sum(when(col("true_hamming").isNull, 1)), lit(0))
          .cast("long").as("extra_pairs"),
        coalesce(sum(when(col("hamming").isNotNull && col("true_hamming").isNotNull
          && col("hamming") =!= col("true_hamming"), 1)), lit(0))
          .cast("long").as("hamming_mismatches"))
  }

  val simhashContainmentOracle: String =
    """SELECT CAST(0 AS BIGINT) AS missed_pairs,
      |       CAST(0 AS BIGINT) AS extra_pairs,
      |       CAST(0 AS BIGINT) AS hamming_mismatches""".stripMargin

  /** Benchmark decontamination: flag training documents sharing ≥ 5 word
    * 3-gram shingles with any "benchmark" document (here: doc_id < 10 as
    * the held-out set). The real pipeline op behind test-set contamination
    * sweeps.
    *
    * Scale shape: an '''inverted-index equi-join''' — both sides explode to
    * (doc, shingle) postings and join on the shingle, then a group-count per
    * (train, bench) pair recovers the intersection size (shingle sets are
    * distinct, so matching postings = intersection). Work is
    * O(postings matching the benchmark vocabulary), one shuffle keyed on the
    * shingle — never O(train × bench) pairs, so a real 100k-doc held-out set
    * costs the same scan as a 10-doc one. AQE broadcasts the benchmark side
    * when it fits; nothing requires it to.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    // explode_OUTER on purpose: a plain explode makes the optimizer infer a
    // `size(shingles(text)) > 0` pre-filter and push it below the
    // repartition, where the interpreted shingle lambda then runs twice per
    // row on the UNDISTRIBUTED input (serial, 4× the whole query's cost).
    // With outer generate nothing is inferred; the inner join drops the
    // null-shingle rows post-shuffle, distributed and codegen'd.
    val train = docs.filter(col("doc_id") >= 10)
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
    val bench = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("bench_id"), explode_outer(col("sh")).as("shingle"))
    train.join(bench, "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).cast("int").as("overlap"))
      .filter(col("overlap") >= 5)
      .select(col("doc_id"), col("bench_id"), col("overlap"))
  }

  val decontaminateOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |           ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                 for i in range(1, len(ws) - 1)] END) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      |SELECT t.doc_id, b.doc_id AS bench_id,
      |       len(list_intersect(t.sh, b.sh)) AS overlap
      |FROM (SELECT * FROM sh WHERE doc_id >= 10) t
      |CROSS JOIN (SELECT * FROM sh WHERE doc_id < 10) b
      |WHERE len(list_intersect(t.sh, b.sh)) >= 5""".stripMargin

  /** Deterministic planted corpus shared by the verified LSH gates: 100
    * distinct docs with DISJOINT word ranges (doc i uses words
    * w(17i)..w(17i+9), stride 17 > window 10, so cross-doc Jaccard is 0 and
    * cross-doc token sets are disjoint) plus exact copies of the first 20
    * (ids 1000+i). Reproducible in SQL with pure integer arithmetic.
    */
  private[graft] def plantedDocs(s: SparkSession): DataFrame = {
    val text = concat_ws(" ", transform(sequence(lit(0), lit(9)),
      k => concat(lit("w"), (col("src") * 17 + k).cast("string"))))
    s.range(100).select(col("id").as("doc_id"), col("id").as("src"))
      .unionByName(s.range(20).select((col("id") + 1000).as("doc_id"), col("id").as("src")))
      .withColumn("text", text)
      .select(col("doc_id"), col("text"))
  }

  private val plantedSql: String =
    """SELECT vec.doc_id,
      |       array_to_string(['w' || CAST(vec.src * 17 + k AS VARCHAR)
      |                        for k in range(0, 10)], ' ') AS text
      |FROM (SELECT id AS doc_id, id AS src FROM range(0, 100) t(id)
      |      UNION ALL
      |      SELECT id + 1000 AS doc_id, id AS src FROM range(0, 20) t(id)) vec""".stripMargin

  /** MinHash+LSH on the planted corpus, hash-verified end-to-end: exact
    * duplicates guarantee candidate recall 1 (identical signatures), and no
    * non-identical pair reaches the 0.35 threshold (disjoint shingles), so
    * the LSH output equals brute-force Jaccard and the oracle recomputes it
    * from first principles. Complements `x_dedup_minhash_lsh`, whose banding
    * probabilities DuckDB cannot express (rows-only there).
    */
  def minhashLshPlanted(s: SparkSession, d: String): DataFrame =
    minhashLshOver(plantedDocs(s))

  val minhashLshPlantedOracle: String =
    s"""WITH docs AS ($plantedSql),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                        for i in range(1, len(ws) - 1)]) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM docs))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |FROM sh a, sh b
      |WHERE a.doc_id < b.doc_id
      |  AND len(list_intersect(a.sh, b.sh)) > 0
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35""".stripMargin

  /** SimHash on the planted corpus: within-group pairs at Hamming 0 are the
    * exact expected output (disjoint token sets put non-identical sketches
    * far apart; deterministic input, deterministic sketches). DuckDB cannot
    * compute simhash, but it CAN state the expected result exactly.
    */
  def simhashPlanted(s: SparkSession, d: String): DataFrame =
    simhashPairsOver(plantedDocs(s))

  val simhashPlantedOracle: String =
    """SELECT id AS doc_a, id + 1000 AS doc_b, 0 AS hamming
      |FROM range(0, 20) t(id)""".stripMargin

  /** Near-dup CLUSTERS from pair edges: connected components by iterative
    * min-label propagation (each step joins labels to both edge directions
    * and takes the min over self + neighbors; fixpoint when no label
    * changes). The pipeline op that turns pairwise near-dup output into
    * dedup groups ("keep one doc per cluster").
    *
    * Scale shape: every iteration is one shuffle join keyed on doc id, and
    * the iteration count is the cluster DIAMETER (longest chain), not the
    * cluster size — boilerplate clusters are dense (diameter ~2), so a
    * handful of iterations converge (the exact requirement is the
    * eccentricity of each component's min-id vertex); the loop is
    * driver-paced with a convergence check per step, the standard
    * Pregel-without-GraphX shape, and throws rather than return partial
    * labels if the iteration bound is hit.
    * Edges here come from the bounded ground-truth Jaccard operator so the
    * oracle (a recursive CTE computing min reachable id) can verify the
    * component assignment exactly.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val edges = ngramJaccard(s, d)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    val bidir = edges.unionByName(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    var labels = edges.select(col("doc_a").as("id"))
      .unionByName(edges.select(col("doc_b").as("id")))
      .distinct()
      .withColumn("cluster", col("id"))
      .persist()
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      iter += 1
      val next = labels.as("l")
        .join(bidir.as("e"), col("l.id") === col("e.doc_a"), "left_outer")
        .join(labels.select(col("id").as("n_id"), col("cluster").as("n_cluster")).as("n"),
          col("e.doc_b") === col("n_id"), "left_outer")
        .groupBy(col("l.id").as("id"))
        .agg(least(min(col("l.cluster")), min(col("n_cluster"))).as("cluster"))
        .persist()
      val changes = next.as("a")
        .join(labels.as("b"), col("a.id") === col("b.id"))
        .filter(col("a.cluster") =!= col("b.cluster"))
        .count()
      labels.unpersist()
      labels = next
      converged = changes == 0
    }
    // the final labels cache was materialized by the convergence count, so
    // the inputs' caches are no longer needed
    edges.unpersist()
    bidir.unpersist()
    // partial labels would silently split one logical cluster into several —
    // fail loudly instead (iterations needed = eccentricity of the min-id
    // vertex; raise the bound for pathological chain-shaped clusters)
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters: min-label propagation did not converge in $iter iterations")
    labels.select(col("id").as("doc_id"), col("cluster"))
  }

  /** The connected-components recursive-CTE prefix shared by the cluster
    * oracle and the quality-survivor oracle (bounded doc_id < 300 slice).
    */
  private val clusterCtes: String =
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |           ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                 for i in range(1, len(ws) - 1)] END) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE doc_id < 300)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a, sh b
      |  WHERE a.doc_id < b.doc_id
      |    AND len(list_intersect(a.sh, b.sh)) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35),
      |edges AS (SELECT doc_a, doc_b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |verts AS (SELECT DISTINCT doc_a AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS r FROM verts
      |  UNION
      |  SELECT e.doc_a AS id, reach.r
      |  FROM reach JOIN edges e ON e.doc_b = reach.id)""".stripMargin

  val dedupClustersOracle: String =
    s"""$clusterCtes
      |SELECT id AS doc_id, MIN(r) AS cluster
      |FROM reach GROUP BY 1""".stripMargin

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same interface and answer as [[dedupClusters]], but the
    * round count is O(log n) REGARDLESS of component diameter, where
    * min-label propagation needs the eccentricity of each component's
    * min vertex: near-dup clusters are dense (diameter ~2) so label
    * propagation is fine there, but a fuzzy pair graph under heavy
    * duplication can CHAIN (A≈B≈C≈…), and a 10⁶-long chain means 10⁶
    * label rounds vs ~20 star rounds.
    *
    * Per round, both operations are one groupBy-min + one equi-join on
    * node id (partial-aggregated shuffles, no windows, no collects):
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: edges oriented large→small, every node connects its
    *    smaller neighbors (and itself) to that minimum.
    * Both preserve connectivity; their composition contracts every
    * component onto its minimum id geometrically. Convergence is an EXACT
    * edge-set fixpoint test (two set-difference probes per round — same
    * complexity class as the round itself, no probabilistic checksum),
    * and like [[dedupClusters]] a non-converged run throws rather than
    * return partial labels. At the fixpoint the edge set is a star
    * forest (member → component min), which IS the label assignment.
    */
  private[graft] def ccStarWithStats(
      edges0: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    // Scoped low coalescing floor: under the session's scale-adaptive
    // partitioning, a small checkpointed round frame would coalesce to
    // totalBytes/1MB (often 1-2) partitions and SERIALIZE every job of
    // every subsequent round (measured at sf1: x_entity_ids wall 77 → 139 s
    // from exactly this). 64k keeps round frames at core-count parallelism;
    // scoped here because a session-wide 64k floor costs ~16× more tasks
    // on every tiny one-shot stage (measured +20% on the sf0.1 registry
    // wall). Restored in the finally — gates share one session.
    val s0 = edges0.sparkSession
    val MinPartKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val priorMinPart = s0.conf.getOption(MinPartKey)
    s0.conf.set(MinPartKey, "64k")
    try ccStarLoop(edges0, srcCol, dstCol, maxIter)
    finally priorMinPart match {
      case Some(v) => s0.conf.set(MinPartKey, v)
      case None => s0.conf.unset(MinPartKey)
    }
  }

  private def ccStarLoop(
      edges0: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int): (DataFrame, Int) = {
    // Canonical form throughout: distinct edges oriented large → small.
    // Each round is localCheckpoint'ed (not just persisted): the round's
    // plan references the previous round's edge frame several times, so
    // an un-truncated lineage grows geometrically and a ~7-round run OOMs
    // just STRINGIFYING the plan. Same executor-loss trade-off as the
    // streaming dedup path (Relational.scala localCheckpoint note): on a
    // cluster, a lost executor forces a rerun from the last checkpoint —
    // acceptable for an iterative algorithm that is itself restartable.
    val e0 = edges0
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
    // PRE-CONTRACTION (round 18): one closed-neighborhood-min pass
    // ℓ(x) = min(Γ(x) ∪ {x}) — a single partial-aggregated groupBy over
    // the bidirected edges plus one broadcast-map join over e0 — then the
    // star rounds run on the CONTRACTED graph {(ℓu, ℓv) | ℓu ≠ ℓv}.
    // Dense components (the record-link entity graph averages degree
    // ~360 at sf1: 26.9 M edges over 150 k nodes) collapse toward their
    // local minima before the join-heavy rounds ever see them, so the
    // first round's 2×|E| distinct and the |E|-sized fixpoint probes run
    // on the contracted remnant instead of the raw edge set. Lossless:
    // ℓ maps within components (connectivity preserved, the chain
    // ℓ(u₀)…ℓ(u_k) of any path is connected in the contracted graph),
    // the component min m always survives contraction (ℓ(m) = m), and a
    // component that contracts to a single vertex contracts to exactly m
    // — so composing x → label(ℓ(x)), defaulting to ℓ(x) where the
    // contracted graph lost the vertex entirely, reproduces the original
    // component-min labeling bit-for-bit (pinned by the chain/cc tests
    // and the x_dedup_cc_star / x_entity_ids oracles). Worst case (a
    // path) the contraction shrinks nothing and costs one extra cheap
    // pass; the round-count pin (≤ 8 on a 100-chain) still holds.
    val lmap = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("x"), least(col("u"), col("mn")).as("l"))
      .localCheckpoint()
    var e = e0
      .join(lmap.select(col("x").as("u"), col("l").as("lu")), Seq("u"))
      .join(lmap.select(col("x").as("v"), col("l").as("lv")), Seq("v"))
      .filter(col("lu") =!= col("lv"))
      .select(greatest(col("lu"), col("lv")).as("u"),
        least(col("lu"), col("lv")).as("v"))
      .distinct()
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      // LARGE-STAR: for each u over its full (bidirected) neighborhood,
      // m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbor v > u
      val bidir = e.unionByName(
        e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = bidir.join(lsMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m ⇒ large→small
        .filter(col("u") =!= col("v"))
      // SMALL-STAR on the large→small edges: m = min(Γ(u) ∪ {u}) over the
      // smaller neighbors; connect each of them AND u itself to m
      val oriented = ls.distinct()
      val ssMin = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = oriented.join(ssMin, Seq("u"))
        .select(col("v").as("u"), col("m").as("v")) // v ≥ m, equality dropped below
        .filter(col("u") =!= col("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint()
      // exact fixpoint: same count and next ⊆ e ⇒ equal sets
      val sameSize = next.count() == e.count()
      converged = sameSize && next.except(e).limit(1).count() == 0
      e = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"ccStar: not converged in $iter rounds (raise maxIter)")
    val roots = e.select(col("v")).distinct()
      .join(e.select(col("u")).distinct(), col("v") === col("u"), "left_anti")
      .select(col("v").as("id"), col("v").as("cluster"))
    val contractedLabels =
      e.select(col("u").as("l"), col("v").as("cluster")).unionByName(
        roots.select(col("id").as("l"), col("cluster")))
    // compose back through the contraction map: every original vertex is
    // an lmap row; a contracted vertex absent from the star forest is its
    // own (fully-contracted) component's min
    val out = lmap.join(contractedLabels, Seq("l"), "left")
      .select(col("x").as("id"),
        coalesce(col("cluster"), col("l")).as("cluster"))
    (out, iter)
  }

  /** [[ccStarWithStats]] without the round count. */
  def ccStar(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    ccStarWithStats(edges, srcCol, dstCol)._1

  /** Gate: star connected components over the SAME ground-truth edge set
    * as `x_dedup_clusters` — must produce the identical (doc_id, cluster)
    * labeling, hash-verified against the same recursive-CTE oracle; the
    * ExtSpec chain test pins the logarithmic round count that justifies
    * the second algorithm's existence.
    */
  def dedupClustersStar(s: SparkSession, d: String): DataFrame =
    ccStar(ngramJaccard(s, d).select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster"))

  /** Quality-aware survivor selection over near-dup clusters: each cluster
    * keeps its HIGHEST-quality member (ties broken by lowest doc_id), not
    * the lowest id — the selection a real training pipeline makes when
    * near-duplicates differ in cleanliness (keep the best copy, drop the
    * rest). Unclustered documents are singleton clusters and survive
    * unconditionally. Reuses the hash-verified quality score and the
    * connected-components clustering; the ranking is one per-cluster
    * window over cluster-sized groups (clusters are near-dup components —
    * tiny by construction; the global shape is one (cluster) shuffle of
    * one row per doc, never wider than the input).
    */
  def qualitySurvivors(s: SparkSession, d: String): DataFrame = {
    val clusters = dedupClusters(s, d)
    val q = TextAnalysis.qualityScore(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("quality_score"))
    val labeled = q.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val w = Window.partitionBy(col("cluster"))
    val rankW = w.orderBy(col("quality_score").desc, col("doc_id"))
    labeled
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("survivor_id"),
        col("quality_score"), col("cluster_size"))
  }

  val qualitySurvivorsOracle: String =
    s"""$clusterCtes,
      |clus AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY 1),
      |q AS (
      |  SELECT doc_id,
      |         CASE WHEN word_cnt < 5 THEN 0.0
      |              ELSE (CAST(stopword_cnt AS DOUBLE) / word_cnt) * 0.5
      |                   + (1.0 - CAST(punct_cnt AS DOUBLE) / len_chars) * 0.5 END AS quality_score
      |  FROM (SELECT doc_id, length(text) AS len_chars,
      |               len(regexp_extract_all(text, '[a-z0-9]+')) AS word_cnt,
      |               len(regexp_extract_all(text, '[^a-z0-9 ]')) AS punct_cnt,
      |               len(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt
      |        FROM documents WHERE doc_id < 300)),
      |lab AS (
      |  SELECT q.doc_id, COALESCE(clus.cluster, q.doc_id) AS cluster, q.quality_score
      |  FROM q LEFT JOIN clus ON q.doc_id = clus.doc_id)
      |SELECT cluster, doc_id AS survivor_id, quality_score,
      |       COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
      |FROM lab
      |QUALIFY row_number() OVER (PARTITION BY cluster
      |                           ORDER BY quality_score DESC, doc_id) = 1""".stripMargin

  /** Leakage-free train/val/test split: near-duplicate documents MUST land
    * in the same split, or evaluation on held-out data silently tests on
    * training material (the classic dedup-leakage pitfall; the reason
    * benchmark decontamination and split assignment have to be
    * cluster-aware). Composition of two hash-verified operators: the split
    * key is the CLUSTER label (the component's min doc_id), not the doc
    * id — every member inherits its cluster's split, singletons split by
    * their own id, and the assignment stays a pure function of content
    * clusters (stable across runs and corpus growth, like [[TextAnalysis.dataSplit]]).
    * Edges come from the bounded ground-truth Jaccard operator so the
    * oracle can rebuild the identical clusters; at 100 TB the same
    * composition runs off [[minhashLshOver]]'s cluster output. The gate
    * ships per-split sizes/checksums plus the straddling-cluster count —
    * computed from the data, and provably zero by construction.
    */
  def leakFreeSplit(s: SparkSession, d: String): DataFrame = {
    val clusters = dedupClusters(s, d)
    val docs = Tables.documents(s, d).select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val bucket = TextAnalysis.shuffleKey(col("cluster")) % 100
    val tagged = docs.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val straddle = tagged.groupBy(col("cluster"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("straddling_clusters"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("doc_id")).as("id_sum"))
      .crossJoin(broadcast(straddle))
  }

  val leakFreeSplitOracle: String =
    s"""$clusterCtes,
      |clus AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY 1),
      |docs AS (SELECT d.doc_id, COALESCE(clus.cluster, d.doc_id) AS cluster
      |         FROM documents d LEFT JOIN clus USING (doc_id)),
      |tagged AS (
      |  SELECT doc_id, cluster,
      |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM (SELECT doc_id, cluster,
      |               (((cluster % 2147483648) * 2654435761) % 4294967296) % 100 AS b
      |        FROM docs)),
      |straddle AS (
      |  SELECT COUNT(*) AS straddling_clusters FROM (
      |    SELECT cluster FROM tagged GROUP BY 1
      |    HAVING COUNT(DISTINCT split) > 1))
      |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT cluster) AS n_clusters,
      |       CAST(SUM(doc_id) AS BIGINT) AS id_sum, straddling_clusters
      |FROM tagged, straddle
      |GROUP BY 1, straddling_clusters""".stripMargin

  /** Exact-substring dedup at shingle resolution — the span-level
    * complement of the document-level MinHash/SimHash paths (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, does this with a suffix array; an inverted shingle
    * index expresses the same duplicated-span accounting as two shuffles).
    * Shingle resolution means span boundaries are quantized to the
    * shingle grid; [[SuffixDedup]] is the character-resolution member of
    * the ladder — it reports the exact maximal duplicated spans.
    * A shingle is DUPLICATED if it occurs in ≥2 documents; its canonical
    * owner is the smallest doc_id holding it (the copy that keeps the
    * span). Per document: total distinct shingles, duplicated shingles,
    * shingles this doc would TRIM (duplicated, owned elsewhere), and a
    * drop flag when more than half the document is duplicated material —
    * the exact integer comparison `dup*2 > n`, no float thresholds.
    *
    * Scale shape: explode → one shuffle keyed on shingle (the posting
    * aggregate), join back on the same key (exchange reuse), re-aggregate
    * by doc. Work is O(total postings + matching postings) — no pairwise
    * stage anywhere, the same discipline as [[decontaminate]]. At 100 TB
    * the posting aggregate is the natural place for a frequency cutoff
    * (stop-shingles), which changes results and is therefore NOT applied
    * in the gated operator.
    */
  def substrDedup(s: SparkSession, d: String): DataFrame = {
    val post = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode_outer(shingles(col("text"))).as("shingle"))
      .filter(col("shingle").isNotNull)
    val owners = post.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("owner"), count(lit(1)).as("ndocs"))
    post.join(owners, "shingle")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") > 1, 1).otherwise(0)).as("dup_shingles"),
        sum(when(col("ndocs") > 1 && col("owner") =!= col("doc_id"), 1).otherwise(0))
          .as("trim_shingles"))
      .withColumn("drop_doc", col("dup_shingles") * 2 > col("n_shingles"))
  }

  val substrDedupOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |           ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                 for i in range(1, len(ws) - 1)] END) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |post AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
      |own AS (SELECT shingle, MIN(doc_id) AS owner, COUNT(*) AS ndocs
      |        FROM post GROUP BY 1)
      |SELECT p.doc_id,
      |       COUNT(*) AS n_shingles,
      |       CAST(SUM(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles,
      |       CAST(SUM(CASE WHEN o.ndocs > 1 AND o.owner <> p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS trim_shingles,
      |       SUM(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) * 2 > COUNT(*) AS drop_doc
      |FROM post p JOIN own o USING (shingle)
      |GROUP BY 1""".stripMargin

  /** Content-defined chunk list for `textCol`, appended as `outCol` —
    * byte-resolution dedup units that survive INSERTIONS, which fixed-k
    * shingles and fixed-size blocks do not (one inserted byte shifts every
    * downstream fixed boundary; [[substrDedup]]'s fixed-k shingle
    * resolution has exactly this blind spot for long repeats with edits
    * between the copies).
    *
    * Boundary rule (Rabin-style): a rolling polynomial hash over the last
    * W=8 characters — H(i) = Σ_{j=0..7} code(i−j)·31^j, exact in 64-bit
    * (max char code 0x10FFFF × 31^7 × 8 < 2^58) — cuts after position i
    * whenever H(i) % 32 == 0, giving ~32-char mean chunks whose boundaries
    * depend ONLY on the local 8-char window: an edit perturbs at most the
    * W−1 boundaries overlapping it, and every later chunk re-aligns.
    * Document end is always a boundary; texts shorter than W are one
    * chunk. No min/max chunk clamps — they would couple a boundary to its
    * predecessor and break the locality guarantee the gate measures.
    *
    * Scale shape: a pure per-row projection (higher-order functions,
    * O(len·W) per document, no shuffle); downstream dedup shuffles chunk
    * HASHES, never text. Integer-only arithmetic keeps both engines
    * bit-identical.
    */
  private[graft] def withCdcChunks(
      df: DataFrame, textCol: String, outCol: String): DataFrame =
    // the native codegen'd kernel (TextKernels.cdcChunks) — identical
    // values to the previous interpreted HOF chain (same rolling
    // polynomial over code points, cuts, boundary and substring rules,
    // including the short-text and empty-text edges), in one flat pass per
    // document instead of an O(W) interpreted lambda aggregate per character
    // (guide §1.2 step 2 / §4; measured the cdc family's hot spot)
    df.withColumn(outCol,
      org.apache.spark.sql.graft.TextExpressions.cdcChunks(col(textCol)))

  /** (doc_id, h) chunk-hash postings — one row per DISTINCT chunk per
    * document; the shuffle unit of CDC dedup and the state table of the
    * maintained index ([[IncrementalCdc]]). Deterministic per document,
    * so replayed appends deduplicate away at read time.
    */
  private[ext] def cdcPostings(docs: DataFrame): DataFrame =
    withCdcChunks(
      docs.filter(col("text").isNotNull && length(col("text")) >= 1)
        .select(col("doc_id"), col("text")),
      "text", "chunks")
      .select(col("doc_id"), explode(array_distinct(col("chunks"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"))

  /** [[cdcDedup]]'s per-document aggregation over a posting set: distinct
    * chunk counts, cross-document duplication, earlier-owner trims, the
    * majority drop flag. Shared with the maintained index's read path.
    */
  private[ext] def cdcStats(post: DataFrame): DataFrame = {
    val owners = post.groupBy(col("h"))
      .agg(min(col("doc_id")).as("owner"), count(lit(1)).as("ndocs"))
    post.join(owners, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("ndocs") > 1, 1).otherwise(0)).as("dup_chunks"),
        sum(when(col("ndocs") > 1 && col("owner") =!= col("doc_id"), 1).otherwise(0))
          .as("trim_chunks"))
      .withColumn("drop_doc", col("dup_chunks") * 2 > col("n_chunks"))
  }

  /** Shared SQL spelling of [[withCdcChunks]] for the DuckDB oracles:
    * given a relation exposing (doc_id, t), yields (doc_id, chunks).
    */
  private[ext] def cdcChunksSql(src: String): String =
    s"""(SELECT doc_id,
       |  [substr(t, bnds[k] + 1, bnds[k + 1] - bnds[k])
       |   for k in range(1, len(bnds))] AS chunks
       | FROM (SELECT doc_id, t,
       |         [0] || cuts || [x for x in [length(t)]
       |                         if NOT list_contains(cuts, x)] AS bnds
       |       FROM (SELECT doc_id, t,
       |               [i for i in range(8, length(t) + 1) if
       |                  CAST(list_sum([codes[i - j] *
       |                    [1,31,961,29791,923521,28629151,887503681,27512614111][j + 1]
       |                    for j in range(0, 8)]) AS BIGINT) % 32 = 0] AS cuts
       |             FROM (SELECT doc_id, t,
       |                     [ascii(substr(t, i, 1))
       |                      for i in range(1, length(t) + 1)] AS codes
       |                   FROM $src))))""".stripMargin

  /** Content-defined-chunking dedup over the corpus — [[substrDedup]]'s
    * posting/owner shape with CDC chunks as the dedup unit: per document,
    * the distinct-chunk count, how many of its chunks appear in other
    * documents, how many belong to an earlier owner, and the majority
    * drop flag. Shuffle carries md5(chunk), never chunk text.
    */
  def cdcDedup(s: SparkSession, d: String): DataFrame =
    cdcStats(cdcPostings(
      Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)))

  val cdcDedupOracle: String =
    s"""WITH ch AS (SELECT * FROM ${cdcChunksSql(
         "(SELECT doc_id, text AS t FROM documents " +
           "WHERE text IS NOT NULL AND length(text) >= 1)")}),
       |post AS (SELECT doc_id, md5(c) AS h FROM
       |           (SELECT doc_id, unnest(list_distinct(chunks)) AS c FROM ch)),
       |own AS (SELECT h, MIN(doc_id) AS owner, COUNT(*) AS ndocs
       |        FROM post GROUP BY 1)
       |SELECT p.doc_id,
       |       COUNT(*) AS n_chunks,
       |       CAST(SUM(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS dup_chunks,
       |       CAST(SUM(CASE WHEN o.ndocs > 1 AND o.owner <> p.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) AS trim_chunks,
       |       SUM(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) * 2 > COUNT(*) AS drop_doc
       |FROM post p JOIN own o USING (h)
       |GROUP BY 1""".stripMargin

  /** The insertion-stability CONTRAST that justifies CDC: every document
    * ≥400 chars gets a planted near-copy with ONE character inserted near
    * the front (position 8 + doc_id % 16 — upstream of almost all
    * content), and both chunkings measure how much of the original they
    * still recognize in the mutant. Fixed 64-char blocks shift wholesale
    * after the insertion (shared blocks ≈ the ≤1 block fully before the
    * edit); CDC boundaries re-align within one window, so almost all
    * chunks survive. Exact integers, recomputed from first principles by
    * the oracle; the ExtSpec pins the aggregate gap strictly.
    */
  def cdcPlanted(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .filter(col("text").isNotNull && length(col("text")) >= 400)
      .select(col("doc_id"), col("text"))
      .withColumn("mut", expr(
        "concat(substring(text, 1, CAST(8 + doc_id % 16 AS INT)), 'Z', " +
          "substring(text, CAST(8 + doc_id % 16 AS INT) + 1))"))
    val withA = withCdcChunks(base, "text", "ca")
    val withB = withCdcChunks(withA, "mut", "cb")
    withB
      .withColumn("fa", expr(
        "transform(sequence(0, CAST(ceil(length(text) / 64.0) AS INT) - 1), " +
          "k -> substring(text, k * 64 + 1, 64))"))
      .withColumn("fb", expr(
        "transform(sequence(0, CAST(ceil(length(mut) / 64.0) AS INT) - 1), " +
          "k -> substring(mut, k * 64 + 1, 64))"))
      .select(
        col("doc_id"),
        size(array_distinct(col("ca"))).as("n_cdc"),
        size(array_intersect(array_distinct(col("ca")), array_distinct(col("cb"))))
          .as("shared_cdc"),
        size(array_distinct(col("fa"))).as("n_fix"),
        size(array_intersect(array_distinct(col("fa")), array_distinct(col("fb"))))
          .as("shared_fix"))
  }

  val cdcPlantedOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, text AS t,
       |         substr(text, 1, CAST(8 + doc_id % 16 AS INT)) || 'Z' ||
       |           substr(text, CAST(8 + doc_id % 16 AS INT) + 1) AS mut
       |  FROM documents WHERE text IS NOT NULL AND length(text) >= 400),
       |ca AS (SELECT doc_id, chunks AS ca FROM ${cdcChunksSql(
          "(SELECT doc_id, t FROM base)")}),
       |cb AS (SELECT doc_id, chunks AS cb FROM ${cdcChunksSql(
          "(SELECT doc_id, mut AS t FROM base)")}),
       |fx AS (
       |  SELECT doc_id,
       |         [substr(t, k * 64 + 1, 64)
       |          for k in range(0, CAST(ceil(length(t) / 64.0) AS INT))] AS fa,
       |         [substr(mut, k * 64 + 1, 64)
       |          for k in range(0, CAST(ceil(length(mut) / 64.0) AS INT))] AS fb
       |  FROM base)
       |SELECT b.doc_id,
       |       len(list_distinct(ca.ca)) AS n_cdc,
       |       len(list_intersect(list_distinct(ca.ca), list_distinct(cb.cb)))
       |         AS shared_cdc,
       |       len(list_distinct(fx.fa)) AS n_fix,
       |       len(list_intersect(list_distinct(fx.fa), list_distinct(fx.fb)))
       |         AS shared_fix
       |FROM base b JOIN ca ON ca.doc_id = b.doc_id
       |JOIN cb ON cb.doc_id = b.doc_id
       |JOIN fx ON fx.doc_id = b.doc_id""".stripMargin

  /** Shared oracle prelude: exact-dup collapse (grp/mem mirror
    * [[collapseExact]] — texts within a sha256 group are identical, so
    * MIN(text) equals Spark's `first(text)`) and the capped member table
    * (`cap` mirrors the `_mrn <= maxBucket` window in expandPairs).
    */
  private val portablePreludeSql: String =
    """d AS (SELECT doc_id, text, sha256(text) AS fp FROM documents),
      |grp AS (SELECT fp, MIN(doc_id) AS rep_id, MIN(text) AS text, COUNT(*) AS k
      |        FROM d GROUP BY fp),
      |mem AS (SELECT d.doc_id, g.rep_id, g.k FROM d JOIN grp g USING (fp)),
      |cm AS (SELECT rep_id, doc_id, k,
      |              ROW_NUMBER() OVER (PARTITION BY rep_id ORDER BY doc_id) AS mrn
      |       FROM mem),
      |cap AS (SELECT rep_id, doc_id, k FROM cm WHERE mrn <= 64)""".stripMargin

  /** Full first-principles DuckDB recomputation of the portable-family
    * MinHash+LSH pipeline ([[minhashLshPortable]]): the 32-slot
    * double-hash signature, 8×4 banding on the slice values, per-bucket
    * cap (rank by rep_id, ≤ 64), exact-Jaccard verify at 0.35, and the
    * capped algebraic re-expansion of exact-duplicate groups.
    */
  val minhashLshOracle: String =
    s"""WITH $portablePreludeSql,
      |shs AS (
      |  SELECT rep_id, sh FROM (
      |    SELECT rep_id,
      |           list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
      |             ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                   for i in range(1, len(ws) - 1)] END) AS sh
      |    FROM (SELECT rep_id, string_split(text, ' ') AS ws FROM grp))
      |  WHERE len(sh) > 0),
      |sig AS (
      |  SELECT rep_id,
      |         [list_min([('0x' || substr(md5(s), 1, 15))::BIGINT
      |                    + i * ('0x' || substr(md5(s), 16, 14))::BIGINT
      |                    for s in sh]) for i in range(0, 32)] AS sig
      |  FROM shs),
      |bk AS (
      |  SELECT rep_id, b AS band_idx,
      |         array_to_string(sig[b*4+1 : b*4+4], ',') AS band_key
      |  FROM sig CROSS JOIN range(0, 8) t(b)),
      |cw AS (
      |  SELECT rep_id, band_idx, band_key,
      |         ROW_NUMBER() OVER (PARTITION BY band_idx, band_key ORDER BY rep_id) AS rn
      |  FROM bk),
      |cand AS (
      |  SELECT DISTINCT a.rep_id AS rep_a, b.rep_id AS rep_b
      |  FROM cw a JOIN cw b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |   AND a.rep_id < b.rep_id
      |  WHERE a.rn <= 64 AND b.rn <= 64),
      |ver AS (
      |  SELECT rep_a, rep_b,
      |         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |           / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
      |  FROM cand JOIN shs x ON x.rep_id = cand.rep_a
      |            JOIN shs y ON y.rep_id = cand.rep_b
      |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.35)
      |SELECT p.doc_id AS doc_a, q.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
      |FROM cap p JOIN cap q ON p.rep_id = q.rep_id AND p.doc_id < q.doc_id
      |JOIN shs ON shs.rep_id = p.rep_id
      |WHERE p.k > 1
      |UNION ALL
      |SELECT least(a.doc_id, b.doc_id) AS doc_a,
      |       greatest(a.doc_id, b.doc_id) AS doc_b, v.jaccard
      |FROM ver v JOIN cap a ON a.rep_id = v.rep_a
      |           JOIN cap b ON b.rep_id = v.rep_b""".stripMargin

  /** Full first-principles DuckDB recomputation of the portable-family
    * SimHash pipeline ([[simhashPairs]]): per-bit ±1 sums over 60-bit
    * token hashes (bits 60-63 are deterministically 0 in both engines),
    * 4×16-bit chunk banding, per-bucket cap, Hamming ≤ 3 verify, capped
    * re-expansion.
    */
  val simhashOracle: String =
    s"""WITH $portablePreludeSql,
      |hs AS (SELECT rep_id,
      |              [('0x' || substr(md5(t), 1, 15))::BIGINT
      |               for t in string_split(text, ' ')] AS hs
      |       FROM grp WHERE text IS NOT NULL),
      |sk AS (SELECT rep_id,
      |              CAST(list_sum([CASE WHEN list_sum(
      |                       [CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END for x in hs]
      |                     ) >= 0 THEN 1::BIGINT << b ELSE 0 END
      |                     for b in range(0, 60)]) AS BIGINT) AS simhash
      |       FROM hs),
      |ck AS (SELECT rep_id, c AS chunk_idx, (simhash >> (c*16)) & 65535 AS chunk_val
      |       FROM sk CROSS JOIN range(0, 4) t(c)),
      |cw AS (SELECT rep_id, chunk_idx, chunk_val,
      |              ROW_NUMBER() OVER (PARTITION BY chunk_idx, chunk_val ORDER BY rep_id) AS rn
      |       FROM ck),
      |cand AS (
      |  SELECT DISTINCT a.rep_id AS rep_a, b.rep_id AS rep_b
      |  FROM cw a JOIN cw b
      |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
      |   AND a.rep_id < b.rep_id
      |  WHERE a.rn <= 64 AND b.rn <= 64),
      |ver AS (
      |  SELECT rep_a, rep_b, CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
      |  FROM cand JOIN sk x ON x.rep_id = cand.rep_a
      |            JOIN sk y ON y.rep_id = cand.rep_b
      |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)
      |SELECT p.doc_id AS doc_a, q.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
      |FROM cap p JOIN cap q ON p.rep_id = q.rep_id AND p.doc_id < q.doc_id
      |JOIN sk ON sk.rep_id = p.rep_id
      |WHERE p.k > 1
      |UNION ALL
      |SELECT least(a.doc_id, b.doc_id) AS doc_a,
      |       greatest(a.doc_id, b.doc_id) AS doc_b, v.hamming
      |FROM ver v JOIN cap a ON a.rep_id = v.rep_a
      |           JOIN cap b ON b.rep_id = v.rep_b""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "x_substr_dedup" -> (substrDedup _),
    "x_cdc_dedup" -> (cdcDedup _),
    "x_cdc_planted" -> (cdcPlanted _),
    "x_dedup_clusters" -> (dedupClusters _),
    "x_dedup_cc_star" -> (dedupClustersStar _),
    "x_dedup_quality_survivors" -> (qualitySurvivors _),
    "x_split_leakfree" -> (leakFreeSplit _),
    "x_decontaminate" -> (decontaminate _),
    "x_dedup_exact_groups" -> (exactGroups _),
    "x_dedup_exact_survivors" -> (exactSurvivors _),
    "x_dedup_ngram_jaccard" -> (ngramJaccard _),
    // `x_dedup_minhash_lsh` / `x_dedup_simhash` run the full-corpus
    // pipelines with the PORTABLE (md5-derived) hash family, which DuckDB
    // recomputes from first principles — so the complete pair sets
    // hash-verify end-to-end (collapse → sign → band → cap → verify →
    // expand). The xxhash64 production family stays the library default,
    // hash-verified by the `*_containment` (0 false positives, bit-exact
    // scores vs brute truth) and `*_planted` (structural recall 1)
    // companions, whose guarantees hold for any hash family.
    "x_dedup_minhash_lsh" -> (minhashLsh _),
    "x_dedup_minhash_containment" -> (minhashLshContainment _),
    "x_dedup_minhash_planted" -> (minhashLshPlanted _),
    "x_dedup_simhash" -> (simhashPairs _),
    "x_dedup_simhash_containment" -> (simhashContainment _),
    "x_dedup_simhash_planted" -> (simhashPlanted _))

  val oracles: Map[String, String] = Map(
    "x_substr_dedup" -> substrDedupOracle,
    "x_cdc_dedup" -> cdcDedupOracle,
    "x_cdc_planted" -> cdcPlantedOracle,
    "x_dedup_clusters" -> dedupClustersOracle,
    "x_dedup_cc_star" -> dedupClustersOracle,
    "x_dedup_quality_survivors" -> qualitySurvivorsOracle,
    "x_split_leakfree" -> leakFreeSplitOracle,
    "x_decontaminate" -> decontaminateOracle,
    "x_dedup_exact_groups" -> exactGroupsOracle,
    "x_dedup_exact_survivors" -> exactSurvivorsOracle,
    "x_dedup_ngram_jaccard" -> ngramJaccardOracle,
    "x_dedup_minhash_lsh" -> minhashLshOracle,
    "x_dedup_simhash" -> simhashOracle,
    "x_dedup_minhash_containment" -> minhashLshContainmentOracle,
    "x_dedup_minhash_planted" -> minhashLshPlantedOracle,
    "x_dedup_simhash_containment" -> simhashContainmentOracle,
    "x_dedup_simhash_planted" -> simhashPlantedOracle)
}
