package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.withPersisted
import graft.lake.{CopyOnWrite, Lake}
import graft.lake.Lake.readTableFeed
import graft.queries.Q.QueryFn
import graft.streaming.Streams

/** Incremental maintenance of the MinHash-LSH near-dup index — the real
  * operation on a GROWING 100-TB corpus, where recomputing the whole
  * pipeline per ingest batch ([[Dedup.minhashLshOver]]) would reprocess
  * 100 TB to absorb a few GB.
  *
  * State: one lake table per state table under a root:
  *  - `sigs`:  doc_id, shingle set, 32-slot minhash signature — appended,
  *    never rewritten; the shingle arrays let later appends verify
  *    candidates without re-reading document text.
  *  - `pairs`: doc_a, doc_b, jaccard — append-only verified output.
  *  - `meta`:  max_id, the id watermark — one row per append.
  *
  * An append commits only the batch's new files to each table
  * ([[CopyOnWrite.appendEpoch]]), stamping one epoch receipt, `meta`
  * last: a re-run of an interrupted append skips the tables that hold its
  * receipt and commits the rest.
  *
  * An append batch costs O(new): only new documents are shingled and
  * signed; candidate generation joins the FULL posting table down to the
  * band buckets the new signatures touch (`left_semi` on the new postings'
  * bucket keys — one equi-join keyed on the bucket, never a rescan of old
  * pairs) and keeps only pairs involving a new doc. Because appended ids
  * are required to be strictly increasing, the id-ranked bucket cap
  * ([[Dedup.cappedBucketPairs]]) never displaces an old member, so the
  * already-stored pair set stays exactly valid and
  * '''append-then-incremental ≡ full recompute''' — which is what the
  * gate and ExtSpec verify, hash-exactly, on the planted corpus.
  *
  * Composition note: this maintains the index at DOC granularity; in front
  * of it the exact-dup collapse ([[Dedup.collapseExact]]) composes the same
  * way it does for the batch pipeline (rep ids are min doc ids, so they
  * also grow monotonically under appends).
  */
object IncrementalLsh {

  val JaccardThreshold = 0.35

  /** Shingles + signature for a doc batch, one pass. The shingle-less
    * filter is a CHEAP predicate on raw text (< 3 words), deliberately not
    * `size(shingles(text)) > 0`: a post-projection filter on the UDF column
    * is deterministic and would be pushed below the fan-out repartition,
    * running the hot shingle kernel twice per row on the undistributed
    * input (the InferFiltersFromGenerate trap, predicate-pushdown edition).
    */
  private def signatures(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull && size(split(col("text"), " ")) >= 3)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .withColumn("sig", Dedup.sigOfHashes(transform(col("sh"), sv => xxhash64(sv))))

  /** Verify candidate pairs against the stored shingle arrays — identical
    * arithmetic to the batch pipeline, so jaccard values hash-match it.
    */
  private def verify(cand: DataFrame, sigs: DataFrame): DataFrame =
    cand
      .join(sigs.select(col("doc_id").as("rep_a"), col("sh").as("sh_a")), "rep_a")
      .join(sigs.select(col("doc_id").as("rep_b"), col("sh").as("sh_b")), "rep_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"), col("jaccard"))

  /** The highest doc id ever INGESTED (not just signed): shingle-less docs
    * never reach the sigs table, but their ids are still spent — computing
    * the watermark from sigs would let a later batch silently reuse them.
    * Kept as the `meta` table next to the data tables, one row per init
    * or append; the watermark is its maximum.
    */
  private def idWatermark(s: SparkSession, maxId: Long): DataFrame =
    s.range(1).select(lit(maxId).as("max_id"))

  private def readIdWatermark(s: SparkSession, root: String): Long =
    readTableFeed(s, root, "meta").agg(max(col("max_id"))).head().getLong(0)

  /** Max doc_id of a batch; None when the batch is empty. */
  private def maxId(docs: DataFrame): Option[Long] = {
    val row = docs.agg(max(col("doc_id")), min(col("doc_id"))).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Build the index from an initial corpus (may be empty — appends then
    * start from scratch).
    */
  def init(docs: DataFrame, root: String,
      maxBucket: Int = Dedup.MaxBucketDefault): Unit = {
    val s = docs.sparkSession
    Lake.writeTableSnapshot(signatures(docs), root, "sigs")
    val sigs = readTableFeed(s, root, "sigs")
    val cand = Dedup.lshCandidates(
      sigs.select(col("doc_id").as("rep_id"), col("sig")), maxBucket)
    Lake.writeTableSnapshot(verify(cand, sigs), root, "pairs")
    Lake.writeTableSnapshot(
      idWatermark(s, maxId(docs).getOrElse(Long.MinValue)), root, "meta")
  }

  /** Absorb an append batch: sign ONLY the new docs, generate only
    * new×(existing ∪ new) candidates from the touched buckets, verify,
    * append. New doc ids must be strictly greater than every indexed id
    * (the append contract that keeps the id-ranked cap — and therefore the
    * stored pair set — stable).
    */
  def append(newDocs: DataFrame, root: String,
      maxBucket: Int = Dedup.MaxBucketDefault): Unit = {
    val s = newDocs.sparkSession
    val maxOld = readIdWatermark(s, root)
    val bounds = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(!bounds.isNullAt(0), "IncrementalLsh.append: append batch is empty")
    val (minNew, maxNew) = (bounds.getLong(0), bounds.getLong(1))
    require(minNew > maxOld,
      s"IncrementalLsh.append: new ids must exceed all ingested ids ($minNew <= $maxOld)")
    val epoch = Streams.nextIndexEpoch(s, root, "meta")
    def commit(t: String, df: DataFrame): Unit =
      CopyOnWrite.appendEpoch(df, root, t, Streams.IndexSink, epoch)
    withPersisted(signatures(newDocs)) { newSigs =>
      commit("sigs", newSigs)
      // distinct: signatures are a deterministic function of (doc_id, text),
      // so verbatim duplicate rows are the only kind there can be — dedup
      // here keeps the bucket cap and the verify joins exact whatever the
      // state holds; on clean state it is a no-op
      val all = readTableFeed(s, root, "sigs").distinct()
      val touched = Dedup.bandBuckets(
        newSigs.select(col("doc_id").as("rep_id"), col("sig")))
        .select(col("band_idx"), col("band_hash")).distinct()
      val allBuckets = Dedup.bandBuckets(
        all.select(col("doc_id").as("rep_id"), col("sig")))
        .join(touched, Seq("band_idx", "band_hash"), "left_semi")
      val cand = Dedup.cappedBucketPairs(
        allBuckets, Seq("band_idx", "band_hash"), maxBucket)
        // rep_a < rep_b and new ids are the highest, so "pair involves a new
        // doc" ⟺ rep_b is new; old-old pairs in touched buckets are already
        // stored and must not re-verify or duplicate
        .filter(col("rep_b") > maxOld)
      commit("pairs", verify(cand, all))
    }
    commit("meta", idWatermark(s, maxNew))
  }

  /** Erase docs from the index: `sigs` rows (which carry the
    * content-derived shingle arrays — the PII-bearing state) and every
    * stored pair touching an erased id are rewritten away. The id
    * WATERMARK is deliberately untouched: erased ids stay SPENT — freeing
    * them for reuse would let a future append violate the id-ranked
    * bucket-cap stability the whole append contract rests on. Each table
    * is one compare-and-swap rewrite keeping one version, so the erased
    * rows leave every version.
    */
  def erase(s: SparkSession, root: String, ids: DataFrame): Unit = {
    // materialized before the first commit: `ids` may read index state,
    // whose files the one-version prune of `sigs` deletes
    val gone = ids.select(col("doc_id")).distinct().localCheckpoint()
    Lake.rewriteTable(s, root, "sigs", retentionVersions = 1)(
      _.join(gone, Seq("doc_id"), "left_anti"))
    Lake.rewriteTable(s, root, "pairs", retentionVersions = 1)(_
      .join(gone.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(gone.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti"))
  }

  /** Compact the index state: sigs and pairs are deterministic sets, so
    * distinct + rewrite preserves the index exactly; the id watermark
    * (`meta`, one row per append) folds to its one maximum row, which
    * [[readIdWatermark]] reads the same.
    */
  def compact(s: SparkSession, root: String, filesPerTable: Int = 1): Unit = {
    Seq("sigs", "pairs").foreach(t =>
      Lake.rewriteTable(s, root, t)(_.distinct().coalesce(filesPerTable)))
    Lake.rewriteTable(s, root, "meta")(_.agg(max(col("max_id")).as("max_id")))
  }

  /** The maintained near-dup pair table. Verified pairs are deterministic
    * per (doc_a, doc_b), so the read-time distinct restores set semantics
    * whatever verbatim duplicates the state holds; on clean state it
    * deduplicates an already-distinct set.
    */
  def pairs(s: SparkSession, root: String): DataFrame =
    readTableFeed(s, root, "pairs").distinct()

  /** Gate: init on the 100 planted base docs, then TWO incremental appends
    * of 10 exact duplicates each — the final maintained pair table must
    * equal brute-force Jaccard over the whole corpus (the same oracle the
    * one-shot planted pipeline answers), proving append-then-incremental ≡
    * full recompute with no duplicated or lost pairs across appends.
    */
  def lshIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_ilsh_").toString
    val docs = Dedup.plantedDocs(s)
    init(docs.filter(col("doc_id") < 100), root)
    append(docs.filter(col("doc_id") >= 1000 && col("doc_id") < 1010), root)
    append(docs.filter(col("doc_id") >= 1010), root)
    pairs(s, root)
  }

  /** Gate: the SAME maintenance driven by Structured Streaming — documents
    * arrive as micro-batches ([[Streams.streamAppends]]), each
    * appended to the persisted index in arrival order, the canonical shape of a
    * continuously-ingested corpus keeping its near-dup index current
    * (crawl ids grow monotonically, satisfying the append contract). The
    * final maintained pair table must equal brute-force Jaccard over
    * everything ingested — batch boundaries invisible.
    */
  def streamLshIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_slsh_").toString
    withPersisted(Dedup.plantedDocs(s)) { docs =>
      init(docs.filter(col("doc_id") < 100), root)
      // two arrival chunks in id order (ids grow with arrival time in a crawl)
      Streams.streamAppends(root, "meta", docs.filter(col("doc_id") >= 1000),
        (col("doc_id") >= 1010).cast("int"))(append(_, root))
    }
    pairs(s, root)
  }

  /** Gate (c24): build incrementally, then [[erase]] every doc with
    * id % 7 == 3 — the erased set hits base docs AND planted twins, so
    * the maintained pair table must equal brute-force Jaccard over the
    * SURVIVORS only (sound because removing docs can never create pairs:
    * the survivor-restricted truth is exactly the full truth minus pairs
    * touching an erased id, which is what the anti-join rewrite keeps).
    * The ExtSpec pin proves the state side: signature rows purged, erased
    * ids stay spent.
    */
  def lshErasure(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_elsh_").toString
    val docs = Dedup.plantedDocs(s)
    init(docs.filter(col("doc_id") < 100), root)
    append(docs.filter(col("doc_id") >= 1000), root)
    erase(s, root, docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    pairs(s, root)
  }

  val lshErasureOracle: String =
    s"""SELECT * FROM (${Dedup.minhashLshPlantedOracle})
      |WHERE doc_a % 7 <> 3 AND doc_b % 7 <> 3""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "x_dedup_lsh_incremental" -> (lshIncremental _),
    "c24_lsh_erasure" -> (lshErasure _),
    "s_stream_lsh_index" ->
      graft.streaming.Streams.withReducedShuffle(streamLshIndex _))

  val oracles: Map[String, String] = Map(
    "x_dedup_lsh_incremental" -> Dedup.minhashLshPlantedOracle,
    "c24_lsh_erasure" -> lshErasureOracle,
    "s_stream_lsh_index" -> Dedup.minhashLshPlantedOracle)
}
