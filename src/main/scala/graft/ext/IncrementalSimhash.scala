package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.withPersisted
import graft.lake.{CopyOnWrite, Lake}
import graft.lake.Lake.readTableFeed
import graft.queries.Q.QueryFn
import graft.streaming.Streams

/** Incremental maintenance of the SimHash near-dup index — the
  * growing-corpus form of [[Dedup.simhashPairsOver]], completing the
  * incremental family (minhash: [[IncrementalLsh]]; edit distance:
  * [[IncrementalFuzzy]]).
  *
  * State lives at the DISTINCT-SKETCH level, the natural collapse for
  * SimHash: pair membership depends on nothing but the 64-bit sketch, and
  * identical texts have identical sketches, so "one row per distinct
  * sketch" subsumes the batch pipeline's exact-dup pre-collapse AND makes
  * appends ORDER-INDEPENDENT (no monotone-id contract — nothing ranks by
  * id; a re-ingested duplicate text costs one membership probe, never
  * re-banding).
  *
  * State: one lake table per state table under a root:
  *  - `members`:  (doc_id, simhash) every ingested doc — appended.
  *  - `sks`:      the DISTINCT sketches ever indexed — appended.
  *  - `chunks`:   (chunk_idx, chunk_val, simhash) 4×16-bit band postings
  *    of those sketches — appended; the blocking index.
  *  - `pairs_sk`: (sk_a, sk_b, hamming) verified distinct-sketch pairs at
  *    Hamming 1..3, one orientation (sk_a < sk_b) — append-only.
  *
  * An append commits only the batch's new files to each table
  * ([[CopyOnWrite.appendEpoch]]), stamping one epoch receipt, `sks`
  * last: a re-run of an interrupted append skips the tables that hold its
  * receipt and commits the rest.
  *
  * An append batch costs O(new sketches): only sketches NEW to the index
  * are banded; candidates come from one equi-join of the new postings
  * against old ∪ new (so new-new pairs stay discoverable while generation
  * is restricted to the new frontier), and only pairs touching a new
  * sketch can emerge — the stored pair set is never re-verified or
  * duplicated. By the pigeonhole property (any two sketches within
  * Hamming 3 agree on ≥ 1 of the 4 chunks — the same completeness
  * contract `x_dedup_simhash_containment` pins for the batch pipeline)
  * the banded pair set equals all-pairs Hamming ≤ 3 over distinct
  * sketches, so '''append-then-incremental ≡ full recompute''', verified
  * hash-exactly against the planted brute-force oracle.
  *
  * Member-level pairs expand at READ time ([[pairs]]): cross-sketch pairs
  * via two output-sized joins, identical-sketch member pairs at Hamming 0
  * directly — exactly the batch pipeline's expansion. (The batch
  * pipeline's per-bucket cap is a one-shot skew bound incompatible with
  * stable appends — a later sketch could displace bucket membership — so
  * the incremental index relies on the structural collapse instead: a
  * bucket holds distinct SKETCHES, and the boilerplate mass that makes
  * buckets hot is exact duplication, which never reaches a bucket here.)
  */
object IncrementalSimhash {

  /** 4×16-bit chunk postings of a (simhash) sketch table — the same
    * banding as [[Dedup.simhashPairsOver]].
    */
  private def chunkPostings(sks: DataFrame): DataFrame =
    sks.select(
      col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk_idx"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("chunk_val"))): _*))
        .as("ch"))
      .select(col("ch.chunk_idx").as("chunk_idx"),
        col("ch.chunk_val").as("chunk_val"), col("simhash"))

  /** Verified sketch pairs between `probe` postings and `all` postings:
    * one orientation, Hamming computed from the sketches themselves
    * (1..3; 0 is impossible — the sketches of a candidate pair differ).
    * Only pairs touching a probe sketch can emerge — the new-pair
    * frontier on an append.
    */
  private def newSketchPairs(probe: DataFrame, all: DataFrame): DataFrame =
    probe.select(col("chunk_idx"), col("chunk_val"), col("simhash").as("_p"))
      .join(all.select(col("chunk_idx"), col("chunk_val"), col("simhash").as("_q")),
        Seq("chunk_idx", "chunk_val"))
      .filter(col("_p") =!= col("_q"))
      .select(least(col("_p"), col("_q")).as("sk_a"),
        greatest(col("_p"), col("_q")).as("sk_b"))
      .withColumn("hamming", bit_count(col("sk_a").bitwiseXOR(col("sk_b"))))
      .filter(col("hamming") <= 3)
      .distinct()

  /** Build the index from an initial doc batch (doc_id, text). */
  def init(docs: DataFrame, root: String): Unit = {
    val s = docs.sparkSession
    Lake.writeTableSnapshot(Dedup.simhashSketches(docs), root, "members")
    Lake.writeTableSnapshot(
      readTableFeed(s, root, "members").select(col("simhash")).distinct(), root, "sks")
    Lake.writeTableSnapshot(chunkPostings(readTableFeed(s, root, "sks")), root, "chunks")
    val chunks = readTableFeed(s, root, "chunks")
    Lake.writeTableSnapshot(newSketchPairs(chunks, chunks), root, "pairs_sk")
  }

  /** Absorb an append batch: sketch the new docs, band only sketches new
    * to the index, verify only pairs touching them, append. No id
    * ordering required — all state is sketch-level.
    */
  def append(docs: DataFrame, root: String): Unit = {
    val s = docs.sparkSession
    val epoch = Streams.nextIndexEpoch(s, root, "sks")
    def commit(t: String, df: DataFrame): Unit =
      CopyOnWrite.appendEpoch(df, root, t, Streams.IndexSink, epoch)
    withPersisted(Dedup.simhashSketches(docs)) { batchSk =>
      commit("members", batchSk)
      withPersisted(batchSk.select(col("simhash")).distinct()
          .join(readTableFeed(s, root, "sks"), Seq("simhash"), "left_anti")) { newSks =>
        if (!newSks.isEmpty) withPersisted(chunkPostings(newSks)) { newChunks =>
          commit("pairs_sk", newSketchPairs(
            newChunks, readTableFeed(s, root, "chunks").unionByName(newChunks)))
          commit("chunks", newChunks)
        }
        // the frontier commits on every append, empty or not: its receipt
        // numbers the next append's epoch
        commit("sks", newSks)
      }
    }
  }

  /** Compact the index state: every table is a deterministic set, so
    * distinct + rewrite preserves the index exactly. Each table is one
    * compare-and-swap snapshot ([[Lake.rewriteTable]]).
    */
  def compact(s: SparkSession, root: String, filesPerTable: Int = 1): Unit =
    Seq("members", "sks", "chunks", "pairs_sk").foreach(t =>
      Lake.rewriteTable(s, root, t)(_.distinct().coalesce(filesPerTable)))

  /** Erase members (right-to-be-forgotten for derived state — the
    * [[IncrementalFuzzy.erase]] contract applied here): members are
    * rewritten without the erased ids, then sketches no surviving member
    * carries are purged from `chunks`, `pairs_sk` and, last because the
    * orphans are read from it, `sks`. A sketch is a lossy content
    * digest, but it is still DERIVED from the erased text — compliance
    * postures that treat digests as personal data get
    * state-level forgetting, everyone gets output-level forgetting. Each
    * table is one compare-and-swap rewrite keeping one version, so the
    * purged rows leave every version; an interrupted erasure converges
    * when run again.
    */
  def erase(s: SparkSession, root: String, ids: DataFrame): Unit = {
    def purge(t: String)(keep: DataFrame => DataFrame): Unit =
      Lake.rewriteTable(s, root, t, retentionVersions = 1)(keep)
    val gone = ids.select(col("doc_id")).distinct()
    purge("members")(_.join(gone, Seq("doc_id"), "left_anti"))
    // materialized before the next commit: each rewrite's one-version
    // prune deletes the files `orphans` would otherwise re-read
    val orphans = readTableFeed(s, root, "sks")
      .join(readTableFeed(s, root, "members").select(col("simhash")).distinct(),
        Seq("simhash"), "left_anti")
      .localCheckpoint()
    purge("chunks")(_.join(orphans, Seq("simhash"), "left_anti"))
    purge("pairs_sk")(_
      .join(orphans.select(col("simhash").as("sk_a")), Seq("sk_a"), "left_anti")
      .join(orphans.select(col("simhash").as("sk_b")), Seq("sk_b"), "left_anti"))
    purge("sks")(_.join(orphans, Seq("simhash"), "left_anti"))
  }

  /** The maintained member-level pair set (doc_a, doc_b, hamming),
    * doc_a < doc_b — expanded from sketch-level state at read time.
    * Replay tolerance as in [[IncrementalFuzzy.pairs]]: all stored rows
    * are deterministic functions of the corpus, so the distinct() reads
    * make a slice appended twice invisible.
    */
  def pairs(s: SparkSession, root: String): DataFrame = {
    val members = readTableFeed(s, root, "members").distinct()
    val sp = readTableFeed(s, root, "pairs_sk").distinct()
    val memA = members.select(col("doc_id").as("id_x"), col("simhash").as("sk_a"))
    val memB = members.select(col("doc_id").as("id_y"), col("simhash").as("sk_b"))
    val cross = sp.join(memA, Seq("sk_a")).join(memB, Seq("sk_b"))
      .select(least(col("id_x"), col("id_y")).as("doc_a"),
        greatest(col("id_x"), col("id_y")).as("doc_b"), col("hamming"))
    val l = members.select(col("doc_id").as("doc_a"), col("simhash"))
    val r = members.select(col("doc_id").as("doc_b"), col("simhash"))
    val within = l.join(r, Seq("simhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).cast("int").as("hamming"))
    cross.unionByName(within)
  }

  /** Gate: init on the planted base docs with id < 50, two appends for
    * the rest (split points arbitrary — sketch-level state makes appends
    * order-independent); the final maintained pair set must hash-match
    * the brute-force planted oracle, the same contract the batch
    * `x_dedup_simhash_planted` gate answers: append-then-incremental ≡
    * full recompute.
    */
  def simhashIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_isim_").toString
    val docs = Dedup.plantedDocs(s)
    init(docs.filter(col("doc_id") < 50), root)
    append(docs.filter(col("doc_id") >= 50 && col("doc_id") < 1010), root)
    append(docs.filter(col("doc_id") >= 1010), root)
    pairs(s, root)
  }

  /** Gate: the same maintenance driven by Structured Streaming
    * micro-batches with the at-least-once replay guard
    * ([[Streams.streamAppends]]) — batch boundaries must be invisible in
    * the final pair set.
    */
  def streamSimhashIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_ssim_").toString
    withPersisted(Dedup.plantedDocs(s)) { docs =>
      init(docs.filter(col("doc_id") < 50), root)
      Streams.streamAppends(root, "sks", docs.filter(col("doc_id") >= 50),
        (col("doc_id") >= 1010).cast("int"))(append(_, root))
    }
    pairs(s, root)
  }

  /** Gate (c25): build incrementally, then [[erase]] every doc with
    * id % 7 == 3. A planted pair (i, 1000+i) survives iff BOTH members
    * do, and a group whose two members are both erased (i ≡ 3 mod 7 has
    * no twin surviving when 1000+i ≡ 3 mod 7 never coincides — but
    * i = 3, 10, 17 lose the base while i = 4, 11, 18 lose the twin) gets
    * its sketch orphan-purged, which the ExtSpec pin checks at the state
    * level; here the oracle checks the output level exactly.
    */
  def simhashErasure(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_esim_").toString
    val docs = Dedup.plantedDocs(s)
    init(docs.filter(col("doc_id") < 50), root)
    append(docs.filter(col("doc_id") >= 50), root)
    erase(s, root, docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    pairs(s, root)
  }

  val simhashErasureOracle: String =
    """SELECT id AS doc_a, id + 1000 AS doc_b, 0 AS hamming
      |FROM range(0, 20) t(id)
      |WHERE id % 7 <> 3 AND (id + 1000) % 7 <> 3""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "x_simhash_incremental" -> (simhashIncremental _),
    "c25_simhash_erasure" -> (simhashErasure _),
    "s_stream_simhash_index" ->
      graft.streaming.Streams.withReducedShuffle(streamSimhashIndex _))

  val oracles: Map[String, String] = Map(
    "x_simhash_incremental" -> Dedup.simhashPlantedOracle,
    "c25_simhash_erasure" -> simhashErasureOracle,
    "s_stream_simhash_index" -> Dedup.simhashPlantedOracle)
}
