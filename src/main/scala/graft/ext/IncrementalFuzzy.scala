package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.withPersisted
import graft.lake.{CopyOnWrite, Lake}
import graft.lake.Lake.readTableFeed
import graft.queries.Q.QueryFn
import graft.streaming.Streams

/** Incremental maintenance of the edit-distance (fuzzy) match index — the
  * growing-corpus form of [[FuzzyJoin.edSelfJoin]]: a continuously-ingested
  * entity stream keeps its ≤`maxDist` pair set current without ever
  * re-blocking the corpus.
  *
  * State: one lake table per state table under a root (`Lake.tablePath`),
  * each version a whole snapshot:
  *  - `members`:  (id, s) every ingested row — appended.
  *  - `strs`:     the DISTINCT strings ever indexed — appended.
  *  - `keys`:     (k, s) deletion-neighborhood postings of those strings —
  *    appended; the blocking index.
  *  - `pairs_str`: (s_a, s_b, dist) verified distinct-string pairs, one
  *    orientation (s_a < s_b) — append-only.
  *
  * An append commits only the batch's new files to each table
  * ([[CopyOnWrite.appendEpoch]], earlier files carried by the manifest),
  * stamping one epoch receipt, `strs` last: a re-run of an interrupted
  * append skips the tables that hold its receipt and commits the rest.
  *
  * An append batch costs O(new strings): only strings NEW to the index are
  * neighborhood-expanded; candidates come from joining the new postings
  * against the full posting table (one equi-join keyed on the short
  * deletion key — never a rescan of stored pairs), and only pairs touching
  * a new string can be generated, so the stored pair set is never
  * re-verified or duplicated. Because ALL state is at the distinct-string
  * level, appends are ORDER-INDEPENDENT — no monotone-id contract (the
  * LSH index needs one for its id-ranked bucket cap; nothing here ranks by
  * id), and duplicated strings cost one `strs` membership probe, never
  * re-blocking.
  *
  * Member-level pairs are EXPANDED AT READ TIME from the linear state
  * ([[pairs]]): cross-string pairs via two output-sized joins, dist-0
  * pairs from identical-string members directly — exactly
  * [[FuzzyJoin.edSelfJoin]]'s construction, so
  * '''append-then-incremental ≡ full recompute''', which the gates verify
  * hash-exactly against the same DuckDB all-pairs oracle as the batch
  * operator.
  */
object IncrementalFuzzy {

  private def distinctStrs(df: DataFrame): DataFrame =
    df.select(col("s")).filter(col("s").isNotNull).distinct()

  private def postings(strs: DataFrame, maxDist: Int): DataFrame =
    strs.withColumn("k", explode(FuzzyJoin.neighborhood(col("s"), maxDist)))

  /** Verified string pairs between `probe` postings and `all` postings,
    * normalized to one orientation; only pairs touching a probe string
    * can emerge, which is exactly the new-pair frontier on an append.
    */
  private def newStringPairs(
      probe: DataFrame, all: DataFrame, maxDist: Int): DataFrame =
    probe.select(col("k"), col("s").as("_p"))
      .join(all.select(col("k"), col("s").as("_q")), Seq("k"))
      .filter(col("_p") =!= col("_q"))
      .select(least(col("_p"), col("_q")).as("s_a"),
        greatest(col("_p"), col("_q")).as("s_b"))
      // verify BEFORE the pair dedup, same as the batch pipeline: only
      // true pairs reach the distinct's exchange
      .withColumn("dist", org.apache.spark.sql.graft.TextExpressions
        .editDistanceCapped(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") <= maxDist)
      .distinct()

  /** Build the index from an initial batch of (id, s) rows. */
  def init(rows: DataFrame, root: String, maxDist: Int): Unit = {
    val s = rows.sparkSession
    Lake.writeTableSnapshot(rows.select(col("id"), col("s")), root, "members")
    Lake.writeTableSnapshot(distinctStrs(rows), root, "strs")
    Lake.writeTableSnapshot(postings(readTableFeed(s, root, "strs"), maxDist), root, "keys")
    val keys = readTableFeed(s, root, "keys")
    Lake.writeTableSnapshot(newStringPairs(keys, keys, maxDist), root, "pairs_str")
  }

  /** Absorb an append batch: index only strings new to the corpus, verify
    * only pairs touching them, append. No id ordering required.
    */
  def append(rows: DataFrame, root: String, maxDist: Int): Unit = {
    val s = rows.sparkSession
    val epoch = Streams.nextIndexEpoch(s, root, "strs")
    def commit(t: String, df: DataFrame): Unit =
      CopyOnWrite.appendEpoch(df, root, t, Streams.IndexSink, epoch)
    commit("members", rows.select(col("id"), col("s")))
    withPersisted(distinctStrs(rows)
        .join(readTableFeed(s, root, "strs"), Seq("s"), "left_anti")) { newStrs =>
      if (!newStrs.isEmpty) withPersisted(postings(newStrs, maxDist)) { newKeys =>
        // probe BEFORE appending the new postings, against old ∪ new — the
        // union keeps new-new pairs discoverable while the left side
        // restricts generation to the new frontier
        commit("pairs_str", newStringPairs(
          newKeys, readTableFeed(s, root, "keys").unionByName(newKeys), maxDist))
        commit("keys", newKeys)
      }
      // the frontier commits on every append, empty or not: its receipt
      // numbers the next append's epoch
      commit("strs", newStrs)
    }
  }

  /** The maintained member-level pair set (id_a, id_b, dist), id_a < id_b
    * — expanded from the string-level state at read time.
    *
    * Replay tolerance: every stored row is a DETERMINISTIC function of the
    * corpus (member rows verbatim; string pairs of the distinct strings),
    * so the same rows appended twice (two [[append]] calls over one
    * slice) can only duplicate rows verbatim, never diverge them. The
    * `distinct()` on both reads restores set semantics, making such a
    * replay invisible here (on clean state it deduplicates an
    * already-distinct set — a no-op for results).
    */
  def pairs(s: SparkSession, root: String): DataFrame = {
    val members = readTableFeed(s, root, "members").distinct()
    val sp = readTableFeed(s, root, "pairs_str").distinct()
    val memA = members.select(col("id").as("id_x"), col("s").as("s_a"))
    val memB = members.select(col("id").as("id_y"), col("s").as("s_b"))
    val cross = sp.join(memA, Seq("s_a")).join(memB, Seq("s_b"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("dist"))
    val l = members.select(col("id").as("id_a"), col("s"))
    val r = members.select(col("id").as("id_b"), col("s"))
    val dup = l.join(r, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    cross.unionByName(dup)
  }

  private def customerRows(s: SparkSession, d: String): DataFrame =
    graft.Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))

  /** Gate: init on customers with key < 500, two appends for the rest —
    * the final maintained pair set must hash-match the batch operator's
    * all-pairs oracle, proving append-then-incremental ≡ full recompute
    * (the split points are arbitrary: string-level state makes appends
    * order-independent).
    */
  def fuzzyIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_ifuzzy_").toString
    val rows = customerRows(s, d)
    init(rows.filter(col("id") < 500), root, maxDist = 1)
    append(rows.filter(col("id") >= 500 && col("id") < 1000), root, maxDist = 1)
    append(rows.filter(col("id") >= 1000), root, maxDist = 1)
    pairs(s, root)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Gate: the same maintenance driven by Structured Streaming micro-
    * batches ([[Streams.streamAppends]]) — a continuously
    * ingested entity feed keeping its fuzzy-match index current; batch
    * boundaries must be invisible in the final pair set.
    */
  def streamFuzzyIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_sfuzzy_").toString
    withPersisted(customerRows(s, d)) { rows =>
      init(rows.filter(col("id") < 500), root, maxDist = 1)
      Streams.streamAppends(root, "strs", rows.filter(col("id") >= 500),
        (col("id") >= 1000).cast("int"))(append(_, root, maxDist = 1))
    }
    pairs(s, root)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Compact the index state: rewrite each state table deduplicated and
    * coalesced to `filesPerTable` files. Append-only maintenance
    * accumulates one small file batch per append — at crawl cadence that
    * is the classic small-files problem (every index read lists and opens
    * O(appends) files); compaction is the periodic maintenance op that
    * restores O(1) file counts, and because EVERY state table is a
    * deterministic SET (members verbatim, distinct strings, their
    * postings, verified string pairs), `distinct + rewrite` is exactly
    * equivalence-preserving — the gate proves pairs() is hash-identical
    * across a compaction. Each table is one compare-and-swap snapshot
    * ([[Lake.rewriteTable]]): readers see its old or its new version,
    * never a missing table. Tables publish one at a time; an interrupted
    * compaction leaves each table at a whole version, and running it
    * again converges.
    */
  def compact(s: SparkSession, root: String, filesPerTable: Int = 1): Unit =
    Seq("members", "strs", "keys", "pairs_str").foreach(t =>
      Lake.rewriteTable(s, root, t)(_.distinct().coalesce(filesPerTable)))

  /** Gate: the incremental build of [[fuzzyIncremental]] followed by a
    * compaction — the maintained pair set must still hash-match the batch
    * all-pairs oracle, proving compaction is invisible in results while
    * the ExtSpec pin proves it actually collapsed the file counts.
    */
  def fuzzyCompact(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_cfuzzy_").toString
    val rows = customerRows(s, d)
    init(rows.filter(col("id") < 1000), root, maxDist = 1)
    append(rows.filter(col("id") >= 1000), root, maxDist = 1)
    compact(s, root)
    pairs(s, root)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** ERASE members from the index — right-to-be-forgotten applied to
    * DERIVED state, the compliance requirement `c9_gdpr_erasure` covers
    * for lake tables and this op extends to the index: deleting a person
    * from the corpus is not enough when their name still sits in the
    * index's string/posting/pair tables. Two-stage rewrite, each table one
    * compare-and-swap snapshot as in [[compact]], keeping one version, so
    * the erased rows leave every version of the table:
    *
    *  1. `members` rewritten without the erased ids — output-level
    *     forgetting ([[pairs]] expands only through member rows, so every
    *     pair touching an erased id vanishes immediately).
    *  2. Strings no remaining member carries are ORPHANS — PII with no
    *     surviving subject — and are purged from `keys`, `pairs_str` and
    *     then `strs` (state-level forgetting: the erased name is gone
    *     from every byte of index state, not just unreachable). The
    *     orphans are read from `strs`, so it is purged last.
    *
    * A string shared with surviving members stays — it is still those
    * members' data. Cost: one anti-join rewrite per table, O(index); runs
    * at erasure cadence, not ingest cadence. An interrupted erasure leaves
    * each table at a whole version; running it again finds the same
    * orphans and converges.
    */
  def erase(s: SparkSession, root: String, ids: DataFrame): Unit = {
    def purge(t: String)(keep: DataFrame => DataFrame): Unit =
      Lake.rewriteTable(s, root, t, retentionVersions = 1)(keep)
    val gone = ids.select(col("id")).distinct()
    purge("members")(_.join(gone, Seq("id"), "left_anti"))
    // materialized before the next commit: each rewrite's one-version
    // prune deletes the files `orphans` would otherwise re-read
    val orphans = readTableFeed(s, root, "strs")
      .join(readTableFeed(s, root, "members").select(col("s")).distinct(),
        Seq("s"), "left_anti")
      .localCheckpoint()
    purge("keys")(_.join(orphans, Seq("s"), "left_anti"))
    purge("pairs_str")(_
      .join(orphans.select(col("s").as("s_a")), Seq("s_a"), "left_anti")
      .join(orphans.select(col("s").as("s_b")), Seq("s_b"), "left_anti"))
    purge("strs")(_.join(orphans, Seq("s"), "left_anti"))
  }

  /** Gate (c23): incremental build, then erasure of every id divisible by
    * 100 — the maintained pair set must equal the all-pairs oracle over
    * the SURVIVING customers only (derived data forgets too), and the
    * ExtSpec pin proves fully-orphaned strings vanish from every state
    * table, not merely from results.
    */
  def fuzzyIndexErasure(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_efuzzy_").toString
    val rows = customerRows(s, d)
    init(rows.filter(col("id") < 1000), root, maxDist = 1)
    append(rows.filter(col("id") >= 1000), root, maxDist = 1)
    erase(s, root, rows.filter(col("id") % 100 === 0).select(col("id")))
    pairs(s, root)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  val fuzzyIndexErasureOracle: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |  AND a.c_custkey % 100 <> 0 AND b.c_custkey % 100 <> 0""".stripMargin

  /** Gate (a23): the fuzzy index's own state read through the
    * versioned-lake CATALOG registered on the index root — `SELECT … FROM
    * cat.tables.pairs_str VERSION AS OF n` reads the index exactly as it
    * stood after each maintenance point: version 1 is the init commit,
    * version 2 the append's. Index state is time-travel auditable like
    * every other lake table, at no extra write. The oracle recomputes
    * BOTH generations' expected string-pair sets from the raw table, so a
    * hash match proves the v1 cut contains exactly the pre-append pairs —
    * appends never rewrote history.
    */
  def fuzzyIndexSql(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_ifuzzy_cat_").toString
    val rows = customerRows(s, d)
    init(rows.filter(col("id") < 1000), root, maxDist = 1)
    append(rows.filter(col("id") >= 1000), root, maxDist = 1)
    val cat = org.apache.spark.sql.graft.GraftCatalog.register(s, root)
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, s_a, s_b, CAST(dist AS BIGINT) AS dist " +
        s"FROM $cat.tables.pairs_str$suffix")
    q("v1", " VERSION AS OF 1").unionByName(q("v2", " VERSION AS OF 2"))
  }

  val fuzzyIndexSqlOracle: String =
    """WITH dn AS (SELECT c_name, BOOL_OR(c_custkey < 1000) AS in_v1
      |            FROM customer GROUP BY 1),
      |pairs AS (
      |  SELECT a.c_name AS s_a, b.c_name AS s_b,
      |         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
      |         a.in_v1 AND b.in_v1 AS in_v1
      |  FROM dn a JOIN dn b ON a.c_name < b.c_name
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1)
      |SELECT 'v1' AS gen, s_a, s_b, dist FROM pairs WHERE in_v1
      |UNION ALL
      |SELECT 'v2' AS gen, s_a, s_b, dist FROM pairs""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "x_fuzzy_incremental" -> (fuzzyIncremental _),
    "a23_fuzzy_index_sql" -> (fuzzyIndexSql _),
    "x_fuzzy_compact" -> (fuzzyCompact _),
    "c23_index_erasure" -> (fuzzyIndexErasure _),
    "s_stream_fuzzy_index" ->
      graft.streaming.Streams.withReducedShuffle(streamFuzzyIndex _))

  val oracles: Map[String, String] = Map(
    "x_fuzzy_incremental" -> FuzzyJoin.fuzzyCustomerPairsOracle,
    "s_stream_fuzzy_index" -> FuzzyJoin.fuzzyCustomerPairsOracle,
    "a23_fuzzy_index_sql" -> fuzzyIndexSqlOracle,
    "x_fuzzy_compact" -> FuzzyJoin.fuzzyCustomerPairsOracle,
    "c23_index_erasure" -> fuzzyIndexErasureOracle)
}
