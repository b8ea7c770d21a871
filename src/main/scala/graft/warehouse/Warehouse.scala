package graft.warehouse

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.lake.Lake

/** The star-schema warehouse (SURVEY.md §2.A10-A11, B8-B9) — set-oriented
  * Spark replacements for the reference's per-row MySQL upserts
  * (sync_to_mysql.py:133-232, `df.iterrows()` loops).
  *
  * MERGE without Delta: read current snapshot → union updates → keep the
  * newest row per key (`row_number` over key ordered by recency) → write the
  * next version via the lake's snapshot mechanism (SURVEY.md §7.4). The
  * version-directory convention gives atomic-enough swap (readers keep the
  * old version until the new dir is complete).
  *
  * At scale: the dedup is ONE shuffle on the merge key. Updates are usually
  * ≪ the base table, so AQE/broadcast keeps the union-side cost at
  * O(base + updates); there is no per-row RPC as in the reference.
  */
object Warehouse {

  /** TRUE latest-wins upsert: the newest row per key by `orderCols` survives,
    * whether it comes from `base` or `updates`; on an exact `orderCols` tie
    * the update wins (`_src` tiebreak). The reference is last-write-wins per
    * arriving row (sync_to_mysql.py:137-142), which diverges when a batch
    * delivers rows older than the stored ones — ordering by recency first
    * makes the merged table independent of batch boundaries and arrival
    * order, which is the invariant the streaming upsert gate relies on.
    */
  def merge(base: DataFrame, updates: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((orderCols.map(col(_).desc) :+ col("_src").desc): _*)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** MERGE into a versioned warehouse table: reads the latest snapshot (if
    * any), merges, and commits version N+1 by compare-and-swap against the
    * version it read — a racing merge that committed first makes this one
    * re-read and re-merge, so neither batch's rows are lost. Returns the
    * new version.
    */
  def mergeIntoTable(
      spark: SparkSession, root: String, table: String,
      updates: DataFrame, keys: Seq[String], orderCols: Seq[String],
      retentionVersions: Int = 7): Int =
    Lake.retryLoop(table, "mergeIntoTable") { () =>
      val base = Lake.latestVersion(spark, root, table)
      // first load: still dedup the batch itself on the merge key
      val current = base.fold(updates.limit(0))(v => Lake.readTableFeed(spark, root, table, Some(v)))
      Lake.writeTableSnapshotIf(merge(current, updates, keys, orderCols), root, table,
        expectedLatest = base.getOrElse(0), retentionVersions)
    }

  /** Generic JDBC upsert writer — the literal A10/A11 sink shape (the
    * reference upserts into MySQL, sync_to_mysql.py:133-232): the same
    * latest-wins [[merge]] with the warehouse table living behind ANY JDBC
    * url. Tested against embedded Derby (the JDBC engine shipped with
    * Spark); MySQL is the identical code path with its url/driver. Set
    * oriented: ONE table read + ONE bulk write per batch, versus the
    * reference's per-row `INSERT ... ON DUPLICATE KEY UPDATE` loop over
    * `df.iterrows()`.
    *
    * The merged frame is materialized (persist + count) BEFORE the write:
    * Spark evaluates lazily and `mode("overwrite")` drops the very table
    * the merge reads from. At warehouse scale the same pattern goes
    * through a staging table + atomic rename; the cache is the single-JVM
    * equivalent.
    */
  def mergeIntoJdbc(
      spark: SparkSession, url: String, table: String,
      updates: DataFrame, keys: Seq[String], orderCols: Seq[String]): Unit =
    withMergeLock(url, table) {
      val exists = {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          // scope the probe to the CONNECTION'S catalog/schema (either may be
          // null → that dimension is unscoped): a same-named table in another
          // schema must not make the merge path read a table that doesn't
          // resolve — or worse, isn't ours — in the current schema
          val rs = conn.getMetaData.getTables(
            conn.getCatalog, conn.getSchema, null, Array("TABLE"))
          var found = false
          while (!found && rs.next())
            found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
          found
        } finally conn.close()
      }
      val base =
        if (exists)
          spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
        else updates.limit(0)
      val merged = merge(base, updates, keys, orderCols).persist()
      merged.count()
      merged.write.format("jdbc").mode("overwrite")
        .option("url", url).option("dbtable", table).save()
      merged.unpersist()
      ()
    }

  private val MergeLockTable = "graft_merge_lock"

  /** Serializes concurrent [[mergeIntoJdbc]] commits on the same table —
    * across threads AND processes sharing the database — by holding an
    * exclusive row lock on a one-row-per-table advisory lock table for the
    * whole read-merge-write. The reference's per-row `ON DUPLICATE KEY
    * UPDATE` (sync_to_mysql.py:133-144) is atomic per row, so two racing
    * batches interleave without loss; a set-oriented read-modify-write is
    * NOT — unserialized, both writers read the same base and the second
    * overwrite silently drops the first batch's rows (lost update). Under
    * the lock, commits serialize: the final table equals applying the
    * batches in commit order (latest-wins per key, every batch's keys
    * present). Waiters block on the row lock and fail per the engine's
    * lock-wait timeout (Derby `derby.locks.waitTimeout`, MySQL
    * `innodb_lock_wait_timeout`), so a crashed holder cannot wedge the
    * sink forever — its connection death releases the lock.
    */
  private def withMergeLock[A](url: String, table: String)(body: => A): A = {
    def ignoringSql(b: => Unit): Unit =
      try b catch { case _: java.sql.SQLException => () } // exists/dup-key races
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      ignoringSql {
        val st = conn.createStatement()
        try st.executeUpdate(
          s"CREATE TABLE $MergeLockTable (tbl VARCHAR(128) PRIMARY KEY)")
        finally st.close()
      }
      ignoringSql {
        val ps = conn.prepareStatement(s"INSERT INTO $MergeLockTable VALUES (?)")
        try { ps.setString(1, table); ps.executeUpdate(); () } finally ps.close()
      }
      conn.setAutoCommit(false)
      // self-assignment UPDATE: an exclusive row lock held until commit in
      // every engine (Derby's SELECT ... FOR UPDATE U-lock semantics vary
      // with isolation level; a write lock does not). The affected-row
      // count MUST be 1 — if the lock row is missing (e.g. the INSERT
      // failed for a reason ignoringSql swallowed, like a >128-char table
      // name), proceeding would mean merging with NO mutual exclusion and
      // silently losing a racing batch.
      val ps = conn.prepareStatement(
        s"UPDATE $MergeLockTable SET tbl = tbl WHERE tbl = ?")
      val locked = try { ps.setString(1, table); ps.executeUpdate() } finally ps.close()
      if (locked != 1) throw new IllegalStateException(
        s"mergeIntoJdbc: could not acquire the advisory lock row for '$table' " +
          s"($locked rows matched in $MergeLockTable) — refusing an unserialized merge")
      val r = body
      conn.commit()
      r
    } finally {
      // a body failure leaves the lock txn open; roll it back so close()
      // releases the lock instead of throwing "transaction still active"
      ignoringSql { if (!conn.getAutoCommit) conn.rollback() }
      conn.close()
    }
  }

  /** SCD Type 2 dimension history — the warehouse-native upgrade of the
    * reference's overwrite-in-place dim sync (sync_to_mysql.py:137-142,
    * which loses the previous attribute values on every update): each key
    * keeps a chain of `[valid_from, valid_to)` rows, exactly one of them
    * current.
    *
    * `base` is the history table (`key, tracked..., valid_from, valid_to,
    * is_current`); `updates` carries `key, tracked..., effective_from`.
    * Per key: a new key opens a current row; changed tracked values close
    * the current row at `effective_from` and open a new one; identical
    * tracked values are a no-op (idempotent re-delivery).
    *
    * Scale shape: closed history never re-shuffles (it unions straight
    * through); ONE key-partitioned join of current × updates, and each
    * joined row fans out to its 0-2 output rows through a single
    * `filter(array(...))` + explode projection — no second pass over the
    * join, no window. Updates are usually ≪ the dimension, so AQE
    * broadcasts them and even the join shuffle disappears.
    */
  def scd2Apply(
      base: DataFrame, updates: DataFrame, key: String,
      tracked: Seq[String]): DataFrame = {
    val cur = base.filter(col("is_current"))
    val hist = base.filter(!col("is_current"))
    val u = updates.select(
      (col(key).as("_u_key") +:
        tracked.map(t => col(t).as(s"_u_$t"))) :+
        col("effective_from").as("_u_eff"): _*)
    val joined = cur.join(u, col(key) === col("_u_key"), "full_outer")
    val hasUpd = col("_u_key").isNotNull
    val hasCur = col(key).isNotNull
    val changed = tracked.map(t => !(col(t) <=> col(s"_u_$t"))).reduce(_ || _)
    val nullTo = lit(null).cast("date")
    def variant(keep: Column, keyC: Column, trackedC: Seq[Column],
        from: Column, to: Column, isCur: Column): Column =
      struct((keep.as("_keep") +: keyC.as(key) +:
        tracked.zip(trackedC).map { case (n, c) => c.as(n) }) ++
        Seq(from.as("valid_from"), to.as("valid_to"), isCur.as("is_current")): _*)
    val variants = array(
      // current row survives untouched (no update, or a no-op update)
      variant(hasCur && (!hasUpd || !changed),
        col(key), tracked.map(col), col("valid_from"), col("valid_to"), lit(true)),
      // current row closed by a real change
      variant(hasCur && hasUpd && changed,
        col(key), tracked.map(col), col("valid_from"), col("_u_eff"), lit(false)),
      // new current row (new key, or the successor of a closed row)
      variant(hasUpd && (!hasCur || changed),
        col("_u_key"), tracked.map(t => col(s"_u_$t")), col("_u_eff"), nullTo, lit(true)))
    val applied = joined
      .select(explode(filter(variants, v => v.getField("_keep"))).as("_r"))
      .select(col("_r.*")).drop("_keep")
    hist.unionByName(applied)
  }

  /** dim_users extraction (sync_to_mysql.py:133-144) from the customer
    * table, with the reference's `updated_at` stamp.
    */
  /** Surrogate-key assignment for a dimension: natural keys arriving in a
    * batch get DENSE, STABLE warehouse ids — existing naturals keep their
    * id forever, unseen naturals get `max(existing) + dense rank among the
    * new ones` (rank ordered by natural key, so the assignment is
    * deterministic and engine-reproducible). The id-compactness every
    * star-schema fact join wants, without the instability of
    * `monotonically_increasing_id`.
    *
    * Scale shape: the anti-join and max ride on the DIMENSION (small by
    * definition next to facts); the rank window over the new naturals is
    * the one ordered step — new-arrival batches are a sliver of the dim,
    * and at extreme dim sizes the same contract holds with a two-level
    * (bucket, rank-within-bucket) assignment.
    */
  def assignSurrogateKeys(
      existing: DataFrame, batch: DataFrame, naturalCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = existing.agg(coalesce(max(col("sk")), lit(0L)).as("mx"))
    val fresh = batch.select(col(naturalCol)).distinct()
      .join(existing, Seq(naturalCol), "left_anti")
      .withColumn("rk", dense_rank().over(Window.orderBy(col(naturalCol))))
      .crossJoin(broadcast(maxId))
      .select(col(naturalCol), (col("mx") + col("rk")).as("sk"))
    existing.unionByName(fresh)
  }

  def dimUsers(customer: DataFrame, updatedAt: Date): DataFrame =
    customer.select(
      col("c_custkey").as("user_id"),
      col("c_name").as("user_name"),
      col("c_nationkey").cast("int").as("user_nation"),
      col("c_mktsegment").as("user_segment"),
      lit(updatedAt).as("updated_at"))

  /** Snapshot lineage stamps (sync_to_mysql.py:336): every fact row carries
    * the export that produced it.
    */
  def stampSnapshot(fact: DataFrame, snapshotDate: Date, version: Int): DataFrame =
    fact.withColumn("snapshot_date", lit(snapshotDate))
      .withColumn("snapshot_version", lit(version))

  /** Referential check (sync_to_mysql.py:150-151: unknown FK raises):
    * fail-fast wrapper over the shared anti-join audit
    * (graft.governance.Quality.orphans); throws with a sample of orphans.
    */
  def requireFkIntact(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String): Unit = {
    val sample = graft.governance.Quality.orphans(fact, dim, factKey, dimKey)
      .limit(5).collect()
    if (sample.nonEmpty)
      throw new IllegalStateException(
        s"referential integrity violation: $factKey values missing in dim: " +
          sample.map(_.get(0)).mkString(", "))
  }
}
