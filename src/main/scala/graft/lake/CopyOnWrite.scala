package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-GRANULAR copy-on-write mutations over the versioned snapshot
  * layout — the scale completion of the catalog's row-level SQL surface.
  *
  * The group-based ReplaceData path (GraftCatalog `newRowLevelOperationBuilder`)
  * rewrites the WHOLE snapshot per statement: correct, but at 100 TB an
  * UPDATE touching 0.01% of rows must not rewrite 100 TB. These operators
  * rewrite ONLY the files that contain affected rows and carry every other
  * file BY REFERENCE in the new version's [[Lake.manifestName]] manifest
  * (the Iceberg/Delta copy-on-write idea applied to the version-directory
  * layout):
  *
  *  1. PROBE — one column-pruned, filter-pushed scan computes the distinct
  *     `_metadata.file_path` set containing matched rows (parquet footer
  *     stats skip non-matching row groups; only matched FILE NAMES reach
  *     the driver — O(touched files), never row data).
  *  2. REWRITE — only the touched files are re-read; the mutation is
  *     applied; survivors (plus MERGE inserts) are written physically into
  *     the staged version dir.
  *  3. CARRY — untouched files are listed root-relative in the staged
  *     `_manifest`; readers resolve them via [[Lake.snapshotFiles]], and
  *     [[Retention.pruneTableVersions]] keeps referenced version dirs
  *     alive transitively. Files carried from ANOTHER table's dirs (a
  *     mutation on a shallow-cloned branch) pin those foreign version dirs
  *     with the same `_pin_<table>` marker the clone protocol uses
  *     ([[Lake.dropTable]] releases them when the table is retired).
  *  4. COMMIT — the staged dir promotes through the same CAS
  *     ([[Lake.promoteStagedIf]]) every other read-modify-write uses;
  *     a lost race re-probes against the new latest and retries, so
  *     concurrent writers serialize with no lost updates.
  *
  * Semantics mirror the SQL statements exactly (three-valued logic: a row
  * matches only where the predicate IS TRUE), so the a26b gate hashes
  * against the same DuckDB oracle as the whole-snapshot a26 path.
  */
object CopyOnWrite {

  import Lake.{fs, retryLoop}

  private def norm(p: String): String = new Path(p).toUri.getPath

  private[lake] def relToRoot(root: String, abs: String): String = {
    val r = norm(root).stripSuffix("/")
    val a = norm(abs)
    require(a.startsWith(r + "/"),
      s"carried file $a is outside the lake root $r — cannot manifest it")
    a.stripPrefix(r + "/")
  }

  /** Pin the version dirs of FOREIGN carried files (a mutation on a
    * shallow-cloned branch references source-table dirs) so the SOURCE
    * table's retention cannot delete bytes this version references — the
    * same marker protocol cloneTable uses, released by [[Lake.dropTable]]
    * when this table is retired. Stamped BEFORE the commit so there is no
    * window where the reference is live but unpinned; a lost CAS leaves
    * the pin (another of our committed versions may share it —
    * conservative, reclaimed at dropTable). Shared by every
    * manifest-writing commit (COW rewrites AND merge-on-read sidecars).
    */
  private[lake] def pinForeign(
      f: org.apache.hadoop.fs.FileSystem, root: String, name: String,
      rels: Seq[String]): Unit = {
    val ownPrefix = s"tables/$name/"
    rels.filterNot(_.startsWith(ownPrefix))
      .map(rel => new Path(s"$root/$rel").getParent).distinct
      .foreach { vdir => f.create(new Path(vdir, s"_pin_$name"), true).close() }
  }

  /** Distinct files (of `files`) holding at least one row where `pred` IS
    * TRUE. The scan itself is PRUNED first ([[FilePruner]]): translatable
    * conjuncts of `pred` are evaluated against each file's stats, bucket
    * and bloom sidecars, so a selective mutation probes only candidate
    * files — `UPDATE ... WHERE k = 5` on a 100 TB table opens the files
    * whose key range covers 5, not the table. Sound on merge-on-read
    * bases too: the sidecars cover the RAW file contents, and a file they
    * exclude holds no matching raw row, so carrying it (with its sidecar
    * entries folded per the usual rules) is exactly what the unpruned
    * probe would have done. Filter-pushed, column-pruned; collects file
    * names only.
    */
  private def touchedFiles(
      spark: SparkSession, root: String, name: String, files: Seq[String],
      pred: Column, declared: Option[org.apache.spark.sql.types.StructType]): Seq[String] = {
    val candidates = FilePruner.admitFor(spark, root, name, files, declared, pred).admitted
    if (candidates.isEmpty) Nil
    else Lake.readFiles(spark, candidates, declared, withMeta = true)
      .filter(pred)
      .select(col("_metadata.file_path").as("f"))
      .distinct().collect().map(_.getString(0)).toSeq
  }

  /** Stage `rewritten` + a manifest carrying `carried` (+ the base's
    * position-delete entries for carried files, when mutating a
    * merge-on-read base — rewritten files' entries are dropped because
    * their positions changed and the rewrite applied them physically),
    * pin foreign dirs, CAS-commit. None = lost the race (caller re-probes
    * and retries).
    */
  private def commitCow(
      spark: SparkSession, root: String, name: String, expectedLatest: Int,
      rewritten: DataFrame, carried: Seq[String],
      retentionVersions: Int,
      carriedDeletes: Option[MergeOnRead.Sidecar] = None,
      declared: Option[org.apache.spark.sql.types.StructType] = None,
      markers: Seq[String] = Nil): Option[Int] = {
    val stage = Lake.newStage(root, name)
    // bucketed tables keep their layout through mutations: the rewritten
    // rows re-bucket (K touched buckets → K files; empty buckets write
    // nothing), the stamp re-verifies from the data, and the carried
    // files keep their mappings — so the exchange-free diff/probe paths
    // survive COW instead of degrading until the next full rewrite.
    // CollapseRepartition folds this into an already-bucketed input
    // (appendEpoch's policy application), so no double exchange.
    Lake.policyWriter(spark, root, name,
      BucketLayout.applyPolicy(spark, root, name, rewritten))
      .parquet(stage.toString)
    carriedDeletes.foreach(
      MergeOnRead.stageSidecar(spark, root, name, stage, MergeOnRead.deletesName, _))
    val f = fs(spark, stage.toString)
    // commit-scoped markers (the streaming sinks' epoch-receipt
    // FRONTIER): staged BEFORE the rename, so they exist in the version
    // dir exactly when the commit is visible — never a window where the
    // version is live but unmarked. Every COW commit also states that it
    // kept the row liveness of what it carries ([[Lake.livenessKeptName]])
    (markers :+ Lake.livenessKeptName)
      .foreach(m => f.create(new Path(stage, m), true).close())
    // an evolved base's declared schema carries forward (one-hop): the
    // rewritten files hold the column physically, the carried ones do not
    declared.foreach { s =>
      val so = f.create(new Path(stage, Lake.schemaName), true)
      try so.write(s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally so.close()
    }
    val rels = carried.map(relToRoot(root, _))
    pinForeign(f, root, name, rels)
    if (rels.nonEmpty) {
      val out = f.create(new Path(stage, Lake.manifestName), true)
      try out.write(rels.mkString("\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    Lake.promoteStagedIf(spark, root, name, stage, expectedLatest, retentionVersions)
  }

  /** INCREMENTAL small-file compaction — the maintenance companion to
    * [[Lake.compactTable]] that stays viable at 100 TB: a full-table
    * compact rewrites everything, but the small-files problem (streaming
    * appends, frequent tiny COW commits) lives in a sliver of the data.
    * This rewrites ONLY files under `smallBytes`, bin-packed toward
    * `targetFileBytes`, and carries every already-target-sized file by
    * reference — commit cost ∝ small bytes, not table bytes. Sidecar
    * deletes are applied to the rewritten files (their entries fold away)
    * and carried for the untouched ones, exactly like a mutation. Returns
    * the new version, or the CURRENT version unchanged when fewer than
    * two small files exist (nothing to pack — committing would churn a
    * version for no layout gain).
    */
  def compactSmallFiles(
      spark: SparkSession, root: String, name: String,
      smallBytes: Long = 32L << 20, targetFileBytes: Long = 128L << 20,
      retentionVersions: Int = 7): Int = retryLoop(name, "compactSmallFiles") { () =>
    val base = Lake.latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val files = Lake.snapshotFiles(spark, root, name, base)
    val f = fs(spark, Lake.tablePath(root, name))
    val sized = files.map(p => p -> f.getFileStatus(new Path(p)).getLen)
    val (small, big) = sized.partition(_._2 < smallBytes)
    if (small.size < 2) Some(base)
    else {
      val del = MergeOnRead.deletesOf(spark, root, name, base)
      val eq = MergeOnRead.eqDeletesOf(spark, root, name, base)
      val declared = Lake.declaredSchema(spark, root, name, base)
      val parts = math.max(1,
        math.ceil(small.map(_._2).sum.toDouble / targetFileBytes).toInt)
      val rewritten = MergeOnRead
        .readWithDeletes(spark, small.map(_._1), del, eq, declared).coalesce(parts)
      // the epoch-receipt frontier survives maintenance via the commit
      // tail's central carry ([[Lake.carryEpochFrontier]]) — no explicit
      // markers here
      commitCow(spark, root, name, base, rewritten, big.map(_._1),
        retentionVersions,
        carriedDeletes(spark, root, base, del, eq, small.map(_._1), big.map(_._1),
          declared),
        declared = if (big.nonEmpty) declared else None)
    }
  }

  /** PREDICATE-SCOPED compaction + re-clustering — the `OPTIMIZE … WHERE`
    * shape that stays viable at 100 TB: a full-table rewrite is off the
    * table, but the slice a predicate names (yesterday's partitions, one
    * tenant's key range) can be folded back into the table's declared
    * layout (`cluster_by` / zorder / `bucket_by` + `file_max_records`)
    * while everything else carries by reference. Scope = files the
    * stats/bucket/bloom sidecars ADMIT for the predicate that actually
    * hold a matching row ([[touchedFiles]] — the same probe every COW
    * mutation uses), read WHOLE with their sidecar deletes applied
    * physically (their entries fold away; carried files keep theirs —
    * the usual mutation rule). Commit cost ∝ scope bytes, never table
    * bytes. Returns the current version unchanged when the scope holds
    * fewer than two files (no layout gain to buy).
    */
  def compactWhere(
      spark: SparkSession, root: String, name: String, pred: Column,
      targetFileBytes: Long = 128L << 20,
      retentionVersions: Int = 7): Int = retryLoop(name, "compactWhere") { () =>
    val base = Lake.latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val files = Lake.snapshotFiles(spark, root, name, base)
    val declared = Lake.declaredSchema(spark, root, name, base)
    val scope = touchedFiles(spark, root, name, files, pred, declared)
    if (scope.size < 2) Some(base)
    else {
      val scopeSet = scope.map(norm).toSet
      val carried = files.filterNot(p => scopeSet.contains(norm(p)))
      val del = MergeOnRead.deletesOf(spark, root, name, base)
      val eq = MergeOnRead.eqDeletesOf(spark, root, name, base)
      val slice = MergeOnRead.readWithDeletes(spark, scope, del, eq, declared)
      // fold the slice back into the declared layout; without a policy it
      // bin-packs toward the target size (commitCow re-applies the bucket
      // policy on top — CollapseRepartition folds the double exchange)
      val props = Lake.tableProperties(spark, root, name)
      val shaped =
        if (props.contains(Lake.ClusterByProp) || BucketLayout.spec(props).isDefined)
          Lake.applyClusterPolicy(spark, root, name, slice)
        else {
          // per-file getFileStatus round-trips only on this (no-policy)
          // branch — the policied path never needs scope bytes
          val f = fs(spark, Lake.tablePath(root, name))
          val bytes = scope.map(p => f.getFileStatus(new Path(p)).getLen).sum
          val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
          slice.coalesce(parts)
        }
      commitCow(spark, root, name, base, shaped, carried, retentionVersions,
        carriedDeletes(spark, root, base, del, eq, scope, carried, declared),
        declared = if (carried.nonEmpty) declared else None)
    }
  }

  /** EPOCH-IDEMPOTENT snapshot APPEND — the streaming sink's commit into a
    * VERSIONED catalog table. Each micro-batch commits its rows as the
    * next version's own physical files plus a manifest carrying every
    * base file by reference — O(batch) bytes per epoch, never a snapshot
    * rewrite (the small files it mints are [[compactSmallFiles]]' job,
    * `CALL system.compact_files` as the maintenance loop). Exactly-once
    * across failures rides an `_epoch_<sinkId>_<epochId>` receipt staged
    * INTO the committed version dir: a foreachBatch replay (crash after
    * commit, before the checkpoint advanced) finds the receipt and
    * RETURNS instead of re-appending — epochs of one sink commit in
    * order, so the newest receipt bounds everything already applied.
    * Sidecars: position deletes carry verbatim (base files unchanged);
    * equality deletes FOLD to positions over the base files (an appended
    * row legitimately reusing a deleted key must never be swallowed — the
    * same rule every mutation applies). Concurrent writers (other sinks,
    * batch commits) serialize through the usual CAS retry.
    */
  def appendEpoch(
      batch: DataFrame, root: String, name: String,
      sinkId: String, epochId: Long,
      retentionVersions: Int = 7): Int = {
    require(sinkId.matches("[A-Za-z0-9_.-]+"),
      s"appendEpoch: sinkId '$sinkId' must match [A-Za-z0-9_.-]+ (it names marker files)")
    val spark = batch.sparkSession
    retryLoop(name, "appendEpoch") { () =>
      latestEpochOf(spark, root, name, sinkId) match {
        case Some((v, committed)) if committed >= epochId => Some(v) // replay
        case _ => Lake.latestVersion(spark, root, name) match {
          case None =>
            commitCow(spark, root, name, expectedLatest = 0,
              rewritten = Lake.applyClusterPolicy(spark, root, name, batch),
              carried = Seq.empty, retentionVersions,
              markers = Seq(s"_epoch_${sinkId}_$epochId"))
          case Some(base) =>
            val files = Lake.snapshotFiles(spark, root, name, base)
            val del = MergeOnRead.deletesOf(spark, root, name, base)
            val eq = MergeOnRead.eqDeletesOf(spark, root, name, base)
            val declared = Lake.declaredSchema(spark, root, name, base)
            val visible = Lake.visibleSchema(
              Lake.declaredOrFooter(spark, declared, files.head))
            // the cluster_by write policy applies per epoch: each
            // appended file covers a narrow key slice, so stats pruning
            // holds on streaming tables between compactions
            val aligned = Lake.applyClusterPolicy(spark, root, name,
              batch.select(visible.fieldNames.toIndexedSeq.map(col): _*))
            // only OUR receipt is stamped explicitly — every other sink's
            // newest receipt is carried by the commit tail itself
            // ([[Lake.carryEpochFrontier]], which EVERY commit path runs),
            // so the latest version always answers the replay probe and
            // receipts survive pruning of older dirs no matter which
            // operation committed last
            commitCow(spark, root, name, base, aligned, files, retentionVersions,
              carriedDeletes(spark, root, base, del, eq, Nil, files, declared),
              declared = declared,
              markers = Seq(s"_epoch_${sinkId}_$epochId"))
        }
      }
    }
  }

  /** Receipt marker grammar: `_epoch_<sinkId>_<epochId>`. `sinkId` may
    * itself contain `_`, so parsing splits at the LAST underscore (the
    * regex's greedy group backtracks until the suffix is all digits) —
    * sink `a` never matches sink `a_b`'s marker, and a digit-suffixed
    * sink (`s1`) round-trips unambiguously because writer and reader
    * agree on the last-underscore convention.
    */
  private val EpochMarkerRe = "_epoch_(.+)_([0-9]+)".r

  private[lake] def parseEpochMarker(n: String): Option[(String, Long)] =
    n match {
      case EpochMarkerRe(sink, e) =>
        scala.util.Try(e.toLong).toOption.map(sink -> _)
      case _ => None
    }

  /** The newest committed `(version, epoch)` receipt of `sinkId` — the
    * MAX across ALL live version dirs, not the first match newest-first:
    * an unconditional snapshot writer racing an epoch commit can stamp a
    * momentarily-stale frontier into a newer dir, and taking the first
    * hit there would un-commit the raced epoch. The live set is bounded
    * by retention (~`retentionVersions` dirs), so the full scan is a
    * handful of listings; [[Lake.carryEpochFrontier]] (which also takes
    * the cross-dir max) guarantees the true newest receipt is re-stamped
    * into later versions before its own dir can age out.
    */
  private[graft] def latestEpochOf(
      spark: SparkSession, root: String, name: String,
      sinkId: String): Option[(Int, Long)] = {
    val hits = for {
      v <- Lake.versions(spark, root, name)
      n <- epochMarkersOf(spark, root, name, v)
      (sink, e) <- parseEpochMarker(n) if sink == sinkId
    } yield (v, e)
    // max epoch wins; ties (the same receipt carried through several
    // dirs) resolve to the NEWEST version — the replay short-circuit
    // returns it as "the version already covering this epoch"
    if (hits.isEmpty) None else Some(hits.maxBy(h => (h._2, h._1)))
  }

  /** All `_epoch_*` receipt marker names of a version dir. */
  private[lake] def epochMarkersOf(
      spark: SparkSession, root: String, name: String, version: Int): Seq[String] = {
    val dir = new Path(s"${Lake.tablePath(root, name)}/version=v$version")
    fs(spark, Lake.tablePath(root, name)).listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_epoch_"))
  }

  /** File-granular DELETE: rows where `pred` IS TRUE are removed; files
    * without matches are carried by reference. Returns the new version.
    */
  def deleteWhere(
      spark: SparkSession, root: String, name: String, pred: Column,
      retentionVersions: Int = 7): Int = retryLoop(name, "deleteWhere") { () =>
    val base = Lake.latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val files = Lake.snapshotFiles(spark, root, name, base)
    val del = MergeOnRead.deletesOf(spark, root, name, base)
    val eq = MergeOnRead.eqDeletesOf(spark, root, name, base)
    val declared = Lake.declaredSchema(spark, root, name, base)
    val touched = touchedFiles(spark, root, name, files, pred, declared)
    val touchedSet = touched.map(norm).toSet
    val carried = files.filterNot(p => touchedSet.contains(norm(p)))
    val survivors =
      if (touched.isEmpty) MergeOnRead
        .readWithDeletes(spark, Seq(files.head), None, None, declared).limit(0)
      else MergeOnRead.readWithDeletes(spark, touched, del, eq, declared)
        .filter(!coalesce(pred, lit(false)))
    commitCow(spark, root, name, base, survivors, carried, retentionVersions,
      carriedDeletes(spark, root, base, del, eq, touched, carried, declared),
      declared = if (carried.nonEmpty) declared else None)
  }

  /** A merge-on-read base's sidecar entries for files this commit carries
    * by reference (the rewritten files' entries are obsolete — positions
    * changed — and the rewrite applied them physically). Position entries
    * anti-match the TOUCHED set (the small side by the COW premise);
    * EQUALITY entries cannot carry verbatim through a mutation — the
    * rewrite may legitimately write rows that reuse a deleted key, which
    * a value match would swallow — so they fold to POSITIONS over the
    * carried files (one key-column-pruned scan). The committed version
    * therefore always carries a position-only sidecar. With nothing to
    * drop or fold (no touched file, no equality sidecar) the base's
    * position sidecar is copied as it is, without a job.
    */
  private def carriedDeletes(
      spark: SparkSession, root: String, base: Int,
      del: Option[DataFrame], eq: Option[DataFrame],
      touched: Seq[String], carried: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[MergeOnRead.Sidecar] = {
    val touchedRels = touched.map(relToRoot(root, _))
    val eqFolded = eq.filter(_ => carried.nonEmpty)
      .map(e => MergeOnRead.eqToPositions(spark, carried, e, declared))
    if (touchedRels.isEmpty && eqFolded.isEmpty) del.map(_ => MergeOnRead.Carry(base))
    else {
      val posCarried = del.map { d =>
        if (touchedRels.isEmpty) d else d.filter(!col("file").isin(touchedRels: _*))
      }
      ((posCarried, eqFolded) match {
        case (Some(p), Some(q)) => Some(p.unionByName(q).distinct())
        case (p, q) => p.orElse(q)
      }).map(MergeOnRead.Write)
    }
  }

  /** File-granular UPDATE: where `pred` IS TRUE, each `(column, expr)` in
    * `set` is assigned (cast to the column's existing type, the SQL UPDATE
    * convention); all other rows and all untouched files are unchanged.
    */
  def updateWhere(
      spark: SparkSession, root: String, name: String, pred: Column,
      set: Seq[(String, Column)],
      retentionVersions: Int = 7): Int = retryLoop(name, "updateWhere") { () =>
    val base = Lake.latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val files = Lake.snapshotFiles(spark, root, name, base)
    val del = MergeOnRead.deletesOf(spark, root, name, base)
    val eq = MergeOnRead.eqDeletesOf(spark, root, name, base)
    val declared = Lake.declaredSchema(spark, root, name, base)
    val touched = touchedFiles(spark, root, name, files, pred, declared)
    val touchedSet = touched.map(norm).toSet
    val carried = files.filterNot(p => touchedSet.contains(norm(p)))
    val assign = set.toMap
    val rewritten =
      if (touched.isEmpty) MergeOnRead
        .readWithDeletes(spark, Seq(files.head), None, None, declared).limit(0)
      else {
        val t = MergeOnRead.readWithDeletes(spark, touched, del, eq, declared)
        val cols = t.schema.fields.map { fld =>
          assign.get(fld.name) match {
            case Some(e) => when(coalesce(pred, lit(false)),
              e.cast(fld.dataType)).otherwise(col(fld.name)).as(fld.name)
            case None => col(fld.name)
          }
        }
        t.select(cols.toIndexedSeq: _*)
      }
    commitCow(spark, root, name, base, rewritten, carried, retentionVersions,
      carriedDeletes(spark, root, base, del, eq, touched, carried, declared),
      declared = if (carried.nonEmpty) declared else None)
  }

  /** File-granular MERGE (the catalog a26 clause shapes):
    * {{{
    * WHEN MATCHED AND <matchedDeleteCond> THEN DELETE
    * WHEN MATCHED                         THEN UPDATE SET <matchedSet>
    * WHEN NOT MATCHED                     THEN INSERT *      (if insertNotMatched)
    * }}}
    * `matchedDeleteCond` and `matchedSet` expressions reference the target
    * as `t.<col>` and the source as `s.<col>`. Files containing no matched
    * key are carried by reference; inserts land in the rewritten part.
    * `source` must be key-unique (the SQL MERGE cardinality contract) and,
    * when inserting, must contain every target column.
    */
  def mergeInto(
      spark: SparkSession, root: String, name: String,
      source: DataFrame, keys: Seq[String],
      matchedDeleteCond: Option[Column] = None,
      matchedSet: Seq[(String, Column)] = Seq.empty,
      insertNotMatched: Boolean = false,
      retentionVersions: Int = 7): Int = retryLoop(name, "mergeInto") { () =>
    val base = Lake.latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val files = Lake.snapshotFiles(spark, root, name, base)
    val del = MergeOnRead.deletesOf(spark, root, name, base)
    val eq = MergeOnRead.eqDeletesOf(spark, root, name, base)
    val declared = Lake.declaredSchema(spark, root, name, base)
    val srcKeys = source.select(keys.map(col).toIndexedSeq: _*).distinct()
    // probe: files holding ≥1 target row whose key appears in the source —
    // key-column-pruned scan, semi-join (AQE broadcasts a small source);
    // the declared (evolved) schema applies like every other mutation
    // probe, so a MERGE keyed on a metadata-only-added/renamed column
    // resolves. A bucketed target narrows the probe FIRST: one tiny agg
    // yields the source keys' distinct buckets (≤ N ints, whatever the
    // source size) and only those buckets' files are scanned — a small
    // MERGE into a 100 TB bucketed table probes its buckets, not the table
    val targetSchema = Lake.visibleSchema(
      Lake.declaredOrFooter(spark, declared, files.head))
    val probeFiles = BucketLayout.filesForKeys(spark, files, srcKeys, targetSchema)
    val touched =
      if (probeFiles.isEmpty) Nil
      else Lake.readFiles(spark, probeFiles, declared, withMeta = true)
        .select((col("_metadata.file_path").as("_gf") +: keys.map(col)).toIndexedSeq: _*)
        .join(srcKeys, keys.toIndexedSeq, "left_semi")
        .select("_gf").distinct().collect().map(_.getString(0)).toSeq
    val touchedSet = touched.map(norm).toSet
    val carried = files.filterNot(p => touchedSet.contains(norm(p)))
    val matched = col("s._s_matched").isNotNull
    val deleteCond = matchedDeleteCond
      .map(c => matched && coalesce(c, lit(false))).getOrElse(lit(false))
    val updateCond = matched && !deleteCond
    val assign = matchedSet.toMap
    val survivors =
      if (touched.isEmpty) MergeOnRead
        .readWithDeletes(spark, Seq(files.head), None, None, declared).limit(0)
      else {
        val t = MergeOnRead.readWithDeletes(spark, touched, del, eq, declared).alias("t")
        val s = source.withColumn("_s_matched", lit(true)).alias("s")
        // PLAIN equality, never <=>: SQL MERGE ON t.k = s.k means a NULL
        // key matches nothing — a NULL-key source row is NOT MATCHED (and
        // inserts, consistent with the probe and the insert anti-join),
        // a NULL-key target row is never updated or deleted
        val joinCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
        t.join(s, joinCond, "left_outer")
          .filter(!deleteCond)
          .select(targetSchema.fields.map { fld =>
            assign.get(fld.name) match {
              case Some(e) => when(updateCond, e.cast(fld.dataType))
                .otherwise(col(s"t.${fld.name}")).as(fld.name)
              case None => col(s"t.${fld.name}").as(fld.name)
            }
          }.toIndexedSeq: _*)
      }
    val rewritten =
      if (!insertNotMatched) survivors
      else {
        // NOT MATCHED inserts: a matched source key necessarily lives in a
        // touched file, so anti-joining against the full target key set
        // equals anti-joining against the touched files' keys — the scan
        // is key-column-pruned either way, and on a BUCKETED target it
        // shrinks further to the source keys' buckets (a key's rows can
        // only live in its bucket's files). Deletes applied: a key whose
        // only target rows are MOR-deleted is NOT MATCHED and must insert.
        val targetKeys =
          (if (probeFiles.isEmpty)
             MergeOnRead.readWithDeletes(spark, Seq(files.head), None, None, declared)
               .limit(0)
           else MergeOnRead.readWithDeletes(spark, probeFiles, del, eq, declared))
          .select(keys.map(col).toIndexedSeq: _*).distinct()
        val inserts = source.join(targetKeys, keys.toIndexedSeq, "left_anti")
          .select(targetSchema.fieldNames.map(col).toIndexedSeq: _*)
        survivors.unionByName(inserts)
      }
    commitCow(spark, root, name, base, rewritten, carried, retentionVersions,
      carriedDeletes(spark, root, base, del, eq, touched, carried, declared),
      declared = if (carried.nonEmpty) declared else None)
  }
}
