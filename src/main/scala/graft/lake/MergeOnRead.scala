package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-ON-READ position deletes over the versioned snapshot layout —
  * the delete-heavy complement of [[CopyOnWrite]] (the Iceberg-v2
  * position-delete idea applied to the version-directory layout).
  *
  * [[CopyOnWrite.deleteWhere]] rewrites every file that CONTAINS a match:
  * right when matches cluster, but a delete whose matches touch every
  * file (a sparse per-user GDPR erasure, a global quality cut) degenerates
  * to a full rewrite. Merge-on-read commits O(deleted rows) instead:
  *
  *  - the new version's dir holds NO data files — a `_manifest` carries
  *    every base file by reference, and a `_deletes/` parquet sidecar
  *    lists the deleted positions as `(file, pos)` rows, where `file` is
  *    the root-relative data-file path (`tables/<t>/version=vN/<part>`,
  *    always exactly four components — the spelling is root-relocatable)
  *    and `pos` is the row's parquet ordinal (`_metadata.row_index`,
  *    stable because committed files are immutable);
  *  - readers ([[Lake.readTableFeed]], catalog SQL — which routes
  *    delete-carrying versions through a V1Scan fallback) apply the
  *    sidecar as ONE anti-join on `(file, pos)` — the sidecar scales with
  *    deleted rows, not the table, so AQE broadcasts it while small and
  *    degrades to a shuffle join per the repo hint policy;
  *  - sidecars are CUMULATIVE and one-hop, like manifests: a delete on a
  *    delete-carrying base folds the base's sidecar into its own, so
  *    resolution never chains;
  *  - [[CopyOnWrite]] mutations on a delete-carrying base apply the
  *    sidecar when rewriting touched files (rewritten files' entries are
  *    dropped — their positions changed) and copy the carried files'
  *    entries forward — deleted rows can never resurrect;
  *  - [[Lake.compactTable]] (SQL: `CALL system.compact`) folds everything
  *    back to plain physical files, restoring full scan pushdown and
  *    letting retention reclaim the chain.
  *
  * The read-time anti-join is merge-on-read's documented price: a
  * delete-carrying version loses parquet filter pushdown on the catalog
  * path until compaction. Choose per workload — COW for read-heavy
  * tables, MOR + periodic compact for delete-heavy ones.
  */
object MergeOnRead {

  /** Per-version position-delete sidecar directory (underscore-prefixed:
    * Spark data readers never list it as data).
    */
  val deletesName = "_deletes"

  /** Per-version EQUALITY-delete sidecar directory: a parquet of key
    * VALUES whose columns ARE the key columns (no extra metadata needed —
    * the sidecar's schema is the contract). Written by [[deleteByKeys]]:
    * a key-addressed delete (the GDPR shape: `user_id IN (...)`) commits
    * WITHOUT SCANNING THE TABLE AT ALL — O(keys) bytes, zero jobs over
    * the data — because matching is deferred to the read-side anti-join.
    * Keys match with `=` (a NULL key value never matches, the SQL DELETE
    * three-valued contract).
    */
  val eqDeletesName = "_eq_deletes"

  import Lake.fs

  /** Test-only stall point between a delete's base probe and its CAS
    * commit — the lost-update window. Lets ConcurrencySpec land a
    * conflicting writer deterministically and pin that the delete
    * RETRIES against the new base instead of clobbering or losing it.
    */
  private[graft] var testStallBeforeCommit: () => Unit = () => ()

  /** Root-relative data-file spelling from `_metadata.file_path` (a URI
    * string): the last four `/`-components are exactly
    * `tables/<t>/version=vN/<file>` — root-independent, so sidecars
    * survive a lake relocation like manifests do.
    */
  private[lake] def relFile(filePath: Column): Column = {
    val parts = split(filePath, "/")
    concat_ws("/", slice(parts, size(parts) - lit(3), lit(4)))
  }

  /** Does this version carry a position-delete sidecar? (resolved past
    * clone pointers, like every snapshot read)
    */
  def hasDeletes(
      spark: SparkSession, root: String, name: String, version: Int): Boolean = {
    val dir = Lake.resolveSnapshotDir(spark, root, name, version)
    fs(spark, dir).exists(new Path(dir, deletesName))
  }

  /** The version's `(file, pos)` sidecar, if any. */
  def deletesOf(
      spark: SparkSession, root: String, name: String,
      version: Int): Option[DataFrame] = {
    if (!hasDeletes(spark, root, name, version)) None
    else Some(Lake.readParquet(spark,
      s"${Lake.resolveSnapshotDir(spark, root, name, version)}/$deletesName"))
  }

  /** A sidecar a commit stages: rows a Spark job writes, or the base
    * version's sidecar of the same name, kept unchanged and copied file by
    * file through [[Lake.fs]] with no job.
    */
  private[lake] sealed trait Sidecar
  private[lake] final case class Write(rows: DataFrame) extends Sidecar
  private[lake] final case class Carry(baseVersion: Int) extends Sidecar

  /** Stage `sidecar` as `stage/<sidecarName>`. */
  private[lake] def stageSidecar(
      spark: SparkSession, root: String, name: String, stage: Path,
      sidecarName: String, sidecar: Sidecar): Unit = {
    val to = new Path(stage, sidecarName)
    sidecar match {
      case Write(rows) => rows.write.mode(SaveMode.Overwrite).parquet(to.toString)
      case Carry(v) =>
        val from = new Path(Lake.resolveSnapshotDir(spark, root, name, v), sidecarName)
        val f = fs(spark, from.toString)
        if (!org.apache.hadoop.fs.FileUtil.copy(
            f, from, f, to, false, spark.sparkContext.hadoopConfiguration))
          throw new java.io.IOException(s"could not carry $from into $to")
    }
  }

  /** Does this version carry an equality-delete sidecar? */
  def hasEqDeletes(
      spark: SparkSession, root: String, name: String, version: Int): Boolean = {
    val dir = Lake.resolveSnapshotDir(spark, root, name, version)
    fs(spark, dir).exists(new Path(dir, eqDeletesName))
  }

  /** The version's equality-delete key tuples, if any (columns = keys). */
  def eqDeletesOf(
      spark: SparkSession, root: String, name: String,
      version: Int): Option[DataFrame] = {
    if (!hasEqDeletes(spark, root, name, version)) None
    else Some(Lake.readParquet(spark,
      s"${Lake.resolveSnapshotDir(spark, root, name, version)}/$eqDeletesName"))
  }

  /** Any merge-on-read sidecar present (position or equality)? The gate
    * the catalog uses to route reads through the resolving fallback.
    */
  def hasAnyDeletes(
      spark: SparkSession, root: String, name: String, version: Int): Boolean =
    hasDeletes(spark, root, name, version) ||
      hasEqDeletes(spark, root, name, version)

  /** Convert equality-delete keys to POSITION entries over `files`: one
    * key-column-pruned scan (parquet reads only the key columns) emitting
    * the `(file, pos)` of every matching row. Used when a later commit
    * must SCOPE value-keyed deletes to specific files — a mutation that
    * writes new rows cannot carry an equality sidecar verbatim, because
    * the read-side value match would also swallow freshly-written rows
    * that legitimately reuse a deleted key.
    */
  private[lake] def eqToPositions(
      spark: SparkSession, files: Seq[String], eq: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val keyCols = eq.columns.toSeq
    Lake.readFiles(spark, files, declared, withMeta = true)
      .select(
        relFile(col("_metadata.file_path")).as("file") +:
          col("_metadata.row_index").as("pos") +:
          keyCols.map(col): _*)
      .join(eq.distinct(), keyCols, "left_semi")
      .select(col("file"), col("pos"))
  }

  /** Apply a position-delete sidecar to a raw parquet read of data
    * `files`: one anti-join on `(root-relative file, row ordinal)`. The
    * sidecar side is O(deleted rows) and deliberately UNHINTED — AQE
    * broadcasts it while it fits and falls back to a shuffle join when a
    * mass delete grows it (the repo-wide growth-class hint policy).
    */
  private[lake] def readWithDeletes(
      spark: SparkSession, files: Seq[String],
      deletes: Option[DataFrame],
      eqDeletes: Option[DataFrame] = None,
      declared: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    // a declared (evolved) RAW schema null-fills columns absent from
    // pre-evolution files, projects renamed columns through their prior
    // physical spellings, and never requests dropped ones — the
    // mapping-aware read ([[Lake.readFiles]]); `_metadata` is exposed as
    // a regular column exactly when the position anti-join needs it
    val base = Lake.readFiles(spark, files, declared, withMeta = deletes.isDefined)
    val cols = base.columns.filterNot(_ == "_metadata").map(col).toIndexedSeq
    val posApplied = deletes match {
      case None => base
      case Some(d) =>
        base
          .withColumn("_g_file", relFile(col("_metadata.file_path")))
          .withColumn("_g_pos", col("_metadata.row_index"))
          .join(d, col("_g_file") === d("file") && col("_g_pos") === d("pos"),
            "left_anti")
          .select(cols: _*)
    }
    eqDeletes match {
      case None => posApplied
      case Some(e) =>
        // plain-equality anti-join: a row with a NULL key never matches —
        // the SQL DELETE three-valued contract, same as the position path's
        // pred-IS-TRUE capture
        posApplied.join(e.distinct(), e.columns.toIndexedSeq, "left_anti")
          .select(cols: _*)
    }
  }

  /** MERGE-ON-READ DELETE: rows where `pred` IS TRUE are marked deleted in
    * a `(file, pos)` sidecar; NO data file is read back or rewritten — the
    * commit is O(deleted rows) regardless of how many files the matches
    * span (the case that degenerates [[CopyOnWrite.deleteWhere]] to a full
    * rewrite). The base version's sidecar (if any) folds into the new one,
    * so sidecars never chain. Commits through the same CAS every
    * read-modify-write uses; returns the new version.
    */
  def deleteWhere(
      spark: SparkSession, root: String, name: String, pred: Column,
      retentionVersions: Int = 7): Int =
    CopyOnWrite.retryLoop(name, "mor.deleteWhere") { () =>
      val base = Lake.latestVersion(spark, root, name).getOrElse(
        throw new IllegalStateException(s"no versions for table feed $name"))
      val files = Lake.snapshotFiles(spark, root, name, base)
      val baseDel = deletesOf(spark, root, name, base)
      val declared = Lake.declaredSchema(spark, root, name, base)
      // positions to delete: filter-pushed scan emitting ONLY (file, pos) —
      // a row already in the base sidecar that re-matches pred duplicates
      // an existing entry verbatim, so the union dedups structurally. The
      // scan is PRUNED like the COW probe: files whose sidecars exclude
      // every translatable conjunct of `pred` hold no matching raw row and
      // need not be opened
      val probeFiles = FilePruner.admitFor(spark, root, name, files, declared, pred).admitted
      val matched =
        (if (probeFiles.isEmpty)
           Lake.readFiles(spark, Seq(files.head), declared, withMeta = true).limit(0)
         else Lake.readFiles(spark, probeFiles, declared, withMeta = true))
        .filter(pred)
        .select(
          relFile(col("_metadata.file_path")).as("file"),
          col("_metadata.row_index").as("pos"))
      val cumulative = baseDel
        .map(d => matched.unionByName(d)).getOrElse(matched)
        .distinct()
      testStallBeforeCommit()
      // a positional delete writes no new rows, so the base's EQUALITY
      // sidecar (if any) carries VERBATIM — value-keyed matching stays
      // sound because no freshly-written row can reuse a deleted key
      commitMor(spark, root, name, base, files,
        pos = Some(Write(cumulative)),
        eq = Option.when(hasEqDeletes(spark, root, name, base))(Carry(base)),
        retentionVersions, declared)
    }

  /** EQUALITY DELETE — the zero-scan commit: rows whose key tuple equals
    * any row of `keys` (columns of `keys` name the table's key columns)
    * are deleted BY VALUE; the commit writes only the key tuples + a
    * manifest — O(keys) bytes, no job ever touches the table data (the
    * 100 TB GDPR shape: erasing a user commits in milliseconds; the match
    * runs inside every subsequent read's anti-join and is physically
    * applied at the next compaction). Folding keeps resolution one-hop:
    *  - a base POSITION sidecar carries verbatim (disjoint mechanisms);
    *  - a base EQUALITY sidecar with the SAME key columns unions in;
    *  - a base EQUALITY sidecar with DIFFERENT key columns is first
    *    materialized to positions (one key-column-pruned scan — the only
    *    case this operator scans anything), so a version never carries
    *    two value-keyed sidecars with conflicting schemas.
    * NULL key values never match (`=` semantics); delete NULLs with the
    * predicate form. Returns the new version.
    */
  def deleteByKeys(
      spark: SparkSession, root: String, name: String, keys: DataFrame,
      retentionVersions: Int = 7): Int =
    CopyOnWrite.retryLoop(name, "mor.deleteByKeys") { () =>
      val base = Lake.latestVersion(spark, root, name).getOrElse(
        throw new IllegalStateException(s"no versions for table feed $name"))
      val files = Lake.snapshotFiles(spark, root, name, base)
      val declared = Lake.declaredSchema(spark, root, name, base)
      val tableCols = Lake.visibleSchema(
        Lake.declaredOrFooter(spark, declared, files.head)).fieldNames.toSet
      require(keys.columns.forall(tableCols.contains),
        s"deleteByKeys: key columns ${keys.columns.mkString(",")} must all " +
          s"exist in $name's schema")
      val newKeys = keys.distinct()
      val basePos = Option.when(hasDeletes(spark, root, name, base))(Carry(base))
      val (eqOut, posOut) = eqDeletesOf(spark, root, name, base) match {
        case Some(e) if e.columns.sorted.sameElements(keys.columns.sorted) =>
          (newKeys.unionByName(e).distinct(), basePos)
        case Some(e) =>
          val folded = eqToPositions(spark, files, e, declared)
          (newKeys, Some(Write(deletesOf(spark, root, name, base)
            .map(_.unionByName(folded).distinct()).getOrElse(folded))))
        case None => (newKeys, basePos)
      }
      commitMor(spark, root, name, base, files,
        pos = posOut, eq = Some(Write(eqOut)), retentionVersions, declared)
    }

  /** Stage sidecars + a full-carry manifest and CAS-commit — the common
    * tail of both merge-on-read delete forms. Foreign carried files (a
    * delete on a cloned branch references the source's dirs) are pinned
    * like every other manifest-writing commit.
    */
  private def commitMor(
      spark: SparkSession, root: String, name: String, base: Int,
      files: Seq[String], pos: Option[Sidecar], eq: Option[Sidecar],
      retentionVersions: Int,
      declared: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[Int] = {
    val tdir = Lake.tablePath(root, name)
    val stage = new Path(
      s"$tdir/.stage_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    pos.foreach(stageSidecar(spark, root, name, stage, deletesName, _))
    eq.foreach(stageSidecar(spark, root, name, stage, eqDeletesName, _))
    val f = fs(spark, tdir)
    // an evolved base's declared schema carries forward (one-hop)
    declared.foreach { s =>
      val so = f.create(new Path(stage, Lake.schemaName), true)
      try so.write(s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally so.close()
    }
    val rels = files.map(CopyOnWrite.relToRoot(root, _))
    CopyOnWrite.pinForeign(f, root, name, rels)
    val out = f.create(new Path(stage, Lake.manifestName), true)
    try out.write(rels.mkString("\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    Lake.promoteStagedIf(spark, root, name, stage, base, retentionVersions)
  }
}
