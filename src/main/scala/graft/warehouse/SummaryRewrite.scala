package graft.warehouse

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Divide, EvalMode, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.DataType

/** Materialized-view (summary-table) query rewrite — the classic 100 TB
  * pre-aggregation win, done the Catalyst way.
  *
  * The reference pre-computes its four warehouse aggregates as ksqlDB
  * tables and serves reads from those (SURVEY.md §2.B B4-B7,
  * data_lake_config.py:82-115) — but its consumers must KNOW to query the
  * summary. Here the summary stays transparent: `create` materializes a
  * grouped rollup of a base table to parquet and registers it in a
  * driver-side catalog; an injected optimizer rule ([[SummaryRewrite.rule]],
  * wired by [[graft.GraftExtensions]] into the operator-optimization batch)
  * then rewrites ANY later aggregate over the base table into an aggregate
  * over the rollup whenever that is provably answer-preserving:
  *
  *  - every grouping column is a subset of the view's grouping keys
  *    (a coarser re-aggregation of a finer rollup is exact);
  *  - every filter between the aggregate and the scan references grouping
  *    keys only (key predicates select whole groups, so they commute with
  *    the pre-aggregation);
  *  - every aggregate call decomposes over the view: SUM(x) = SUM of the
  *    per-group sums, COUNT(*)/COUNT(1) = SUM of the per-group counts,
  *    MIN/MAX(x) = MIN/MAX of the per-group minima/maxima, COUNT(x) = SUM
  *    of the per-group non-null counts (a declared `cnt` measure), and
  *    AVG(x) = SUM(sums)/SUM(cnts), the exact arithmetic of Average's own
  *    evaluate expression (double division for non-decimal numerics; the
  *    DECIMAL leg re-derives the p+10 sum buffer type and divides under
  *    the operator's own precision promotion, then casts to Average's
  *    DECIMAL(p+4, s+4) result — HALF_UP rounding included) — with no
  *    DISTINCT and no FILTER clause. Re-aggregated results are cast back
  *    to the original aggregate's result type, so downstream operators
  *    (and the driver's hash compare) see bit-identical schema and values.
  *
  * Anything else — a non-key filter, a UDAF — leaves the plan
  * untouched; the rule is
  * allowed to decline, never to approximate. Output attribute `exprId`s are
  * preserved through the rewrite (exprId-keyed aliases), so operators above
  * the aggregate re-bind without a fixup pass. The rule runs inside the
  * fixed-point operator-optimization batch and is idempotent by
  * construction: after the rewrite the scan no longer matches the
  * registered base path.
  *
  * Why this matters at scale: the rollup is |groups| rows where the base is
  * |facts| — at 100 TB a dashboard query that would scan the fact table
  * reads a dimension-sized summary instead, and column pruning/pushdown on
  * the rewritten plan still apply because the rewrite happens mid-optimizer,
  * not after it. Refresh is the owner's job (re-`create` after a load; at
  * scale, per-partition incremental refresh à la
  * [[graft.queries.Lifecycle]]'s incremental aggregate).
  */
object SummaryRewrite {

  /** One decomposable measure: `kind` ∈ sum|min|max|cnt (cnt = COUNT of
    * the column's non-null values — what COUNT(col) and the AVG
    * denominator re-aggregate from), over base column `baseCol`
    * (optionally pre-cast to `castTo` — the repo's decimal(18,2) money
    * convention), materialized as view column `mvCol`.
    */
  final case class Measure(kind: String, baseCol: String, castTo: Option[DataType], mvCol: String)

  /** A registered summary: `basePath`/`mvPath` are normalized URI paths.
    *
    * A summary over a VERSIONED CATALOG TABLE additionally carries
    * `tableRef = (lakeRoot, tableName)`, the base's logical `rowKeys`
    * (what its change feed diffs on), and `asOfVersion` — the snapshot the
    * summary currently reflects. The rewrite serves a table-backed summary
    * ONLY to scans resolved at exactly `asOfVersion`: a mutated-but-not-
    * yet-refreshed base declines the rewrite instead of serving stale
    * aggregates (freshness is fail-closed, unlike the path-backed form
    * where refresh discipline is the owner's contract).
    */
  final case class MvDef(
      name: String,
      basePath: String,
      mvPath: String,
      keys: Seq[String],
      measures: Seq[Measure],
      countCol: String,
      tableRef: Option[(String, String)] = None,
      rowKeys: Seq[String] = Nil,
      asOfVersion: Int = -1)

  @volatile private var registered: List[MvDef] = Nil

  /** `registered` updates are read-modify-write cycles; with
    * `mv_refresh='on_commit'` they can now run from concurrent committing
    * threads, so every mutation goes through one lock (reads stay
    * lock-free on the volatile snapshot).
    */
  private val registryLock = new Object
  private def mutateRegistry(f: List[MvDef] => List[MvDef]): Unit =
    registryLock.synchronized { registered = f(registered) }

  /** Per-view refresh serialization: two commits racing into
    * [[refreshFromChanges]] for the same view must fold sequentially —
    * unserialized, the earlier-range refresh could finish LAST and regress
    * the watermark (fail-closed, but needlessly stale).
    */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Materialize + register a summary of `basePath` grouped by `keys`.
    *
    * `sums` is (column, optional cast DDL type) — the cast must match the
    * query side's pre-aggregation cast exactly for the rewrite to fire.
    */
  def create(
      spark: SparkSession,
      name: String,
      basePath: String,
      mvPath: String,
      keys: Seq[String],
      sums: Seq[(String, Option[String])] = Nil,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      counts: Seq[String] = Nil): MvDef = {
    val base = graft.lake.Lake.readParquet(spark, basePath)
    val measures =
      sums.map { case (c, ct) =>
        Measure("sum", c, ct.map(DataType.fromDDL), s"mv_sum_$c")
      } ++
        mins.map(c => Measure("min", c, None, s"mv_min_$c")) ++
        maxs.map(c => Measure("max", c, None, s"mv_max_$c")) ++
        counts.map(c => Measure("cnt", c, None, s"mv_cnt_$c"))
    val mv = MvDef(name, norm(basePath), norm(mvPath), keys, measures, "mv_cnt")
    rollup(base, mv).write.mode("overwrite").parquet(mvPath)
    mutateRegistry(r => mv :: r.filterNot(_.name == name))
    mv
  }

  /** [[create]] for a versioned catalog table base: materializes the
    * rollup of the table's LATEST snapshot and registers it with a
    * freshness watermark, so the rewrite serves it only while the base is
    * still at that version and [[refreshFromChanges]] can advance it by
    * consuming the table's change feed instead of rescanning the base.
    * `rowKeys` is the table's logical key — what its version diffs key on.
    */
  def createForTable(
      spark: SparkSession,
      name: String,
      lakeRoot: String,
      table: String,
      mvPath: String,
      keys: Seq[String],
      rowKeys: Seq[String],
      sums: Seq[(String, Option[String])] = Nil,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      counts: Seq[String] = Nil): MvDef = {
    val version = graft.lake.Lake.latestVersion(spark, lakeRoot, table)
      .getOrElse(throw new IllegalArgumentException(
        s"createForTable: $table has no committed versions"))
    val base = graft.lake.Lake.readTableFeed(spark, lakeRoot, table, Some(version))
    val measures =
      sums.map { case (c, ct) =>
        Measure("sum", c, ct.map(DataType.fromDDL), s"mv_sum_$c")
      } ++
        mins.map(c => Measure("min", c, None, s"mv_min_$c")) ++
        maxs.map(c => Measure("max", c, None, s"mv_max_$c")) ++
        counts.map(c => Measure("cnt", c, None, s"mv_cnt_$c"))
    val mv = MvDef(name, norm(graft.lake.Lake.tablePath(lakeRoot, table)),
      norm(mvPath), keys, measures, "mv_cnt",
      tableRef = Some((lakeRoot, table)), rowKeys = rowKeys,
      asOfVersion = version)
    rollup(base, mv).write.mode("overwrite").parquet(mvPath)
    mutateRegistry(r => mv :: r.filterNot(_.name == name))
    onCommitHook // install the auto-refresh hook once (lazy val)
    mv
  }

  /** Base-table property opting its summaries into CONTINUOUS maintenance:
    * `mv_refresh='on_commit'` refreshes every registered table-backed
    * summary of the table from its change feed as part of each commit —
    * the reference's ksqlDB aggregate tables are continuously maintained
    * (data_lake_config.py:82-115); without the property, freshness stays
    * fail-closed-until-manual-`refreshFromChanges`. The refresh runs on
    * the committing thread (synchronous maintenance, like a ksqlDB table's
    * changelog consumer being caught up at publish time) and costs
    * O(changed groups' files) per commit — the same incremental fold the
    * manual path runs.
    */
  val MvRefreshProp = "mv_refresh"

  private lazy val onCommitHook: Unit =
    graft.lake.Lake.addCommitHook { (spark, root, table, _) =>
      val basePath = norm(graft.lake.Lake.tablePath(root, table))
      val views = registered.filter(_.basePath == basePath)
      if (views.nonEmpty &&
          graft.lake.Lake.tableProperties(spark, root, table)
            .get(MvRefreshProp).exists(_.equalsIgnoreCase("on_commit")))
        views.foreach(mv => refreshFromChanges(spark, mv.name))
    }

  /** Groups a summary may re-aggregate by pushed literal IN-lists before
    * falling back to a full rebuild — large enough for any plausible
    * incremental mutation, small enough that the literal lists stay
    * driver-cheap.
    */
  private val RefreshAffectedKeysMax = 10000

  /** Advance a table-backed summary across UPDATE / DELETE / MERGE — the
    * CDF-driven refresh the append-only [[refreshIncremental]] cannot do
    * (MIN/MAX do not decrement). The table's change feed names what moved,
    * manifest-aware and O(changed bytes); this folds it in O(changed
    * groups):
    *
    *  1. the AFFECTED GROUP KEYS are the distinct `keys`-projections of
    *     the change rows (every change row carries a full image — inserts
    *     and updates the new one, deletes their last);
    *  2. those groups re-aggregate from the base's LATEST snapshot: FILES
    *     prune by per-key-column literal IN-lists (the predicate shape the
    *     stats/bucket sidecars translate), while ROWS filter by an exact
    *     tuple-membership test — a broadcast null-safe semi-join against
    *     the affected key set — so composite keys with k distinct values
    *     per column re-aggregate exactly the affected groups, never the
    *     up-to-k² per-column Cartesian superset;
    *  3. every other group is carried from the current summary unchanged
    *     (the anti-join against the same key set).
    *
    * A change set touching more than [[RefreshAffectedKeysMax]] groups
    * rebuilds the rollup outright — at that point most of the base moved
    * and a full recompute IS the O(changed) price. Either way the result
    * is bit-identical to `create` over the latest snapshot (the gate's
    * oracle and [[refreshIncremental]]'s schema-alignment discipline),
    * and the new summary commits as a fresh directory with the watermark
    * advanced, so the rewrite resumes serving it atomically.
    */
  def refreshFromChanges(spark: SparkSession, name: String): MvDef =
    refreshLocks.computeIfAbsent(name, _ => new Object).synchronized {
      refreshFromChangesSerialized(spark, name)
    }

  private def refreshFromChangesSerialized(spark: SparkSession, name: String): MvDef = {
    val mv = registered.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no registered view named $name"))
    val (lakeRoot, table) = mv.tableRef.getOrElse(throw new IllegalArgumentException(
      s"$name is a path-backed summary — refreshFromChanges needs a table base " +
        "(createForTable); use refreshIncremental for append batches"))
    val to = graft.lake.Lake.latestVersion(spark, lakeRoot, table)
      .getOrElse(throw new IllegalStateException(s"$table has no versions"))
    if (to == mv.asOfVersion) return mv
    require(to > mv.asOfVersion,
      s"$table moved backwards (v${mv.asOfVersion} -> v$to): restore/retention " +
        "rewrote history under the summary — re-create it")
    // preimages matter: a row whose GROUP key changed must also name its
    // OLD group as affected, or that group's carried summary row keeps
    // counting it
    val changes = org.apache.spark.sql.graft.GraftChangeFeed.changesBetween(
      spark, lakeRoot, table, mv.rowKeys, start = mv.asOfVersion, end = to,
      preimages = true)
    val base = graft.lake.Lake.readTableFeed(spark, lakeRoot, table, Some(to))
    val current = graft.lake.Lake.readParquet(spark, mv.mvPath)
    // the distinct group keys the change set touches, bounded: one extra
    // row tells "too many" apart from "exactly the bound"
    val affected = changes.select(mv.keys.map(col): _*).distinct()
      .limit(RefreshAffectedKeysMax + 1).collect()
    var pruneStat: (Int, Int) = (-1, -1)
    var reaggGroupsStat: Long = -1L
    var reaggHandle: Option[org.apache.spark.sql.DataFrame] = None
    val refreshed =
      if (affected.length > RefreshAffectedKeysMax) rollup(base, mv)
      else if (affected.isEmpty) current
      else {
        // per-column literal IN-lists — used for FILE pruning only (the
        // stats/bucket sidecars translate per-column predicates, not
        // tuple sets); ROW membership below is exact per tuple
        val lists: Seq[(String, Seq[Any])] = mv.keys.zipWithIndex.map {
          case (k, i) => k -> affected.map(_.get(i)).distinct.toSeq
        }
        // prune the re-aggregation read to files that can hold an affected
        // group — the sidecar stats/bucket layout make the refresh
        // O(changed groups' files) when writes cluster on the group key
        val keepOnly = refreshCandidateFiles(spark, lakeRoot, table, to, base, lists)
        pruneStat = keepOnly match {
          case Some(keep) => (keep.size,
            graft.lake.Lake.snapshotFiles(spark, lakeRoot, table, to).size)
          case None => (-1, -1)
        }
        // exact TUPLE membership via a broadcast null-safe semi/anti join
        // against the affected key set (≤ RefreshAffectedKeysMax rows):
        // composite keys with k distinct values per column re-aggregate
        // exactly the affected groups, not the per-column Cartesian
        // superset (up to k² groups) the IN-lists would admit
        val aff = spark.createDataFrame(
          java.util.Arrays.asList(affected: _*),
          changes.select(mv.keys.map(col): _*).schema).alias("ga")
        def tupleCond(side: org.apache.spark.sql.DataFrame) =
          mv.keys.map(k => side(k) <=> aff(k)).reduce(_ && _)
        val pruned = graft.lake.Lake.readTableFeedPruned(
          spark, lakeRoot, table, Some(to), keepOnly).alias("gb")
        val reaggBase = pruned.join(
          org.apache.spark.sql.functions.broadcast(aff), tupleCond(pruned), "left_semi")
        val curAliased = current.alias("gc")
        val carried = curAliased.join(
          org.apache.spark.sql.functions.broadcast(aff), tupleCond(curAliased), "left_anti")
        val reagg = rollup(reaggBase, mv)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        reaggHandle = Some(reagg)
        reaggGroupsStat = reagg.count()
        reagg.unionByName(carried)
      }
    refreshStatsByView.put(name, (pruneStat._1, pruneStat._2, reaggGroupsStat))
    val aligned = refreshed.select(current.columns.map { c =>
      col(c).cast(current.schema(c).dataType).as(c)
    }: _*)
    val next = nextVersionPath(mv.mvPath)
    try aligned.write.mode("overwrite").parquet(next)
    finally reaggHandle.foreach { h => h.unpersist(); () }
    val updated = mv.copy(mvPath = norm(next), asOfVersion = to)
    // re-register only if the view is STILL registered: an on_commit-hook
    // refresh can race a concurrent drop(name) (drop takes registryLock,
    // not this view's refresh lock), and unconditionally re-adding here
    // would resurrect the just-dropped view and keep rewriting through it
    mutateRegistry(r =>
      r.find(_.name == name).fold(r)(_ => updated :: r.filterNot(_.name == name)))
    updated
  }

  /** Per-VIEW diagnostics of the last [[refreshFromChanges]]: (admitted
    * files, total files, re-aggregated groups) — the spec's proof that
    * refresh cost is O(changed groups' files) and that composite-key
    * refresh touches exactly the affected tuples. (-1, -1, -1) marks the
    * rebuild/empty path (or a never-refreshed view). Keyed by view name so
    * concurrent hook-driven refreshes of DIFFERENT views never clobber
    * each other's readings (the old shared globals did).
    */
  private val refreshStatsByView =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Long)]()

  /** (admittedFiles, totalFiles, reaggGroups) of `name`'s last refresh. */
  private[graft] def refreshStats(name: String): (Int, Int, Long) =
    refreshStatsByView.getOrDefault(name, (-1, -1, -1L))

  /** Stats/bucket-admitted files for the refresh's per-column IN filters;
    * None (read everything) when a list is null-bearing or untranslatable —
    * pruning is an IO optimization, never a row filter.
    */
  private def refreshCandidateFiles(
      spark: SparkSession, lakeRoot: String, table: String, version: Int,
      base: org.apache.spark.sql.DataFrame,
      lists: Seq[(String, Seq[Any])]): Option[Seq[String]] = try {
    if (lists.exists(_._2.contains(null))) return None
    val v1 = lists.map { case (k, vs) =>
      org.apache.spark.sql.sources.In(k, vs.toArray)
    }
    val all = graft.lake.Lake.snapshotFiles(spark, lakeRoot, table, version)
    val byStats = graft.lake.StatsSidecar.candidateFiles(
      spark, all, base.schema, v1)
    val admitted = graft.lake.BucketLayout.filterCandidates(
      spark, byStats, base.schema, v1)
    if (admitted.size < all.size) Some(admitted) else None
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The view's defining rollup of `df` — shared by [[create]] and
    * [[refreshIncremental]] so the two can never aggregate differently.
    */
  private def rollup(df: org.apache.spark.sql.DataFrame, mv: MvDef): org.apache.spark.sql.DataFrame = {
    val aggCols = mv.measures.map { m =>
      val in = m.castTo.map(t => col(m.baseCol).cast(t)).getOrElse(col(m.baseCol))
      (m.kind match {
        case "sum" => sum(in)
        case "min" => min(in)
        case "max" => max(in)
        case "cnt" => count(in)
      }).as(m.mvCol)
    } :+ count(lit(1)).as(mv.countCol)
    df.groupBy(mv.keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  def drop(name: String): Unit = mutateRegistry(_.filterNot(_.name == name))
  def clear(): Unit = mutateRegistry(_ => Nil)

  /** Registered views, for the `SHOW GRAFT VIEWS` command and specs. */
  def list: Seq[MvDef] = registered

  /** Incremental refresh: fold ONE new batch of base rows into the summary
    * without rescanning the base table — the 100 TB refresh path (cost ∝
    * batch size, not accumulated history). Works because every registered
    * measure is decomposable: the batch's partial rollup unions with the
    * current summary and re-merges per key (sums and counts add, minima/
    * maxima fold). The refreshed summary is written as a NEW directory
    * (`<mvPath>_v<n>`) and the registration is swapped — readers planned
    * against the old directory finish against immutable files, the same
    * versioned-snapshot discipline as [[graft.lake.Lake]]. NOTE: append-only
    * batches only — updates/deletes need a rebuild (MIN/MAX cannot be
    * decremented).
    */
  def refreshIncremental(spark: SparkSession, name: String, batch: org.apache.spark.sql.DataFrame): MvDef = {
    val mv = registered.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no registered view named $name"))
    // Suppress every view over the same base for the duration: the natural
    // batch argument is a key-filtered scan of the base table, and the
    // rewrite rule would otherwise re-point the batch rollup at the STALE
    // summary — folding the old summary into itself instead of the new rows.
    val sameBase = registryLock.synchronized {
      val sb = registered.filter(_.basePath == mv.basePath)
      registered = registered.filterNot(_.basePath == mv.basePath)
      sb
    }
    try {
      val current = graft.lake.Lake.readParquet(spark, mv.mvPath)
      val mergeCols = mv.measures.map { m =>
        (m.kind match {
          case "sum" | "cnt" => sum(col(m.mvCol))
          case "min" => min(col(m.mvCol))
          case "max" => max(col(m.mvCol))
        }).as(m.mvCol)
      } :+ sum(col(mv.countCol)).as(mv.countCol)
      val merged = current.unionByName(rollup(batch, mv))
        .groupBy(mv.keys.map(col): _*)
        .agg(mergeCols.head, mergeCols.tail: _*)
      // union widens summed decimals; fold back to the stored schema so the
      // refreshed summary is indistinguishable from a full rebuild
      val aligned = merged.select(current.columns.map { c =>
        val dt = current.schema(c).dataType
        col(c).cast(dt).as(c)
      }: _*)
      val next = nextVersionPath(mv.mvPath)
      aligned.write.mode("overwrite").parquet(next)
      val updated = mv.copy(mvPath = norm(next))
      mutateRegistry(r => updated :: sameBase.filterNot(_.name == name) ::: r)
      updated
    } catch {
      case t: Throwable =>
        // restore the suppressed registrations on failure
        mutateRegistry(r => sameBase ::: r)
        throw t
    }
  }

  private def nextVersionPath(p: String): String = {
    val m = "_v(\\d+)$".r.findFirstMatchIn(p)
    m match {
      case Some(g) => p.substring(0, g.start) + "_v" + (g.group(1).toInt + 1)
      case None => p + "_v2"
    }
  }

  /** The injected rule (one instance per session, see [[graft.GraftExtensions]]). */
  def rule(session: SparkSession): Rule[LogicalPlan] = new Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registered.isEmpty || !plan.resolved) plan
      else plan.transformDown {
        case agg: Aggregate => rewrite(session, agg).getOrElse(agg)
      }
  }

  /** Peel column-pruning Projects and key-only Filters down to a scan of
    * `mv.basePath`; returns the collected filter conditions on success.
    */
  private def matchBase(mv: MvDef, plan: LogicalPlan): Option[Seq[Expression]] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation
          if fs.location.rootPaths.map(_.toUri.getPath) == Seq(mv.basePath) =>
        Some(Nil)
      case _ => None
    }
    // a catalog-table scan (the DSv2 relation, pre-scan-planning) matches a
    // table-backed summary ONLY at the summary's refreshed version — a scan
    // resolved against a newer snapshot declines, so file-granular
    // UPDATE/DELETE/MERGE can never be served stale pre-aggregates; the
    // owner runs refreshFromChanges and the rewrite resumes
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case t: org.apache.spark.sql.graft.GraftMutableTable
            if mv.tableRef.contains((t.lakeRoot, t.lakeTableName)) &&
              t.lakeVersion == mv.asOfVersion =>
          Some(Nil)
        case _ => None
      }
    case Filter(cond, child) if cond.deterministic =>
      matchBase(mv, child).map(cond +: _)
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      matchBase(mv, child)
    case _ => None
  }

  private def rewrite(session: SparkSession, agg: Aggregate): Option[LogicalPlan] = {
    // every registered view over this scan is a candidate — the first whose
    // measures/keys cover the query wins (one declining must not mask
    // another that matches)
    val candidates = registered.flatMap(mv => matchBase(mv, agg.child).map(mv -> _))
    candidates.view.flatMap { case (mv, filters) =>
      // a mask- or row-filter-protected base must never be served from its
      // (unmasked, unfiltered) summary: governance wins over the rewrite,
      // fail closed. A table-backed summary also checks the PHYSICAL
      // snapshot dir it reflects — the path the scan itself would be
      // governed by (GraftTable.governedPath), so a policy pinned to one
      // version dir is not laundered through the rollup.
      val governed = Seq(mv.basePath) ++ mv.tableRef.toSeq.map { case (r, t) =>
        new org.apache.hadoop.fs.Path(graft.lake.Lake.resolveSnapshotDir(
          session, r, t, mv.asOfVersion)).toUri.getPath
      }
      if (governed.exists(p => graft.governance.ColumnMask.protects(p) ||
          graft.governance.RowFilter.protects(p))) None
      else tryRewrite(session, agg, mv, filters)
    }.headOption
  }

  private def tryRewrite(
      session: SparkSession,
      agg: Aggregate,
      mv: MvDef,
      filters: Seq[Expression]): Option[LogicalPlan] = {
    {
      val keySet = mv.keys.toSet
      def keysOnly(e: Expression): Boolean = e.references.forall(a => keySet.contains(a.name))
      val groupingOk = agg.groupingExpressions.forall {
        case a: AttributeReference => keySet.contains(a.name)
        case _ => false
      }
      if (!groupingOk || !filters.forall(keysOnly)) None
      else {
        // fresh relation per rewrite: unique exprIds even if the same view
        // serves two aggregates in one plan (e.g. a self-join of rollups)
        val mvPlan = graft.lake.Lake.readParquet(session, mv.mvPath).queryExecution.analyzed
        val byName: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap

        def mvMeasure(fn: AggregateFunction): Option[Expression] = {
          def reAgg(outer: AggregateFunction, origType: DataType): Expression =
            Cast(outer.toAggregateExpression(), origType, Some(confTz(session)),
              org.apache.spark.sql.catalyst.expressions.EvalMode.fromSQLConf(
                org.apache.spark.sql.internal.SQLConf.get))
          fn match {
            case s @ Sum(a: AttributeReference, _) =>
              // a declared castTo equal to the column's own type also
              // matches: when the base column already carries the declared
              // type (the decimal money profile), the query's cast is an
              // identity the optimizer eliminates before this rule runs
              mv.measures.find(m => m.kind == "sum" && m.baseCol == a.name &&
                  (m.castTo.isEmpty || m.castTo.contains(a.dataType)))
                .map(m => reAgg(Sum(byName(m.mvCol)), s.dataType))
            case s @ Sum(Cast(a: AttributeReference, dt, _, _), _) =>
              mv.measures.find(m => m.kind == "sum" && m.baseCol == a.name && m.castTo.contains(dt))
                .map(m => reAgg(Sum(byName(m.mvCol)), s.dataType))
            case m0 @ Min(a: AttributeReference) =>
              mv.measures.find(m => m.kind == "min" && m.baseCol == a.name)
                .map(m => reAgg(Min(byName(m.mvCol)), m0.dataType))
            case m0 @ Max(a: AttributeReference) =>
              mv.measures.find(m => m.kind == "max" && m.baseCol == a.name)
                .map(m => reAgg(Max(byName(m.mvCol)), m0.dataType))
            case c @ Count(Seq(a: AttributeReference)) =>
              // COUNT(col) = SUM of the per-group non-null counts; same
              // empty-input coalesce as COUNT(*)
              mv.measures.find(m => m.kind == "cnt" && m.baseCol == a.name)
                .map(m => org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
                  reAgg(Sum(byName(m.mvCol)), c.dataType),
                  Literal(0L))))
            case av @ Average(a: AttributeReference, _)
                if !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
              // AVG(x) over non-decimal numerics = SUM(per-group sums) /
              // SUM(per-group non-null counts), both cast to Average's own
              // result type (double) — exactly Average.evaluateExpression's
              // `Divide(sum.cast(resultType), count.cast(resultType))`, so
              // the rewrite reproduces the built-in's arithmetic, not an
              // approximation of it.
              for {
                sm <- mv.measures.find(m => m.kind == "sum" && m.baseCol == a.name &&
                  (m.castTo.isEmpty || m.castTo.contains(a.dataType)))
                cm <- mv.measures.find(m => m.kind == "cnt" && m.baseCol == a.name)
              } yield Divide(
                reAgg(Sum(byName(sm.mvCol)), av.dataType),
                reAgg(Sum(byName(cm.mvCol)), av.dataType),
                EvalMode.LEGACY)
            case av @ Average(a: AttributeReference, _) =>
              // DECIMAL AVG(x): mirror Average.evaluateExpression's decimal
              // leg exactly — the aggregation buffer sums at
              // DECIMAL(p+10, s) and the final value is
              // `Divide(sum, count.cast(DECIMAL(20,0)))` evaluated under
              // the operator's own decimal-precision promotion, then cast
              // to Average's result type DECIMAL(p+4, s+4). Re-aggregating
              // the per-group sums and casting back to the p+10 buffer type
              // reproduces the same dividend (same value, same scale; an
              // overflow of p+10 digits nulls here exactly where
              // CheckOverflowInSum nulls in the built-in), so the division
              // is bit-identical, rounding included (HALF_UP at scale s+4).
              for {
                sm <- mv.measures.find(m => m.kind == "sum" && m.baseCol == a.name &&
                  (m.castTo.isEmpty || m.castTo.contains(a.dataType)))
                cm <- mv.measures.find(m => m.kind == "cnt" && m.baseCol == a.name)
                dt = a.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType]
              } yield Cast(
                Divide(
                  reAgg(Sum(byName(sm.mvCol)),
                    // DecimalType.bounded(p + 10, s) — private[sql], inlined
                    org.apache.spark.sql.types.DecimalType(
                      math.min(dt.precision + 10, 38), math.min(dt.scale, 38))),
                  reAgg(Sum(byName(cm.mvCol)),
                    org.apache.spark.sql.types.DecimalType(20, 0)),
                  EvalMode.LEGACY),
                av.dataType, Some(confTz(session)),
                org.apache.spark.sql.catalyst.expressions.EvalMode.fromSQLConf(
                  org.apache.spark.sql.internal.SQLConf.get))
            case c @ Count(Seq(Literal(_, _))) =>
              // COUNT(*) = 0 over an empty input, but SUM over an empty
              // summary is NULL — coalesce so the global-aggregate
              // (no grouping keys) rewrite of an empty base stays exact
              Some(org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
                reAgg(Sum(byName(mv.countCol)), c.dataType),
                Literal(0L))))
            case _ => None
          }
        }

        var ok = true
        def rewriteExpr(e: Expression): Expression = e.transformUp {
          case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
            mvMeasure(ae.aggregateFunction) match {
              case Some(rep) => rep
              case None => ok = false; ae
            }
          case ae: AggregateExpression => ok = false; ae
          case a: AttributeReference if keySet.contains(a.name) && byName.contains(a.name) =>
            byName(a.name)
        }

        val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
          case a: AttributeReference if keySet.contains(a.name) =>
            Alias(byName(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)
          case al @ Alias(child, n) =>
            Alias(rewriteExpr(child), n)(exprId = al.exprId, qualifier = al.qualifier)
          case _ => ok = false; agg.aggregateExpressions.head
        }
        val newGrouping = agg.groupingExpressions.map(rewriteExpr)
        val newFilter = filters.map(rewriteExpr).reduceOption(And)
        // decline if any aggregate failed to decompose or any rewritten
        // expression still references the base relation
        val refsOk = (newAggExprs ++ newGrouping ++ newFilter)
          .forall(_.references.subsetOf(mvPlan.outputSet))
        if (!ok || !refsOk) None
        else {
          val source = newFilter.map(Filter(_, mvPlan)).getOrElse(mvPlan)
          Some(agg.copy(groupingExpressions = newGrouping,
            aggregateExpressions = newAggExprs, child = source))
        }
      }
    }
  }

  private def confTz(session: SparkSession): String =
    session.sessionState.conf.sessionLocalTimeZone

  /** File-source root paths scanned by a logical plan — the gate/spec proof
    * that a rewritten query reads the summary and not the base table.
    */
  def scannedPaths(plan: LogicalPlan): Seq[String] = plan.collect {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
      case _ => Seq.empty[String]
    }
  }.flatten
}
