package org.apache.spark.sql.graft

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 `TableCatalog` over the graft versioned lake — the
  * SQL-addressable front door to `graft.lake.Lake`'s snapshot tables
  * (`<root>/tables/<name>/version=vN/`, Lake.scala:14). The reference
  * exposes its tables by NAME through ksqlDB/MySQL (data_lake_config.py
  * feed names, sync_to_mysql.py table DDL); this catalog restores that
  * surface on Spark's own catalog API:
  *
  * {{{
  *   val graft = GraftCatalog.register(spark, "/lake")
  *   spark.sql(s"SELECT * FROM $graft.tables.user_summary")                 // latest
  *   spark.sql(s"SELECT * FROM $graft.tables.user_summary VERSION AS OF 1") // pinned
  *   spark.sql("... TIMESTAMP AS OF '2026-01-01 00:00:00'")                 // as-of
  * }}}
  *
  * (`register` sets `spark.sql.catalog.<name>` to this class and
  * `spark.sql.catalog.<name>.root` to the lake root.)
  *
  * Time travel rides the catalog API itself (`loadTable(ident, version)` /
  * `(ident, timestampMicros)`): `VERSION AS OF n` resolves `version=vn`,
  * `TIMESTAMP AS OF t` resolves the newest snapshot COMMITTED at or before
  * `t`. Commit time is the `_commit` receipt the claim protocol stamps
  * INSIDE the snapshot at rename time — NOT the directory mtime, which
  * POSIX rename preserves from staging and which is therefore not monotone
  * across concurrent writers (a slow stager can claim a later version with
  * an earlier mtime).
  *
  * Reads plan through Spark's own `ParquetTable`, so the catalog inherits
  * the full scan machinery — vectorized reader, filter pushdown, column
  * pruning, partition discovery — identical to a path-based read of the
  * same snapshot; the catalog only resolves names to directories (a
  * driver-side FS listing, no jobs).
  *
  * SQL writes go THROUGH the snapshot contract, never around it:
  * `INSERT OVERWRITE` commits the query result as a new version,
  * `INSERT INTO` commits current ∪ new rows as a new version (old
  * versions stay time-travel readable; concurrent writers get distinct
  * versions via the OCC claim protocol; readers never observe a partial
  * append), `DELETE FROM` / `TRUNCATE TABLE` commit the surviving rows
  * as a new version (see `deleteWhere`), and `CREATE TABLE` / CTAS
  * commit an empty v1 carrying the declared schema. Time-traveled
  * relations are read-only by
  * construction. Destructive DDL (`DROP`/`ALTER`/`RENAME`) still refuses:
  * version retirement belongs to Retention/vacuum, which know what is
  * safe to delete.
  */
/** Implemented by catalog tables so PATH-KEYED governance (ReadGuard,
  * RowFilter, ColumnMask, ReadAudit — all of which key policies on file
  * paths) can resolve the directory behind a NAME-addressed relation: a
  * catalog read's `DataSourceV2Relation` carries no `path` option, so
  * without this hook a `SELECT ... FROM cat.tables.t` would silently
  * bypass every policy covering the table's files.
  */
trait GovernedPath { def governedPath: String }

/** Implemented by the catalog's WRITABLE latest-snapshot tables so the
  * file-granular mutation rewrite ([[CowRowLevelRewrite]]) can resolve
  * the lake root + table name behind a name-addressed relation and route
  * supported UPDATE / MERGE shapes through [[graft.lake.CopyOnWrite]]
  * instead of the whole-snapshot group-based replace.
  */
trait GraftMutableTable {
  def lakeRoot: String; def lakeTableName: String
  /** The snapshot version this table handle was resolved to at load time —
    * what a freshness-sensitive rewrite (the summary-table rule) compares
    * against its own refresh watermark.
    */
  def lakeVersion: Int
}

object GraftCatalog {
  /** `(admitted, total)` of the most recent catalog scan that pruned,
    * set at plan time. It exists only for the benchmark driver, which
    * reads it across its own operations; it is process-global, so engine
    * code and specs read [[graft.lake.FilePruner.recorded]] instead.
    */
  val lastStatsPrune =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** Per METADATA AGGREGATE (zero-scan MIN/MAX/COUNT from the stats
    * sidecar), the number of aggregate expressions it answered, recorded
    * on the planning thread: `metaAggregates.recorded { plan }` sees only
    * the calling thread's planning.
    */
  val metaAggregates = new graft.lake.ThreadRecorder[Int]

  private val registered = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Register a catalog over the lake at `root` in `spark`'s session
    * under a fresh name, and return the name. Spark caches catalog
    * instances per session by name, so each registration gets its own.
    */
  def register(spark: SparkSession, root: String): String = {
    val name = s"gcat${registered.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  /** Executor-side shim for the group-based row-level write: if a row
    * arrives one field WIDER than the data schema, its leading field is
    * the `__row_operation` routing column the exec did not project away
    * (see `newRowLevelOperationBuilder`) — project it off with the same
    * `ProjectingInternalRow` Spark's metadata-aware task uses; width-exact
    * rows pass through untouched.
    */
  private[graft] final case class DropRoutingColumnFactory(
      inner: org.apache.spark.sql.connector.write.DataWriterFactory,
      dataSchema: StructType)
      extends org.apache.spark.sql.connector.write.DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long):
        org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
      val delegate = inner.createWriter(partitionId, taskId)
      val width = dataSchema.length
      val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        dataSchema, 1 to width)
      new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
        override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
          if (row.numFields == width) delegate.write(row)
          else { proj.project(row); delegate.write(proj) }
        override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
          delegate.commit()
        override def abort(): Unit = delegate.abort()
        override def close(): Unit = delegate.close()
        override def currentMetricsValues():
            Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
          delegate.currentMetricsValues()
      }
    }
  }

  /** V1 source `Filter` → `Column`, for the `DELETE FROM` path: Spark
    * hands `SupportsDelete.deleteWhere` the WHERE clause as pushed-down
    * source filters, and the snapshot rewrite needs them back as an
    * expression to keep the survivors. `None` marks a filter this
    * translator (and therefore `canDeleteWhere`) does not handle — Spark
    * then refuses the DELETE at analysis instead of silently deleting
    * too much or too little.
    */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null, s"catalog $name needs option 'root' (the lake root dir)")
  }

  override def name(): String = catalogName

  // -- namespaces: the `tables` namespace of the Lake layout, plus the
  // data-free `system` namespace holding maintenance procedures --

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("tables"), Array("system"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.sameElements(Array("tables")) || namespace.sameElements(Array("system"))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft namespaces are fixed by the lake layout")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces are fixed by the lake layout")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft namespaces are fixed by the lake layout")

  // -- functions: the one V2 function the catalog serves is `bucket`, the
  // identity Spark's storage-partitioned-join machinery resolves a
  // scan-reported KeyGroupedPartitioning(bucket(N, k)) against (the
  // planner looks it up in the EMPTY namespace of the scan's catalog) --

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // -- tables --

  private def tableDir(ident: Identifier): Path =
    new Path(s"$root/${ident.namespace().mkString("/")}/${ident.name()}")

  private def fs(p: Path) = graft.lake.Lake.fs(SparkSession.active, p.toString)

  /** (version, commitMillis) pairs of a table, ascending by version. */
  private def snapshots(ident: Identifier): Seq[(Int, Long)] = {
    val dir = tableDir(ident)
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("version=v"))
      .map(s => (s.getPath.getName.stripPrefix("version=v").toInt,
        s.getModificationTime))
      .sortBy(_._1)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = new Path(s"$root/${namespace.mkString("/")}")
    val f = fs(dir)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).filter(_.isDirectory)
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = snapshots(ident).nonEmpty

  private def parquetTable(
      ident: Identifier, version: Int,
      pathsOverride: Option[Seq[String]] = None,
      nameSuffix: String = ""): ParquetTable = {
    // resolve shallow-clone pointer versions to their physical snapshot —
    // catalog SQL reads branches exactly like data snapshots — and
    // file-manifest versions (copy-on-write commits) to their full file
    // list, so SQL cannot tell a carried file from a physical one
    val spark = SparkSession.active
    val paths = pathsOverride.getOrElse {
      if (graft.lake.Lake.hasManifest(spark, root, ident.name(), version))
        graft.lake.Lake.snapshotFiles(spark, root, ident.name(), version)
      else Seq(graft.lake.Lake.resolveSnapshotDir(spark, root, ident.name(), version))
    }
    ParquetTable(
      s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}@v$version$nameSuffix",
      spark,
      CaseInsensitiveStringMap.empty(),
      paths,
      // a metadata-only ADD COLUMN leaves a declared schema the files do
      // not yet carry — hand the VISIBLE shape to the parquet table so
      // scans null-fill (rename/drop-mapped versions never scan through
      // this delegate — newScanBuilder routes them to the resolving
      // fallback — but its schema() is still the catalog's answer).
      // Always a schema: without one the table infers it in a Spark job.
      Some(graft.lake.Lake.declaredSchema(spark, root, ident.name(), version)
        .map(graft.lake.Lake.visibleSchema)
        .getOrElse(graft.lake.Lake.parquetSchema(spark, paths: _*))),
      classOf[ParquetFileFormat])
  }

  /** Does this version's declared schema carry a field mapping (renamed
    * or dropped columns)? Such versions must read through the resolving
    * fallback — a plain parquet scan under the visible schema would
    * null-fill renamed columns in pre-rename files instead of projecting
    * their prior spellings.
    */
  private def hasMapping(ident: Identifier, version: Int): Boolean =
    graft.lake.Lake.declaredSchema(
      SparkSession.active, root, ident.name(), version)
      .exists(graft.lake.Lake.hasFieldMapping)

  /** V1Scan fallback for MERGE-ON-READ versions: a position-delete
    * sidecar ([[graft.lake.MergeOnRead]]) must be anti-joined into the
    * scan, which a bare `ParquetTable` cannot express — so delete-carrying
    * versions serve SQL through Spark's V1 read bridge over the library's
    * resolved read (`Lake.readTableFeed`, the single place delete
    * semantics live). The relation hands back the resolved plan's
    * `InternalRow` RDD with `needConversion = false` (the JDBCRelation
    * contract), so no external-Row round-trip. The documented trade: a
    * MOR version loses parquet filter pushdown on the SQL path until
    * `CALL system.compact` folds the sidecar back to physical files.
    */
  private def morScanBuilder(
      ident: Identifier, version: Int, tableSchema: StructType): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // pruning + pushdown SURVIVE the fallback: the pruned columns and
      // translatable filters are applied to the INNER resolved plan, where
      // Catalyst pushes them into the data-file parquet scans underneath
      // the sidecar anti-joins — a MOR version costs the anti-join, not
      // the loss of scan pushdown. Pushed filters are also kept as
      // residuals above (returning `filters` unchanged — the conservative
      // parquet contract), so a translation gap can cost IO, never rows.
      private var required: StructType = tableSchema
      private var pushed: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(f => GraftCatalog.filterToColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.V1Scan {
          private val outSchema = required
          private val filters = pushed
          override def readSchema(): StructType = outSchema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: org.apache.spark.sql.SQLContext): T =
            (new BaseRelation with TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = context
              override val schema: StructType = outSchema
              override def needConversion: Boolean = false
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                val spark = SparkSession.active
                // FILE pruning survives the fallback too: the pushed
                // filters are already v1 — admit files against the
                // sidecars and read only those (the delete anti-joins key
                // on value or on (file, pos) of files actually read, so
                // fewer files changes nothing). Mapping versions degrade
                // gracefully: visible-name filters miss old files'
                // physical-name stats → candidate
                val keepOnly =
                  if (filters.isEmpty) None
                  else {
                    val a = admitScan(ident,
                      graft.lake.Lake.snapshotFiles(spark, root, ident.name(), version),
                      tableSchema, filters.toIndexedSeq)
                    Option.when(a.admitted.size < a.total)(a.admitted)
                  }
                val resolved = graft.lake.Lake.readTableFeedPruned(
                  spark, root, ident.name(), Some(version), keepOnly)
                val filtered = filters.foldLeft(resolved)((df, f) =>
                  df.filter(GraftCatalog.filterToColumn(f).get))
                filtered
                  .select(outSchema.fieldNames.toIndexedSeq.map(
                    org.apache.spark.sql.functions.col): _*)
                  .queryExecution.toRdd
                  .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
              }
            }).asInstanceOf[T]
        }
    }

  /** The catalog's file admission for a scan being planned — shared by
    * the parquet data scan and the merge-on-read fallback — published to
    * [[GraftCatalog.lastStatsPrune]], its only writer.
    */
  private def admitScan(
      ident: Identifier, files: Seq[String], schema: StructType,
      filters: Seq[Filter]): graft.lake.FilePruner.Admission = {
    val a = graft.lake.FilePruner.admit(
      SparkSession.active, root, ident.name(), files, schema, filters)
    GraftCatalog.lastStatsPrune.set((a.admitted.size, a.total))
    a
  }

  private def hasMorDeletes(ident: Identifier, version: Int): Boolean =
    graft.lake.MergeOnRead.hasAnyDeletes(
      SparkSession.active, root, ident.name(), version)

  /** The writable latest-snapshot table: reads delegate to Spark's
    * ParquetTable over the current `version=vN` dir; INSERTs route through
    * [[graft.lake.Lake.writeTableSnapshot]] — every SQL write COMMITS A
    * NEW VERSION through the same staged-claim (OCC) protocol the library
    * API uses. `INSERT OVERWRITE` snapshots exactly the query result;
    * `INSERT INTO` snapshots current ∪ new rows (append-as-new-version:
    * old versions stay readable via time travel, concurrent writers get
    * distinct versions, a reader never sees a half-appended table). The
    * V1Write bridge keeps the write a driver-coordinated DataFrame write,
    * which is precisely what the snapshot contract wants — one staged
    * parquet write, one rename.
    */
  /** The read-side scan builder for a plain (no MOR sidecar, no field
    * mapping) snapshot: wraps the delegate `ParquetTable`'s builder with
    * FILE PRUNING — pushed data filters are evaluated against the
    * per-file stats, bucket and bloom sidecars stamped at commit
    * ([[graft.lake.FilePruner]]) and, when they admit a strict subset, the
    * scan is rebuilt over only the admitted files. Spark's parquet scan
    * skips ROW GROUPS from footers it has already opened; this skips the
    * FOOTER OPENS — at a million files per snapshot, the difference
    * between a million object-store GETs and a driver-side sidecar read
    * per version dir.
    * Pruning is conservative (missing stats → candidate) and purely an
    * IO optimization: the rebuilt scan keeps every pushed filter, so a
    * false admit costs one footer read, never a wrong row. The unpruned
    * reference for parity checks is the library read
    * (`Lake.readTableFeed`), which never prunes files.
    */
  private final class StatsPruningScanBuilder(
      ident: Identifier, version: Int, tableSchema: StructType,
      options: CaseInsensitiveStringMap)
      extends ScanBuilder
      with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
    import org.apache.spark.sql.connector.read.{Scan, SupportsPushDownAggregates}
    import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder

    private val spark = SparkSession.active
    private val inner: FileScanBuilder = parquetTable(ident, version)
      .newScanBuilder(options).asInstanceOf[FileScanBuilder]
    private var required: Option[StructType] = None
    private var aggPushed = false
    // FileScanBuilder.pushFilters RETURNS the data-filter split (the
    // post-scan subset); its internal `dataFilters` var is protected
    private var pushedData: Seq[Expression] = Nil

    override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
      val post = inner.pushFilters(filters)
      pushedData = post
      post
    }
    override def pushedFilters:
        Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
      inner.pushedFilters
    override def pruneColumns(requiredSchema: StructType): Unit = {
      required = Some(requiredSchema)
      inner.pruneColumns(requiredSchema)
    }
    /** (result schema, the single final row) when the aggregation is
      * answerable EXACTLY from the stats sidecar — zero jobs, zero file
      * opens (Iceberg's metadata-aggregate shape).
      */
    private var metaAgg: Option[(StructType,
      org.apache.spark.sql.catalyst.InternalRow)] = None

    override def pushAggregation(agg: Aggregation): Boolean = {
      if (metaAgg.isDefined) { aggPushed = true; return true }
      val ok = inner match {
        case a: SupportsPushDownAggregates => a.pushAggregation(agg)
        case _ => false
      }
      if (ok) aggPushed = true
      ok
    }
    override def supportCompletePushDown(agg: Aggregation): Boolean = {
      metaAgg = tryMetadataAggregate(agg)
      metaAgg.isDefined || (inner match {
        case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
        case _ => false
      })
    }

    /** MIN / MAX / COUNT / COUNT(*) with no grouping and no filters,
      * answered from per-file stats when EVERY file has a usable entry:
      * COUNT(*) = Σ rows, COUNT(c) = Σ (rows - nulls), MIN/MAX fold the
      * per-file bounds (chunk statistics hold actual values, so the fold
      * is exact, not a bound). Floating-point MIN/MAX are excluded — NaN
      * never enters parquet stats, so a file's stat max understates a
      * NaN-bearing column. A column absent from a file's stats is the
      * pre-evolution null-filled case: contributes 0 to COUNT, nothing
      * to MIN/MAX. Anything else — unknown domains, unset null counts,
      * distinct, other functions — falls through to the normal path.
      */
    private def tryMetadataAggregate(agg: Aggregation):
        Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = {
      import org.apache.spark.sql.connector.expressions.NamedReference
      import org.apache.spark.sql.connector.expressions.aggregate._
      import org.apache.spark.sql.types._
      import org.apache.spark.unsafe.types.UTF8String
      if (pushedData.nonEmpty || agg.groupByExpressions.nonEmpty) return None
      val spark = SparkSession.active
      val files = graft.lake.Lake.snapshotFiles(spark, root, ident.name(), version)
      val stats = graft.lake.StatsSidecar.statsForFiles(spark, files)
        .getOrElse(return None)
      def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression):
          Option[StructField] = e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val n = nr.fieldNames()(0)
          tableSchema.fields.find(_.name == n)
            .orElse(tableSchema.fields.find(_.name.equalsIgnoreCase(n)))
        case _ => None
      }
      def entryOf(st: graft.lake.StatsSidecar.FileStat, fd: StructField) =
        st.cols.get(fd.name)
          .orElse(st.cols.find(_._1.equalsIgnoreCase(fd.name)).map(_._2))
      // fold MIN or MAX across files; None = infeasible, Some(null) = all null
      def bound(fd: StructField, takeMin: Boolean): Option[Any] = {
        val dom = graft.lake.StatsSidecar.domainForType(fd.dataType)
        if (dom == 'u' || dom == 'd') return None // floats: NaN-poisoned stats
        var acc: Option[Any] = None
        for (st <- stats) entryOf(st, fd) match {
          case None => () // file predates the column: all-null, no value
          case Some(cs) =>
            if (cs.typ == 'u') return None
            if (cs.typ != dom) return None
            // a truncated string bound is sound for pruning but is not a
            // VALUE present in the file — never serve it as an exact MIN/MAX
            if (cs.inexact) return None
            val v = if (takeMin) cs.min else cs.max
            v match {
              case None => () // all-null file
              case Some(x) => acc = acc match {
                case None => Some(x)
                case Some(a) =>
                  val c = graft.lake.StatsSidecar.compare(dom, x, a)
                  Some(if ((takeMin && c < 0) || (!takeMin && c > 0)) x else a)
              }
            }
        }
        Some(toInternal(fd.dataType, acc))
      }
      def toInternal(dt: DataType, v: Option[Any]): Any = v match {
        case None => null
        case Some(x) => dt match {
          case ByteType => x.asInstanceOf[Long].toByte
          case ShortType => x.asInstanceOf[Long].toShort
          case IntegerType | DateType => x.asInstanceOf[Long].toInt
          case LongType | TimestampType | TimestampNTZType => x.asInstanceOf[Long]
          case StringType => UTF8String.fromBytes(x.asInstanceOf[Array[Byte]])
          case dt: DecimalType => org.apache.spark.sql.types.Decimal(
            scala.math.BigDecimal(x.asInstanceOf[java.math.BigDecimal]),
            dt.precision, dt.scale)
          case _ => return null // unreachable under domain guard
        }
      }
      def countOf(fd: StructField): Option[Long] = {
        var total = 0L
        for (st <- stats) {
          if (st.rows < 0) return None
          entryOf(st, fd) match {
            case None => () // null-filled: contributes 0
            case Some(cs) =>
              if (cs.nulls < 0) return None
              total += st.rows - cs.nulls
          }
        }
        Some(total)
      }
      // (value, result field) per aggregate — the rule matches the scan's
      // readSchema to the aggregate output POSITIONALLY, so arity and
      // types must line up; names are descriptive only
      val computed = agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          if (stats.exists(_.rows < 0)) return None
          (stats.map(_.rows).sum: Any,
            StructField("count(*)", LongType, nullable = false))
        case c: Count if !c.isDistinct =>
          val fd = fieldOf(c.column).getOrElse(return None)
          (countOf(fd).getOrElse(return None): Any,
            StructField(s"count(${fd.name})", LongType, nullable = false))
        case m: Min =>
          val fd = fieldOf(m.column).getOrElse(return None)
          (bound(fd, takeMin = true).getOrElse(return None),
            StructField(s"min(${fd.name})", fd.dataType))
        case m: Max =>
          val fd = fieldOf(m.column).getOrElse(return None)
          (bound(fd, takeMin = false).getOrElse(return None),
            StructField(s"max(${fd.name})", fd.dataType))
        case _ => return None
      }
      GraftCatalog.metaAggregates.add(computed.size)
      Some((StructType(computed.map(_._2)),
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          computed.map(_._1).toArray)))
    }

    override def build(): Scan = {
      metaAgg match {
        case Some((aggSchema, row)) if aggPushed =>
          // the whole scan IS one precomputed row: planned as a
          // LocalTableScanExec — zero jobs, zero file opens
          return new org.apache.spark.sql.connector.read.LocalScan {
            override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
              Array(row)
            override def readSchema(): StructType = aggSchema
            override def description(): String =
              s"GraftMetadataAggregate(${ident.name()}@v$version)"
          }
        case _ => ()
      }
      // a pushed-down aggregate answers from footers of the listed files —
      // only safe to combine with pruning when no filters exist, and
      // Spark only pushes aggregates when none do; keep the guard anyway.
      // Its scan isn't row-shaped, so no bucket layout is reported either
      if (aggPushed) return inner.build()
      val all = graft.lake.Lake.snapshotFiles(spark, root, ident.name(), version)
      // a verified bucket layout is REPORTED to the planner (storage-
      // partitioned joins: two co-bucketed tables joined on the bucket key
      // skip both exchanges) — only under the V2 bucketing conf
      BucketReportingScan.maybeWrap(spark, buildDataScan(all),
        graft.lake.BucketLayout.layoutForFiles(spark, all))
    }

    private def buildDataScan(all: Seq[String]): Scan = {
      val dataFilters = pushedData
      val v1 = dataFilters.flatMap(e =>
        org.apache.spark.sql.execution.datasources.DataSourceStrategy
          .translateFilter(e, supportNestedPredicatePushdown = true))
      if (v1.isEmpty) return inner.build()
      val admitted = admitScan(ident, all, tableSchema, v1).admitted
      if (admitted.size >= all.size) inner.build()
      else {
        // zero admitted files still needs a valid (empty-result) scan:
        // keep one file — every pushed filter survives, so it yields rows
        // for no file the sidecars excluded, by the conservative contract
        val keep = if (admitted.isEmpty) all.take(1) else admitted
        val b = parquetTable(ident, version, Some(keep),
            s" [stats-pruned ${keep.size}/${all.size} files]")
          .newScanBuilder(options).asInstanceOf[FileScanBuilder]
        b.pushFilters(dataFilters)
        required.foreach(b.pruneColumns)
        b.build()
      }
    }
  }

  /** Scan-builder selection shared by the live table and time-traveled
    * [[FrozenTable]]: sidecar/mapping versions read through the resolving
    * V1 fallback, plain versions through the pruning parquet path.
    */
  private def readScanBuilder(
      ident: Identifier, version: Int, schema: StructType,
      options: CaseInsensitiveStringMap): ScanBuilder =
    if (hasMorDeletes(ident, version) || hasMapping(ident, version))
      morScanBuilder(ident, version, schema)
    else new StatsPruningScanBuilder(ident, version, schema, options)

  /** CHANGE-DATA-FEED table `<base>__changes` (A37): batch reads answer
    * "what changed between versions" through the V1 bridge over
    * [[graft.lake.Lake.tableChanges]]; `readStream.table` gets a
    * first-class MicroBatchStream whose OFFSETS ARE VERSIONS
    * ([[GraftChangeFeedStream]]). Options: `keyColumns` (required —
    * diffs are keyed), `startingVersion` (0 = initial snapshot as
    * inserts, `latest`, or a committed version), `endingVersion` (batch
    * only, default latest), `preimages` (updates emit BOTH images as
    * `update_preimage`/`update_postimage` — the Delta CDF shape derived-
    * state consumers need). Schema = the base table's visible schema +
    * `change` (inserted/updated/deleted) + `change_version`. Row-image
    * consumers filter `change <> 'deleted'` and drop the two columns.
    */
  private final class ChangesTable(ident: Identifier, baseName: String)
      extends Table with SupportsRead {
    private val dataSchema: StructType = {
      val spark = SparkSession.active
      val v = graft.lake.Lake.latestVersion(spark, root, baseName).getOrElse(
        throw new NoSuchTableException(ident))
      graft.lake.Lake.readTableFeed(spark, root, baseName, Some(v)).schema
    }
    override def name(): String =
      s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}"
    override def schema(): StructType = GraftChangeFeed.changeSchema(dataSchema)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
        private var required: StructType = schema()
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema
        private def keyCols: Seq[String] = Option(options.get("keyColumns"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        private def startingVersion: String =
          Option(options.get("startingVersion")).getOrElse("0")
        // Delta-CDF-shaped update emission: an update yields BOTH images
        // (update_preimage/update_postimage) instead of one `updated` row
        // — derived-state consumers (summary refresh) need the old group
        private def preimages: Boolean =
          Option(options.get("preimages")).exists(_.toBoolean)
        /** `startingTimestamp` (the Delta option): emit every change a
          * commit at-or-after the instant made — resolved to the NEWEST
          * version committed strictly before it (one ledger read,
          * [[graft.lake.Lake.commitInstants]]), which becomes the diff
          * base. Accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.f]`, or ISO
          * instants. A timestamp predating the first commit refuses with
          * a pointer to `startingVersion=0` (the initial-snapshot form) —
          * per-version replay of v1 does not exist, so silently mapping
          * to it would change semantics.
          */
        private def effectiveStartingVersion(spark: SparkSession): String =
          Option(options.get("startingTimestamp")) match {
            case None => startingVersion
            case Some(ts) =>
              require(options.get("startingVersion") == null,
                "set either startingVersion or startingTimestamp, not both")
              GraftChangeFeed.versionStrictlyBefore(spark, root, baseName, ts).toString
          }
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.V1Scan {
            private val outSchema = required
            override def readSchema(): StructType = outSchema
            override def toV1TableScan[T <: BaseRelation with TableScan](
                context: org.apache.spark.sql.SQLContext): T =
              (new BaseRelation with TableScan {
                override def sqlContext: org.apache.spark.sql.SQLContext = context
                override val schema: StructType = outSchema
                override def needConversion: Boolean = false
                override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                  val spark = SparkSession.active
                  val latest = graft.lake.Lake
                    .latestVersion(spark, root, baseName).getOrElse(0)
                  val from = effectiveStartingVersion(spark).toLowerCase match {
                    case "latest" => latest
                    case s => s.toInt
                  }
                  // endingTimestamp: newest version committed AT or
                  // before the instant (inclusive upper bound — the
                  // symmetric batch analog of startingTimestamp)
                  val to = Option(options.get("endingTimestamp")).map { ts =>
                    require(options.get("endingVersion") == null,
                      "set either endingVersion or endingTimestamp, not both")
                    GraftChangeFeed.versionAtOrBefore(spark, root, baseName, ts)
                  }.orElse(Option(options.get("endingVersion")).map(_.toInt))
                    .getOrElse(latest)
                  GraftChangeFeed.changesBetween(
                    spark, root, baseName, keyCols, from, to, preimages)
                    .select(outSchema.fieldNames.toIndexedSeq.map(
                      org.apache.spark.sql.functions.col): _*)
                    .queryExecution.toRdd
                    .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
                }
              }).asInstanceOf[T]
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
              new GraftChangeFeedStream(root, baseName, keyCols,
                effectiveStartingVersion(SparkSession.active), required = outSchema,
                checkpointLocation = checkpointLocation,
                maxVersionsPerTrigger =
                  Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
                preimages = preimages)
          }
      }
  }

  private final class GraftTable(ident: Identifier, version: Int)
      extends Table with SupportsRead with SupportsWrite with SupportsDelete
      with SupportsRowLevelOperations with GovernedPath with GraftMutableTable {
    override def lakeRoot: String = root
    override def lakeTableName: String = ident.name()
    override def lakeVersion: Int = version
    override def governedPath: String =
      // PHYSICAL path: a clone read is governed by the snapshot it actually
      // scans, so a deny on the source is not laundered by cloning
      new Path(graft.lake.Lake.resolveSnapshotDir(
        SparkSession.active, root, ident.name(), version)).toUri.getPath
    private val delegate = parquetTable(ident, version)
    override def name(): String = delegate.name
    override def schema(): StructType = delegate.schema
    override def properties(): util.Map[String, String] =
      graft.lake.Lake.tableProperties(
        SparkSession.active, root, ident.name()).asJava
    override def capabilities(): util.Set[TableCapability] =
      // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE WITH SCHEMA EVOLUTION` lets the
      // analyzer route source-only columns through alterTable (our
      // metadata-only Lake.addColumn — one `_schema` JSON, zero data
      // files) before the row-level rewrite runs against the evolved
      // schema
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      readScanBuilder(ident, version, schema(), options)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        private var overwrite = false
        override def truncate(): WriteBuilder = { overwrite = true; this }
        override def build(): V1Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, legacyOverwrite: Boolean): Unit = {
                val spark = data.sparkSession
                // align by position onto the table schema (the query's
                // column names are not the table's)
                val aligned = data.toDF(schema().fieldNames.toIndexedSeq: _*)
                // the `cluster_by` write policy: range-cluster + sort so
                // each committed file covers a narrow key slice — what
                // stats pruning feeds on, without hand-repartitioning
                def clustered(df: DataFrame): DataFrame =
                  graft.lake.Lake.applyClusterPolicy(spark, root, ident.name(), df)
                if (overwrite) {
                  // content independent of the current snapshot: the plain
                  // OCC commit is lost-update-safe
                  graft.lake.Lake.writeTableSnapshot(
                    clustered(aligned), root, ident.name())
                  ()
                } else {
                  // read-modify-write: fold current rows into the new
                  // snapshot under a compare-and-swap commit, else two
                  // concurrent INSERT INTOs would each union only their
                  // own rows and the later commit would drop the earlier
                  // writer's append
                  graft.lake.Lake.retryLoop(ident.name(), "INSERT INTO") { () =>
                    val base = graft.lake.Lake
                      .latestVersion(spark, root, ident.name()).getOrElse(0)
                    val current =
                      if (base == 0) aligned.limit(0)
                      else graft.lake.Lake.readTableFeed(spark, root, ident.name(), Some(base))
                    graft.lake.Lake.writeTableSnapshotIf(
                      clustered(current.unionByName(aligned)), root, ident.name(),
                      expectedLatest = base)
                  }
                  ()
                }
              }
            }
        }
      }

    /** `UPDATE` / `MERGE INTO` (and `DELETE` with predicates the filter
      * translator can't express) via Spark's GROUP-BASED row-level
      * framework: the analyzer rewrites the command into a ReplaceData
      * plan — read the table through our scan, apply the
      * changes, write every surviving row back — and this operation
      * supplies both halves. The write half delegates the distributed
      * parquet write to Spark's own DSv2 `ParquetTable` writer aimed at a
      * STAGING dir inside the table (executors write through the normal
      * file commit protocol), and our `commit` then promotes the staged
      * dir as the next version IF the base snapshot this operation read
      * is still latest (`Lake.promoteStagedIf` — the same CAS the other
      * read-modify-write SQL paths use). A lost race cannot retry here
      * (the query already executed against the stale base), so it
      * surfaces as `ConcurrentModificationException` and the statement is
      * re-run — first-writer-wins OCC, never lost updates. Replacing the
      * WHOLE snapshot per statement is exactly the snapshot contract
      * (finer-grained replacement is the compaction/file-level layout's
      * job, which snapshot tables deliberately do not have).
      */
    override def newRowLevelOperationBuilder(
        info: RowLevelOperationInfo): RowLevelOperationBuilder =
      new RowLevelOperationBuilder {
        override def build(): RowLevelOperation = new RowLevelOperation {
          override def command: RowLevelOperation.Command = info.command
          // merge-on-read scan staging this operation materialized (cleaned
          // up by the write's commit/abort — the scan is fully consumed
          // before either runs; a crash strands it for vacuumTable)
          private val morStaging = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
          // the scan feeding a group-based replace must NOT let the
          // command's WHERE clause prune ROWS: every row of the snapshot
          // has to reach the replacement write (the rewritten plan applies
          // the condition per row itself — a filter-pushing scan would
          // silently DROP all non-matching rows from the new version).
          // Wrapping the delegate builder so it exposes no pushdown
          // interfaces keeps the read a full-snapshot scan by construction.
          //
          // A MERGE-ON-READ base cannot ride the V1Scan fallback here —
          // Spark's GroupBasedRowLevelOperationScanPlanning builds the
          // row-level scan relation itself and (unlike the SELECT path's
          // V2ScanRelationPushDown) never wraps a V1Scan, so the physical
          // strategy would demand toBatch. Instead the scan MATERIALIZES
          // the resolved content (sidecar anti-joined — deleted rows must
          // never resurrect into the replacement) once into a `.stage_`
          // temp dir at batch-planning time and serves a genuine
          // ParquetTable batch over it. Cost class is unchanged: the
          // group-based replace already rewrites the full snapshot.
          override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
            if (hasMorDeletes(ident, version)) new ScanBuilder {
              override def build(): org.apache.spark.sql.connector.read.Scan =
                new org.apache.spark.sql.connector.read.Scan {
                  override def readSchema(): StructType = schema()
                  private lazy val inner = {
                    val spark = SparkSession.active
                    val tmp = graft.lake.Lake.newStage(root, ident.name(), "morscan_")
                    graft.lake.Lake
                      .readTableFeed(spark, root, ident.name(), Some(version))
                      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                      .parquet(tmp.toString)
                    morStaging.add(tmp)
                    ParquetTable(s"${delegate.name}-mor-resolved", spark,
                      CaseInsensitiveStringMap.empty(), Seq(tmp.toString),
                      Some(graft.lake.Lake.parquetSchema(spark, tmp.toString)),
                      classOf[ParquetFileFormat])
                      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
                  }
                  override def toBatch: org.apache.spark.sql.connector.read.Batch =
                    inner.toBatch
                }
            } else {
              val inner = delegate.newScanBuilder(options)
              new ScanBuilder { override def build() = inner.build() }
            }
          override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
            new WriteBuilder {
              override def build(): Write = new Write {
                private val stage = graft.lake.Lake.newStage(root, ident.name())
                private val stagingWrite = ParquetTable(
                  s"${delegate.name}-rowlevel-staging",
                  SparkSession.active,
                  CaseInsensitiveStringMap.empty(),
                  Seq(stage.toString),
                  Some(winfo.schema()),
                  classOf[ParquetFileFormat]).newWriteBuilder(winfo).build()
                override def toBatch: BatchWrite = new BatchWrite {
                  private val db = stagingWrite.toBatch
                  // the file committer coordinates task commits itself —
                  // double authorization via the V2 coordinator path denies
                  // every task ("driver did not authorize commit")
                  override def useCommitCoordinator(): Boolean =
                    db.useCommitCoordinator()
                  override def onDataWriterCommit(
                      message: WriterCommitMessage): Unit =
                    db.onDataWriterCommit(message)
                  override def createBatchWriterFactory(
                      pi: PhysicalWriteInfo): DataWriterFactory =
                    // ReplaceData's no-metadata write path hands the writer
                    // rows still PREFIXED with the __row_operation routing
                    // column (the projecting task runs only when the
                    // operation requires metadata attributes, which a file
                    // table cannot supply) — apply the dropped projection
                    // ourselves before Spark's parquet writer sees the row
                    GraftCatalog.DropRoutingColumnFactory(
                      db.createBatchWriterFactory(pi), winfo.schema())
                  private def dropMorStaging(): Unit = {
                    var d = morStaging.poll()
                    while (d != null) {
                      scala.util.Try { val f = fs(d); if (f.exists(d)) f.delete(d, true) }
                      d = morStaging.poll()
                    }
                  }
                  override def commit(messages: Array[WriterCommitMessage]): Unit = {
                    db.commit(messages)
                    val spark = SparkSession.active
                    val promoted = graft.lake.Lake.promoteStagedIf(
                      spark, root, ident.name(), stage, expectedLatest = version)
                    dropMorStaging()
                    if (promoted.isEmpty)
                      throw new java.util.ConcurrentModificationException(
                        s"row-level operation on ${ident.name()}: base version " +
                          s"v$version is no longer latest — re-run the statement")
                  }
                  override def abort(messages: Array[WriterCommitMessage]): Unit = {
                    db.abort(messages)
                    val f = fs(stage)
                    if (f.exists(stage)) f.delete(stage, true)
                    dropMorStaging()
                  }
                }
              }
            }
        }
      }

    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      filters.forall(f => GraftCatalog.filterToColumn(f).isDefined)

    /** `DELETE FROM` (and, via the `TruncatableTable` default,
      * `TRUNCATE TABLE`) COMMITS THE SURVIVORS AS A NEW VERSION — delete
      * is a snapshot commit like every other write, never an in-place
      * mutation: old versions stay time-travel readable (and vacuum, not
      * DELETE, is what physically retires bytes — the `c9_gdpr_erasure` /
      * `c15_vacuum` pair owns true destruction). SQL three-valued
      * semantics: a row is deleted only where the predicate IS TRUE, so
      * NULL-predicate rows survive (`!coalesce(pred, false)`). The
      * read-modify-write races concurrent writers exactly like
      * `INSERT INTO`, so it rides the same compare-and-swap loop.
      */
    override def deleteWhere(filters: Array[Filter]): Unit = {
      val spark = SparkSession.active
      if (graft.lake.Lake.latestVersion(spark, root, ident.name()).isEmpty)
        throw new NoSuchTableException(ident)
      if (filters.isEmpty) {
        // TRUNCATE (and unconditional DELETE): an empty snapshot is O(1) —
        // never a sidecar covering every row or a survivor rewrite
        graft.lake.Lake.retryLoop(ident.name(), "TRUNCATE") { () =>
          val base = graft.lake.Lake.latestVersion(spark, root, ident.name()).get
          graft.lake.Lake.writeTableSnapshotIf(
            graft.lake.Lake.readTableFeed(spark, root, ident.name(), Some(base)).limit(0),
            root, ident.name(), expectedLatest = base)
        }
        ()
      } else {
        // a pure key-equality predicate (the GDPR shape: `WHERE user_id =
        // v` / `WHERE user_id IN (...)`, and conjunctions of those on
        // DISTINCT columns — `WHERE tenant = 't1' AND user_id IN (...)` is
        // a composite-key erasure) routes to the EQUALITY-delete path —
        // the commit writes only the key tuples, O(keys) bytes, ZERO jobs
        // over the table data. An IN×IN conjunction expands to the value
        // cross product (bounded below — past the bound the positional
        // path is the better cost class anyway); any NULL, repeated
        // column, or non-equality conjunct falls through to positional.
        def conj(f: Filter): Seq[Filter] = f match {
          case And(l, r) => conj(l) ++ conj(r)
          case other => Seq(other)
        }
        val eqKeyed: Option[Seq[(String, Seq[Any])]] = filters
          .toIndexedSeq.flatMap(conj)
          .foldLeft(Option(Vector.empty[(String, Seq[Any])])) {
            case (Some(acc), EqualTo(c, v)) if v != null =>
              Some(acc :+ (c -> Seq(v)))
            case (Some(acc), In(c, vs)) if vs.nonEmpty && !vs.contains(null) =>
              Some(acc :+ (c -> vs.toIndexedSeq))
            case _ => None
          }
          .filter(ps => ps.map(_._1).distinct.size == ps.size)
          .filter(ps => ps.map(_._2.size.toLong).product <= 10000L)
        eqKeyed match {
          case Some(parts) =>
            import scala.jdk.CollectionConverters._
            val tblSchema = loadTable(ident).schema()
            val keySchema = StructType(
              parts.map { case (c, _) => tblSchema.apply(c).copy(nullable = true) })
            val tuples = parts.map(_._2)
              .foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
                for { t <- acc; v <- vs } yield t :+ v)
            val keys = spark.createDataFrame(
              tuples.map(t => org.apache.spark.sql.Row(t: _*)).asJava, keySchema)
            graft.lake.MergeOnRead.deleteByKeys(spark, root, ident.name(), keys)
          case None =>
            // MERGE-ON-READ (round 11): the commit is a position-delete
            // sidecar + manifest — O(deleted rows), zero data files
            // rewritten, the right default for DELETE whose matches can
            // span every file. Reads apply the sidecar (library + SQL via
            // the V1Scan fallback); CALL system.compact folds it back to
            // physical files. Same visible semantics: survivors as a new
            // version, NULL-predicate rows survive (position capture
            // filters on pred IS TRUE), CAS vs concurrent writers.
            // CopyOnWrite.deleteWhere remains the library-level
            // copy-on-write alternative for read-heavy tables.
            val pred = filters.toIndexedSeq
              .map(f => GraftCatalog.filterToColumn(f).getOrElse(
                throw new UnsupportedOperationException(s"untranslatable delete filter: $f")))
              .reduce(_ && _)
            graft.lake.MergeOnRead.deleteWhere(spark, root, ident.name(), pred)
        }
      }
      ()
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // `<base>__changes` resolves the CHANGE FEED over the base table
    // (A37); a real table named that way would shadow it, so the suffix
    // only fires when no such snapshot table exists
    if (ident.name().endsWith(GraftChangeFeed.ChangesSuffix) &&
        snapshots(ident).isEmpty) {
      val base = ident.name().stripSuffix(GraftChangeFeed.ChangesSuffix)
      if (snapshots(Identifier.of(ident.namespace(), base)).nonEmpty)
        return new ChangesTable(ident, base)
    }
    val snaps = snapshots(ident)
    if (snaps.isEmpty) throw new NoSuchTableException(ident)
    new GraftTable(ident, snaps.last._1)
  }

  /** Pinned snapshots are immutable — time-travel loads expose scans only,
    * so no write path can ever add files to a committed version dir.
    */
  private final class FrozenTable(ident: Identifier, version: Int)
      extends Table with SupportsRead with GovernedPath {
    override def governedPath: String =
      // PHYSICAL path: a clone read is governed by the snapshot it actually
      // scans, so a deny on the source is not laundered by cloning
      new Path(graft.lake.Lake.resolveSnapshotDir(
        SparkSession.active, root, ident.name(), version)).toUri.getPath
    private val delegate = parquetTable(ident, version)
    override def name(): String = delegate.name
    override def schema(): StructType = delegate.schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      readScanBuilder(ident, version, schema(), options)
  }

  /** `VERSION AS OF n` (also accepts `vn`) — or a TAG NAME: `VERSION AS
    * OF 'stable'` resolves through [[graft.lake.Lake.tagOf]]. The numeric
    * parse runs first, so unambiguity rests on [[graft.lake.Lake.tagVersion]]
    * refusing both all-digit AND `v<digits>` tag names at creation.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val snaps = snapshots(ident)
    if (snaps.isEmpty) throw new NoSuchTableException(ident)
    val v = scala.util.Try(version.stripPrefix("v").toInt).getOrElse {
      graft.lake.Lake.tagOf(SparkSession.active, root, ident.name(), version)
        .getOrElse(throw new NoSuchTableException(
          Seq(s"${ident.name()} (no tag '$version')")))
    }
    if (!snaps.exists(_._1 == v)) throw new NoSuchTableException(
      Seq(s"${ident.name()} (has versions ${snaps.map(_._1).mkString(",")}, not v$v)"))
    new FrozenTable(ident, v)
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): newest snapshot committed
    * at or before `t`.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val snaps = snapshots(ident)
    if (snaps.isEmpty) throw new NoSuchTableException(ident)
    // order by COMMIT instant (the _commit receipt's mtime — POSIX rename
    // preserves dir mtimes, so the directory timestamp is the staging
    // instant, which is NOT monotone across concurrent writers). Bulk
    // resolution via the version ledger: one read, not a probe per version
    val instants = graft.lake.Lake.commitInstants(
      SparkSession.active, root, ident.name())
    val eligible = snaps.map(_._1).filter(v =>
      instants.getOrElse(v, Long.MaxValue) * 1000L <= timestampMicros)
    if (eligible.isEmpty) throw new NoSuchTableException(
      Seq(s"${ident.name()} (no snapshot at or before timestamp $timestampMicros)"))
    new FrozenTable(ident, eligible.max)
  }

  /** `CREATE TABLE` (and the create half of CTAS): commit an EMPTY v1
    * snapshot carrying the declared schema — creation is itself a version,
    * so the very first write already rides the OCC claim path and CTAS's
    * subsequent INSERT lands as v2. Partition transforms are refused: the
    * snapshot layout owns the directory structure.
    */
  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft snapshot tables own their layout; partition transforms are not supported")
    if (tableExists(ident)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(Seq(catalogName) ++ ident.namespace() :+ ident.name())
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    graft.lake.Lake.writeTableSnapshot(empty, root, ident.name())
    // persist USER properties (cluster_by is the write policy consumers
    // honor); engine-injected keys are not policy
    val userProps = properties.asScala.toMap -- Seq(
      "provider", "location", "owner", "external", "comment")
    if (userProps.nonEmpty)
      graft.lake.Lake.setTableProperties(spark, root, ident.name(), userProps)
    new GraftTable(ident, snapshots(ident).last._1)
  }

  /** `ALTER TABLE ... ADD COLUMN` commits METADATA-ONLY schema evolution
    * ([[graft.lake.Lake.addColumn]]): a `_schema` sidecar + a manifest
    * carrying every file by reference — adding a column to a 100 TB table
    * is O(1), readers null-fill pre-evolution files. Only nullable
    * top-level adds are expressible without a rewrite; every other change
    * (rename, drop, type change, nested adds) still refuses — those
    * require rewriting data the snapshot contract owns.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        graft.lake.Lake.addColumn(SparkSession.active, root, ident.name(),
          org.apache.spark.sql.types.StructField(
            add.fieldNames()(0), add.dataType(), nullable = add.isNullable))
      case rn: TableChange.RenameColumn if rn.fieldNames().length == 1 =>
        // metadata-only: one `_schema` JSON recording the prior physical
        // spelling; readers coalesce old files through the mapping
        graft.lake.Lake.renameColumn(SparkSession.active, root, ident.name(),
          rn.fieldNames()(0), rn.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        // metadata-only: the field is marked dropped in the raw sidecar
        // (its spellings stay reserved) and stripped from every read
        graft.lake.Lake.dropColumn(SparkSession.active, root, ident.name(),
          del.fieldNames()(0))
      case sp: TableChange.SetProperty =>
        graft.lake.Lake.setTableProperties(SparkSession.active, root,
          ident.name(), Map(sp.property() -> sp.value()))
      case rp: TableChange.RemoveProperty =>
        graft.lake.Lake.setTableProperties(SparkSession.active, root,
          ident.name(), Map.empty, remove = Set(rp.property()))
      case ut: TableChange.UpdateColumnType if ut.fieldNames().length == 1 =>
        // metadata-only for LOSSLESS WIDENINGS (int->long, float->double,
        // decimal precision growth, ...): the parquet reader up-converts
        // old narrow files at scan time; anything else refuses inside
        graft.lake.Lake.widenColumn(SparkSession.active, root, ident.name(),
          ut.fieldNames()(0), ut.newDataType())
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER ($other): only top-level nullable ADD COLUMN, " +
          "RENAME COLUMN, DROP COLUMN and widening ALTER COLUMN TYPE are " +
          "expressible without rewriting the snapshot")
    }
    loadTable(ident)
  }

  /** `DROP TABLE` retires the whole feed through [[graft.lake.Lake.dropTable]]:
    * refuses while a live branch pins any of its versions, and releases the
    * table's own clone pins on its sources so their retention unblocks.
    */
  override def dropTable(ident: Identifier): Boolean =
    graft.lake.Lake.dropTable(SparkSession.active, root, ident.name())

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft tables are written via Lake.writeTableSnapshot (snapshot+OCC contract)")

  // -- maintenance procedures: `CALL <cat>.system.<proc>(...)` --
  // The lake's lifecycle operations (branching, merge-back, restore,
  // retention, vacuum) exposed through Spark's ProcedureCatalog API, so
  // the SQL surface covers MAINTENANCE as well as reads and writes — the
  // operational posture a SQL-only user needs (Iceberg's `CALL
  // system.*` shape). Each procedure delegates to the same library entry
  // point the programmatic API uses and returns its outcome as rows.

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private def procedure(
      pname: String, params: Array[ProcedureParameter],
      outSchema: StructType)(body: InternalRow => Array[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = s"graft lake maintenance: $pname"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = pname
        override def description(): String = s"graft lake maintenance: $pname"
        override def parameters(): Array[ProcedureParameter] = params
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val out = body(input)
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = outSchema
          }).iterator()
        }
      }
    }

  private def versionRow(v: Int): Array[InternalRow] =
    Array(new GenericInternalRow(Array[Any](v)))

  private val versionSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", IntegerType)))

  private val sweepSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("entry", StringType),
    org.apache.spark.sql.types.StructField("deleted", BooleanType)))

  private val statsBackfillSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("dir", StringType),
    org.apache.spark.sql.types.StructField("files_indexed", IntegerType)))

  private val tableStatsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", IntegerType),
    org.apache.spark.sql.types.StructField("data_files", IntegerType),
    org.apache.spark.sql.types.StructField("carried_files", IntegerType),
    org.apache.spark.sql.types.StructField("raw_rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bytes",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("position_deletes",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("equality_deletes",
      org.apache.spark.sql.types.LongType)))

  private val historySchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", IntegerType),
    org.apache.spark.sql.types.StructField("committed_at_ms",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("kind", StringType),
    org.apache.spark.sql.types.StructField("data_files", IntegerType),
    org.apache.spark.sql.types.StructField("carried_files", IntegerType)))

  private def in(n: String, t: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(n, t).build()

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("clone", "cluster", "collect_stats", "compact", "compact_files",
        "compact_where",
        "history", "merge_branch", "restore", "prune_versions",
        "table_stats", "tag", "untag", "vacuum")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new UnsupportedOperationException(
        s"procedures live in the system namespace, not ${ident.namespace().mkString(".")}")
    def str(row: InternalRow, i: Int): String = row.getUTF8String(i).toString
    val spark = SparkSession.active
    ident.name() match {
      case "clone" => procedure("clone",
        Array(in("src", StringType), in("dst", StringType)),
        versionSchema) { row =>
        versionRow(graft.lake.Lake.cloneTable(spark, root, str(row, 0), str(row, 1)))
      }
      case "merge_branch" => procedure("merge_branch",
        Array(in("src", StringType), in("branch", StringType), in("key", StringType)),
        versionSchema) { row =>
        versionRow(graft.lake.Lake.mergeBranch(
          spark, root, str(row, 0), str(row, 1),
          str(row, 2).split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      }
      case "compact" => procedure("compact",
        Array(in("table", StringType)),
        versionSchema) { row =>
        // re-publish the resolved latest (manifests followed, merge-on-read
        // sidecars applied) as plain size-targeted physical files — restores
        // full pushdown and unchains COW/MOR versions for retention
        versionRow(graft.lake.Lake.compactTable(spark, root, str(row, 0)))
      }
      case "compact_where" => procedure("compact_where",
        Array(in("table", StringType), in("predicate", StringType)),
        versionSchema) { row =>
        // OPTIMIZE ... WHERE: fold ONLY the predicate's files back into
        // the table's declared layout (cluster_by / zorder / bucket_by +
        // file_max_records); everything else carries by reference —
        // commit cost tracks the slice, never the table
        versionRow(graft.lake.CopyOnWrite.compactWhere(
          spark, root, str(row, 0),
          org.apache.spark.sql.functions.expr(str(row, 1))))
      }
      case "compact_files" => procedure("compact_files",
        Array(in("table", StringType), in("small_mb", IntegerType)),
        versionSchema) { row =>
        // incremental bin-pack: only files under small_mb are rewritten;
        // target-sized files carry by reference — the maintenance loop for
        // streaming appends and frequent tiny COW commits
        require(row.getInt(1) >= 1,
          s"compact_files: small_mb must be >= 1, got ${row.getInt(1)}")
        versionRow(graft.lake.CopyOnWrite.compactSmallFiles(
          spark, root, str(row, 0), smallBytes = row.getInt(1).toLong << 20))
      }
      case "table_stats" => procedure("table_stats",
        Array(in("table", StringType)),
        tableStatsSchema) { row =>
        // DESCRIBE DETAIL for the latest snapshot, answered from METADATA:
        // file counts + bytes from the resolved listing, raw row counts
        // from the stats sidecars (-1 when any file lacks one), sidecar
        // delete counts from the sidecar parquet — no table-data job.
        // raw_rows counts PHYSICAL rows; live rows = raw_rows minus the
        // sidecar-deleted ones (applied at read / folded at compaction)
        val name = str(row, 0)
        val v = graft.lake.Lake.latestVersion(spark, root, name).getOrElse(
          throw new NoSuchTableException(Identifier.of(Array("tables"), name)))
        val files = graft.lake.Lake.snapshotFiles(spark, root, name, v)
        val ownDir = new Path(graft.lake.Lake.resolveSnapshotDir(
          spark, root, name, v))
        val own = files.count(f => new Path(f).getParent ==
          fs(ownDir).makeQualified(ownDir))
        val bytes = files.map { f =>
          val p = new Path(f); fs(p).getFileStatus(p).getLen
        }.sum
        val rawRows = graft.lake.StatsSidecar.statsForFiles(spark, files)
          .map(_.map(_.rows).sum).getOrElse(-1L)
        val posDel = graft.lake.MergeOnRead.deletesOf(spark, root, name, v)
          .map(_.count()).getOrElse(0L)
        val eqDel = graft.lake.MergeOnRead.eqDeletesOf(spark, root, name, v)
          .map(_.count()).getOrElse(0L)
        Array(new GenericInternalRow(Array[Any](
          v, own, files.size - own, rawRows, bytes, posDel, eqDel)): InternalRow)
      }
      case "collect_stats" => procedure("collect_stats",
        Array(in("table", StringType)),
        statsBackfillSchema) { row =>
        // backfill `_filestats.json` for current-snapshot version dirs
        // that lack one (pre-feature dirs, failed best-effort stamps) —
        // footer reads only, one stamp per dir; commits stamp their own
        graft.lake.StatsSidecar.collectStats(spark, root, str(row, 0))
          .toArray.map { case (dir, n) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(dir), n)): InternalRow
          }
      }
      case "history" => procedure("history",
        Array(in("table", StringType)),
        historySchema) { row =>
        // DESCRIBE HISTORY for the snapshot layout: O(versions) driver FS
        // metadata, zero jobs
        graft.lake.Lake.tableHistory(spark, root, str(row, 0)).toArray.map(i =>
          new GenericInternalRow(Array[Any](
            i.version, i.committedAtMillis, UTF8String.fromString(i.kind),
            i.dataFiles, i.carriedFiles)): InternalRow)
      }
      case "cluster" => procedure("cluster",
        Array(in("table", StringType), in("columns", StringType)),
        versionSchema) { row =>
        // clustered rewrite: one range shuffle buys per-file min/max
        // skipping on the cluster key for every read after
        versionRow(graft.lake.Lake.compactTable(spark, root, str(row, 0),
          clusterBy = str(row, 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      }
      case "restore" => procedure("restore",
        Array(in("table", StringType), in("version", IntegerType)),
        versionSchema) { row =>
        versionRow(graft.lake.Lake.restoreTable(spark, root, str(row, 0), row.getInt(1)))
      }
      case "prune_versions" => procedure("prune_versions",
        Array(in("table", StringType), in("keep", IntegerType)),
        sweepSchema) { row =>
        // keep=0 would delete every unpinned version including the latest —
        // a maintenance procedure must never be able to destroy the table.
        require(row.getInt(1) >= 1,
          s"prune_versions: keep must be >= 1, got ${row.getInt(1)}")
        graft.lake.Retention.pruneTableVersions(
          spark, root, str(row, 0), keep = row.getInt(1)).toArray.map(p =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(p.path), p.deleted)): InternalRow)
      }
      case "tag" => procedure("tag",
        Array(in("table", StringType), in("tag", StringType),
          in("version", IntegerType)),
        versionSchema) { row =>
        // version <= 0 tags the current latest
        val v = if (row.getInt(2) > 0) Some(row.getInt(2)) else None
        versionRow(graft.lake.Lake.tagVersion(spark, root, str(row, 0), str(row, 1), v))
      }
      case "untag" => procedure("untag",
        Array(in("table", StringType), in("tag", StringType)),
        versionSchema) { row =>
        val t = str(row, 0); val tg = str(row, 1)
        val v = graft.lake.Lake.tagOf(spark, root, t, tg).getOrElse(
          throw new IllegalArgumentException(s"no tag '$tg' on $t"))
        graft.lake.Lake.removeTag(spark, root, t, tg)
        versionRow(v)
      }
      case "vacuum" => procedure("vacuum",
        Array(in("table", StringType)),
        sweepSchema) { row =>
        graft.lake.Lake.vacuumTable(spark, root, str(row, 0)).toArray.map {
          case (entry, deleted) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(entry), deleted)): InternalRow
        }
      }
      case other => throw new UnsupportedOperationException(
        s"unknown procedure: $other (have: clone, cluster, collect_stats, " +
          "compact, compact_files, compact_where, history, merge_branch, restore, " +
          "prune_versions, table_stats, tag, untag, vacuum)")
    }
  }
}
