package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE session configuration every runtime entry point (Verify, Bench,
  * Plans, test utilities) builds from — a missed config line in a
  * hand-copied builder silently runs gates under a differently-configured
  * session (UTC, nanos-as-long, AQE, and the GraftExtensions injection all
  * change results or plans).
  */
object GraftSession {

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Scale-adaptive shuffle partitioning (guide §2.2/§5): every
      // AQE-planned exchange starts at `initialPartitionNum` buckets and
      // coalesces by SIZE to `advisoryPartitionSizeInBytes`, floored at
      // the core count (`minPartitionNum` = shufflePartitions, so stages
      // small enough to fit under cores × advisory keep exactly today's
      // core-count parallelism). Net effect per stage:
      //   partitions = clamp(shuffleBytes / 8 MB, cores, 512)
      // — per-task sort/aggregate state now SHRINKS as data grows instead
      // of being pinned to bytes/cores (the round-18 sf1 probe measured
      // multi-hundred-MB spills and hash-agg sort fallbacks behind that
      // ceiling: ccStar rounds, mirrored-pair aggregates, collect_set
      // groups). `parallelismFirst` must be false or the coalescer
      // targets bytes/parallelism and caps partitions AT the core count,
      // which is exactly the non-scaling behavior being removed. At sf0.1
      // almost every exchange sits under cores × 8 MB, so it coalesces to
      // the same core-count partitioning as a fixed setting would.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        shufflePartitions)
      // minPartitionSize stays at its 1 MB default: the coalescer honors
      // minPartitionNum only down to that floor, so few-MB frames coalesce
      // below core-count parallelism — harmless for one-shot stages (the
      // bytes are tiny) but pathological for ITERATIVE consumers of small
      // checkpointed frames, which serialize every round. A global 64k
      // floor was measured (full sf0.1 registry): tiny stages gained ~16×
      // more tasks and the wall total rose ~20% — so the low floor is
      // applied SCOPED inside the iterative operator (Dedup.ccStar), not
      // session-wide.
      // Without this, persist()/localCheckpoint() materialize at the RAW
      // initial bucket count — AQE never coalesces a cached plan's result
      // stage — so every cache/checkpoint would hold `initialPartitionNum`
      // micro-partitions and every consumer (the iterative ccStar /
      // pagerank loops above all) would pay that many tasks per pass
      // (measured: 512-task iteration jobs at sf1, +20-50% on the graph
      // gates). With it, cached materialization coalesces by the same
      // size rules as any other stage. Trade-off accepted knowingly: a
      // consumer can no longer assume a cache's exact output partitioning
      // (Spark reports it unknown), which can re-add an exchange where a
      // gate relied on through-cache partition reuse — the full-registry
      // sf0.1 A/B is the regression gate for that.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // v2 commit: tasks rename straight into the output dir instead of a
      // second sequential job-commit rename pass. The gates and streaming
      // choreographies issue MANY small writes whose per-write commit cost
      // is pure floor; correctness here does not ride on v1's
      // all-or-nothing job commit — every multi-writer path in the lake
      // layer commits via its own staged-directory + atomic-rename protocol
      // (writeTableSnapshot/WAP/Txn), which v1 vs v2 does not change.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // `file:` without a process per call: without libhadoop, Hadoop's
      // local file system runs `chmod` on every create and mkdirs and
      // `readlink` in every FileContext rename (measured on 4 cores: a
      // create 6.9–7.9 ms, a status read 0.02 ms; an untraced lake_ingest
      // run started 558 processes). Task output, lake metadata and
      // streaming checkpoints all write through these two.
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.ForklessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.lake.ForklessLocalFs].getName)
      // Compile each generated class once per JVM. Spark keeps Janino's
      // output in one JVM-wide cache keyed by (task ClassLoader, source);
      // its default 100 entries thrash on a round of a few gates (the
      // 7-gate sql_read round needs 148 entries), and per-session artifact
      // isolation gives every session's tasks their own ClassLoader, so a
      // cloned session (each streaming micro-batch) recompiles what its
      // parent already compiled. A recompiled class is a new class that
      // the JIT starts again in the interpreter. Sized at two entries
      // (driver and executor loader) per distinct class of the registry: an
      // uncapped sf0.01 Verify run generates 2988 distinct classes in 4946
      // entries and holds 416 MB of heap and 280 MB of metaspace after a
      // GC, against 269 MB and 258 MB under a 2000-entry cap, which evicts
      // and recompiles 887 classes. On 4 cores the two lines cut sql_read's
      // geometric-mean operation time from 0.73 to 0.50 s. Isolation
      // only matters to sessions that add jars, files or artifacts, and
      // none here does. Both settings bind once per JVM: the cache is
      // sized by whichever session first generates code, isolation when a
      // session is created — so every first session must come from here.
      .config("spark.sql.codegen.cache.maxEntries", "6000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // money profile (Tables.MoneyDecimalConf): env-switchable so the SAME
      // Verify/Bench binaries can be driven under the decimal(18,2) schema
      // profile without a code change (see MoneyProfileSpec).
      .config(Tables.MoneyDecimalConf,
        sys.env.getOrElse("SPARK_GRAFT_MONEY_DECIMAL", "false"))

  /** `b.getOrCreate()`, then Spark's `CodeGenerator` loaded with the new
    * session active. Spark sizes its JVM-wide codegen cache from
    * `SQLConf.get` on whichever thread first loads that class; loaded
    * first on a thread with no active session (say, a caller's own pool
    * running `Seq(...).toDF`), the cache gets Spark's default 100 entries
    * and the 6000 set above is lost. Every entry point builds its session
    * here.
    */
  def getOrCreate(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    SparkSession.setActiveSession(s)
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.getClass
    s
  }

  /** Runs `body` over `df` persisted and unpersists it in a `finally`, so
    * an exception cannot leave the cache entry in the long-lived session.
    */
  private[graft] def withPersisted[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = df.persist()
    try body(p) finally p.unpersist()
  }

  /** Counts the Spark jobs started while it is a listener of the context.
    * Read it after `ListenerBusSync.drain`: events still queued are not
    * counted yet.
    */
  final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    private val n = new java.util.concurrent.atomic.AtomicLong(0L)
    def jobs: Long = n.get
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      n.incrementAndGet(); ()
    }
  }

  private def compileTimes = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Janino compiles in this JVM so far. A codegen cache hit does not
    * count, so the difference across a gate is what the gate compiled.
    */
  def codegenCompiles(): Long = compileTimes.getCount

  /** Estimated seconds for `n` compiles: the compile-time histogram keeps
    * a sample, not a sum, so `n` times the sample's mean.
    */
  def codegenCompileSeconds(n: Long): Double = n * compileTimes.getSnapshot.getMean / 1e3

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in builder-authored SQL or a feed description would
    * otherwise make a strict `json.load` fail.
    */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
