package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan auditor: dumps `.explain("formatted")`-style plans for headline
  * queries into PLANS.md together with automated shape checks — the "is
  * this the plan you'd want at 100 TB" review (pushdown reached the scan,
  * dims broadcast, codegen spans wide, partition pruning planned).
  *
  * Run: `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {

  case class Check(name: String, ok: Boolean, detail: String)

  /** The hint-policy predicate: may this subtree carry an explicit
    * `broadcast()` hint? True only for sides bounded by the DATA MODEL
    * forever — a 1-row scalar aggregate at the subtree ROOT (modulo
    * row-preserving Project/Filter/SubqueryAlias wrappers, which cannot
    * re-grow a 1-row result), or a subtree whose every leaf scans exactly
    * the nation/region parquet files (path BASENAME match — a substring
    * match would be spoofable by any path containing "nation"). A hint on
    * anything corpus-scaling is honored to the 8 GB cap and then the query
    * dies at scale; those joins must stay AQE-chosen. Top-level so the
    * policy itself is unit-testable (PlansSpec pins that a mis-hinted fact
    * subtree FAILS).
    */
  def hintGrowthBounded(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @scala.annotation.tailrec
    def strip(n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = n match {
      case pr: Project => strip(pr.child)
      case fi: Filter => strip(fi.child)
      case sa: SubqueryAlias => strip(sa.child)
      case other => other
    }
    val scalarAggAtRoot = strip(p) match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _ => false
    }
    val leaves = p.collectLeaves()
    val dimOnly = leaves.nonEmpty && leaves.forall {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.forall { rp =>
          rp.getName == "nation.parquet" || rp.getName == "region.parquet"
        }
      case _ => false
    }
    scalarAggAtRoot || dimOnly
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.getOrCreate(
      GraftSession.builder("local[4]", "4"))
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Each section: the plan ")
    sb.append("shape checks (the properties that must survive a 100 TB scale-up), ")
    sb.append("then the executed plan.\n")

    def formatted(df: DataFrame): String = {
      // materialize THIS QueryExecution's physical plan object (count()/
      // write() would build a fresh one) so ITS AQE instance finalizes and
      // codegen stages are assigned
      df.queryExecution.executedPlan.execute().count()
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode) +
        "\n-- executed (final adaptive) plan --\n" +
        df.queryExecution.executedPlan.toString
    }

    def section(title: String, df: DataFrame, checks: Seq[(String, String => Boolean)]): Unit = {
      val plan = formatted(df)
      sb.append(s"\n## $title\n\n")
      checks.foreach { case (name, pred) =>
        val ok = pred(plan)
        sb.append(s"- ${if (ok) "✅" else "❌"} $name\n")
      }
      // keep the readable formatted half in the artifact; the executed-plan
      // tail is for the checks
      val visible = plan.split("-- executed \\(final adaptive\\) plan --").head
      sb.append("\n```\n").append(visible.trim.take(4000)).append("\n```\n")
    }

    def hintCount(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size

    // B4 flagship: pushdown + broadcast + codegen. The customer join is
    // UNHINTED (AQE broadcasts at this sf, shuffle-capable at scale) —
    // zero explicit hints is the pinned contract
    val b4df = queries.Reference.b4UserSummary(spark, sfDir)
    val b4Hints = hintCount(b4df)
    section("b4_user_summary — grouped multi-metric agg over an AQE-chosen dim join",
      b4df,
      Seq(
        "customer dim joined via BroadcastHashJoin at this sf (fact side never shuffles for the join)"
          -> (_.contains("BroadcastHashJoin")),
        "no explicit broadcast hint (customer scales with the corpus — AQE decides, shuffle-capable)"
          -> (_ => b4Hints == 0),
        "column pruning: orders scan reads only the 4 needed columns"
          -> (p => p.contains("ReadSchema: struct<o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate")),
        "partial aggregation before the shuffle (HashAggregate pair)"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2),
        "whole-stage codegen active" -> (p => p.contains("WholeStageCodegen") || p.contains("*("))))

    // filter pushdown to scan
    section("filter pushdown — predicate reaches the parquet scan",
      Tables.orders(spark, sfDir)
        .filter(col("o_totalprice") > 300000 && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice"),
      Seq(
        "PushedFilters carries both predicates"
          -> (p => p.contains("IsNotNull(o_totalprice)") && p.contains("GreaterThan(o_totalprice,300000.0)")
            && p.contains("EqualTo(o_orderstatus,F)")),
        "scan reads only 3 columns (2 projected + 1 filter-only)"
          -> (_.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"))))

    // B7: both joins deliberately unhinted so AQE chooses (broadcast at
    // this sf, shuffle join at cluster scale — an explicit hint would be
    // honored past the 8 GB cap and OOM the driver; part clears the cap
    // only to ~sf300, far short of the 100 TB target)
    {
      val b7df = queries.Reference.b7ProductCounts(spark, sfDir)
      val b7Hints = hintCount(b7df)
      section("b7_product_counts — exact COUNT(DISTINCT), both joins AQE-chosen",
        b7df,
        Seq(
          "part dim broadcast by AQE at this sf (BroadcastHashJoin present)"
            -> (_.contains("BroadcastHashJoin")),
          "zero explicit broadcast hints (part AND orders scale with the corpus — AQE decides, shuffle-capable)"
            -> (_ => b7Hints == 0),
          "distinct aggregation planned as two-phase rewrite (Expand or stacked HashAggregates)"
            -> (p => p.contains("Expand") || "HashAggregate".r.findAllIn(p).size >= 4)))
    }

    // LATEST_BY_OFFSET: argmax as hash-agg + join-back, never window/sort
    section("b9_latest_by_offset — per-key offset argmax: HashAggregate pair + join-back",
      queries.Reference.b9LatestByOffset(spark, sfDir),
      Seq(
        "max(offset) per key is a HashAggregate pair (numeric buffer, partial map-side)"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2),
        "winner join chosen by AQE (broadcast at this size, shuffle-capable)"
          -> (p => p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
        "no Window operator (a row_number formulation would shuffle AND sort every delivery)"
          -> (p => !p.contains("Window")),
        "no SortAggregate (a max_by/max(struct) form would sort every delivery in-partition)"
          -> (p => !p.contains("SortAggregate"))))

    // top-K
    section("d_sort_topk — global top-K without a full sort",
      queries.Relational.sortTopK(spark, sfDir),
      Seq("TakeOrderedAndProject (per-partition top-K + driver merge, no total sort)"
        -> (_.contains("TakeOrderedAndProject"))))

    // partition pruning on the lake
    {
      val root = graft.Tmp.dir("graft_plan_lake_").toString
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"))
      lake.Lake.appendStream(ev, root, "events", eventTimeCol = Some("ts"))
      section("lake date-range read — partition pruning at planning time",
        lake.Lake.readStreamFeed(spark, root, "events",
          from = Some(java.time.LocalDate.of(2024, 1, 20))),
        Seq(
          "pruning is a PartitionFilter (not a row filter)"
            -> (_.contains("PartitionFilters")),
          "no post-scan Filter node remains"
            -> (p => !p.linesIterator.exists(l =>
              // match Filter operator nodes ("+- Filter", ":- Filter",
              // "(3) Filter", "*(1) Filter") but not PushedFilters etc.
              l.matches(""".*(\+- |:- |\) |\* )Filter[ (].*""")
                && !l.contains("Filters")))))
    }

    // decontamination: the inverted-index join must never plan as a
    // nested-loop pair scan (the O(train × bench) shape VERDICT r2 flagged)
    section("x_decontaminate — inverted-index equi-join over shingle postings",
      ext.Dedup.decontaminate(spark, sfDir),
      Seq(
        "no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan"
          -> (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
        "overlap count is a partial-aggregated HashAggregate pair"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2),
        // regression pin: a plain explode makes InferFiltersFromGenerate
        // push a size(shingles(text)) > 0 filter below the repartition,
        // where the shingle kernel runs serially on the scan side; the
        // kernel is a UDF now, so the inferred filter would print size(UDF
        "no generate-inferred shingle filter evaluated below the fan-out"
          -> (p => !p.contains("size(CASE WHEN") && !p.contains("size(UDF"))))

    // tf-idf: the vocabulary (term→df) join must carry NO static broadcast
    // hint — at corpus scale the vocabulary is GBs; AQE may still choose
    // broadcast at runtime when it fits, which is exactly the desired
    // behavior, so the check is on the optimized LOGICAL plan's hints
    {
      val tf = ext.TextAnalysis.tfidfTop(spark, sfDir)
      val hintFree = !tf.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("broadcast")
      sb.append("\n## x_text_tfidf — vocabulary join strategy left to AQE\n\n")
      sb.append(s"- ${if (hintFree) "✅" else "❌"} no static broadcast hint " +
        "on the term→df vocabulary join (runtime AQE decides)\n")
    }

    // minhash LSH: candidate generation must stay equi-keyed (band buckets),
    // never an all-pairs product
    section("x_dedup_minhash_lsh — banded candidates, no all-pairs stage",
      ext.Dedup.minhashLsh(spark, sfDir),
      Seq(
        "no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan"
          -> (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
        "persisted shingle+signature table reused (InMemoryTableScan)"
          -> (_.contains("InMemoryTableScan")),
        "no ScalaUDF on the pipeline (native shingle + signature expressions)"
          -> (p => !p.toLowerCase.contains("scalaudf"))))

    // bucketed join
    {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      section("p_bucketed_join — co-located join, no Exchange below the join",
        queries.Scale.bucketedJoin(spark, sfDir),
        Seq(
          "SortMergeJoin over bucketed scans" -> (_.contains("SortMergeJoin")),
          "bucketed scan selected (Bucketed: true)" -> (_.contains("Bucketed: true")),
          "no hash Exchange feeding the join" -> (p => {
            // in tree print, anything feeding the join appears AFTER the
            // join line; check the last (executed) occurrence's subtree
            val j = p.lastIndexOf("SortMergeJoin")
            j >= 0 && !p.substring(j).contains("Exchange hashpartitioning")
          })))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }

    // bloom pre-join pruning: the fact-side probe must be the native
    // BloomFilterMightContain expression inside codegen, not a Scala UDF
    // (a UDF probe de-codegens the whole pre-shuffle filter stage)
    section("p_bloom_join — native bloom probe stays inside codegen",
      queries.Scale.bloomJoin(spark, sfDir),
      Seq(
        "fact filter probes via native might_contain" -> (_.contains("might_contain")),
        "no Scala/Python UDF node anywhere in the plan"
          -> (p => !p.contains("UDF") && !p.contains("BatchEvalPython"))))

    // IVF assignment: fixed-K centroids, aggregate (not window) assignment
    section("x_ann_ivf — fixed-K codebook, max_by assignment (no N×K window)",
      ext.Similarity.annIvf(spark, sfDir),
      Seq(
        // the executed-plan tail prints Final AND Initial adaptive plans —
        // count nodes in the final one only
        "exactly ONE Window (the final per-cell top-k); assignment is an aggregate"
          -> (p => {
            val finalPlan = p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head
            "\\bWindow\\b".r.findAllIn(finalPlan).size == 1
          }),
        "assignment partial-aggregates the broadcasted N×K product before its only shuffle"
          -> (p => "(HashAggregate|SortAggregate|ObjectHashAggregate)".r.findAllIn(
            p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head).size >= 2),
        "centroid table broadcast (BroadcastExchange / BroadcastNestedLoopJoin scan shape)"
          -> (p => p.contains("BroadcastExchange"))))

    // Multi-probe IVF: the probe fan-out must not change the plan shape —
    // candidates still come from broadcast-joining the tiny probe table
    // against the assigned corpus, nprobe only scales the broadcast side
    section("x_ann_ivf_multiprobe — nprobe widens candidates, plan shape unchanged",
      ext.Similarity.annIvfMultiprobe(spark, sfDir),
      Seq(
        "probe/query table is the broadcast side of the candidate join"
          -> (p => p.contains("BroadcastExchange")),
        "exactly ONE Window over candidates (final top-k); probe ranking windows only the Q×K product"
          -> (p => {
            val finalPlan = p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head
            val n = "\\bWindow\\b".r.findAllIn(finalPlan).size
            n >= 1 && n <= 2
          }),
        "corpus side never cartesians against candidates (assignment BNLJ vs broadcast codebook is the only nested loop)"
          -> (p => !p.contains("CartesianProduct"))))

    // Composed IVF-PQ: every stage joins the corpus against a broadcast
    // O(1) table (centroids / residual codebook / Q·nprobe·M·K LUT); the
    // corpus shuffles only in the two narrow encode aggregates, never in
    // an all-pairs or cartesian shape
    section("x_ann_ivfpq — broadcast codebooks/LUT, corpus shuffles only in encode aggregates",
      ext.Similarity.annIvfPq(spark, sfDir),
      Seq(
        "codebooks and ADC LUT are broadcast (BroadcastExchange present)"
          -> (p => p.contains("BroadcastExchange")),
        "candidate scoring joins by hash on (cell, j, code) — no CartesianProduct"
          -> (p => !p.contains("CartesianProduct")),
        "exactly ONE Window in the final plan (ADC top-k); probe ranking + encode are aggregates"
          -> (p => {
            val finalPlan = p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head
            val n = "\\bWindow\\b".r.findAllIn(finalPlan).size
            n >= 1 && n <= 2
          }),
        "scoring runs the native dot kernel (no UDF)"
          -> (p => !p.contains("UDF") && !p.contains("BatchEvalPython"))))

    // Filtered ANN: the metadata predicate must PRE-filter — prune the
    // candidate side before any ADC arithmetic, not rank-then-discard.
    // Catalyst pushes the label filter through the encode aggregate
    // (label is a group key) and the joins, all the way into the
    // candidate-side parquet scan — a 10%-selective filter does 10% of
    // the ADC work, and at 100 TB the scan itself skips non-qualifying
    // row groups via the pushed predicate
    section("x_ann_filtered — metadata predicate reaches the candidate scan, below the ADC aggregate",
      ext.Similarity.annIvfPqFiltered(spark, sfDir),
      Seq(
        "label predicate is PUSHED into the candidate parquet scan (below the ADC aggregate by construction)"
          -> (p => p.contains("In(label, [2,5])")),
        "codebooks and ADC LUT are broadcast (BroadcastExchange present)"
          -> (p => p.contains("BroadcastExchange")),
        "no CartesianProduct anywhere (filter did not break the hash-join shape)"
          -> (p => !p.contains("CartesianProduct")),
        "exactly ONE Window in the final plan (top-k over qualifying candidates)"
          -> (p => {
            val finalPlan = p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head
            val n = "\\bWindow\\b".r.findAllIn(finalPlan).size
            n >= 1 && n <= 2
          })))

    // Suffix dedup: the suffix "array" is a distributed sort of capped
    // prefixes windowed per 2-char bucket — adjacency must come from
    // per-bucket windows (skew-bounded by the bucket alphabet), NEVER a
    // global single-partition window, and LCPs must stay expression-level
    section("x_suffix_dedup — bucketed suffix order, no single-partition window, expression LCPs",
      ext.SuffixDedup.suffixDedup(spark, sfDir),
      Seq(
        "no single-partition exchange anywhere (the global-window scale-killer)"
          -> (p => !p.contains("SinglePartition")),
        "suffix adjacency + interval merge are hash-partitioned Windows (bucket, then doc)"
          -> (p => {
            val finalPlan = p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head
            "\\bWindow\\b".r.findAllIn(finalPlan).size >= 2
          }),
        "LCP is a codegen'd expression tree (no UDF, no CartesianProduct)"
          -> (p => !p.contains("UDF") && !p.contains("BatchEvalPython") &&
            !p.contains("CartesianProduct"))))

    // CDC dedup: chunking is a pure per-row projection (single lambda-bound
    // expression); the only shuffles are the posting aggregate and the
    // per-doc re-aggregate, with the owner join REUSING the posting
    // exchange (same key) instead of re-shuffling the postings
    section("x_cdc_dedup — per-row chunking, posting exchange reused by the owner join",
      ext.Dedup.cdcDedup(spark, sfDir),
      Seq(
        "no Window, no CartesianProduct — chunk postings aggregate and join by hash"
          -> (p => !p.contains("CartesianProduct") &&
            !p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head.contains("Window")),
        "chunking stays expression-level (no UDF node)"
          -> (p => !p.contains("UDF") && !p.contains("BatchEvalPython")),
        "the post↔owner join reuses the posting shuffle (ReusedExchange or aligned partitioning)"
          -> (p => p.contains("ReusedExchange") ||
            "Exchange hashpartitioning".r.findAllIn(p).size <= 3)))

    // Hard negatives: the fixed 20-anchor batch is the broadcast side of
    // the one non-equi scoring join (growth-bounded by construction —
    // isQuery caps the batch regardless of corpus size); the corpus scans
    // once and both the positive and negative branches window the SAME
    // scored pass
    section("x_hard_negatives — fixed anchor batch broadcast, corpus scored once",
      ext.Similarity.hardNegatives(spark, sfDir),
      Seq(
        "anchor batch is the broadcast side (BroadcastNestedLoopJoin over BroadcastExchange)"
          -> (p => p.contains("BroadcastExchange") && p.contains("BroadcastNestedLoopJoin")),
        "scoring runs the native dot kernel (no UDF)"
          -> (p => p.contains("graft_dot") && !p.contains("UDF")),
        "top-k via Window per branch (positives + negatives = 2), never a global sort"
          -> (p => {
            val finalPlan = p.split("-- executed \\(final adaptive\\) plan --").last
              .split("== Initial Plan ==").head
            "\\bWindow\\b".r.findAllIn(finalPlan).size == 2 &&
              !finalPlan.contains("GlobalLimit")
          })))

    // Record linkage: every blocking channel must plan as an equi-join on
    // deletion keys (never cartesian), and scoring kernels must be the
    // native codegen'd expressions
    section("x_fuzzy_record_link — multi-field blocking stays equi-join, native kernels score",
      ext.FuzzyJoin.fuzzyRecordLink(spark, sfDir),
      Seq(
        "no cartesian/nested-loop anywhere (blocking is per-field equi-joins)"
          -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")),
        "verify/score run the native capped-distance kernel"
          -> (_.contains("graft_edit_distance_capped")),
        "Jaro-Winkler scoring is the native kernel (no UDF)"
          -> (p => p.contains("graft_jaro_winkler") && !p.contains("UDF"))))

    // Incremental IVF query: the maintained index must plan exactly like
    // the one-shot operator — probe table broadcast, candidates equi-join
    section("x_ann_ivf_incremental — maintained-index query keeps the broadcast candidate join",
      {
        val root = graft.Tmp.dir("graft_plans_iivf_").toString
        ext.IncrementalIvf.init(Tables.embeddings(spark, sfDir), root)
        ext.IncrementalIvf.query(spark, root, nprobe = 4, reuse = false)
      },
      Seq(
        "probe/query table is broadcast" -> (_.contains("BroadcastExchange")),
        "no cartesian against the stored corpus" -> (p => !p.contains("CartesianProduct"))))

    // AQE skew repair: the planted hot key must be detected and split at
    // runtime — the final adaptive plan reads the skewed shuffle partition
    // as multiple sub-partitions instead of one stalling reducer
    queries.Scale.withSkewConfs(spark) {
      section("p_skew_join — AQE splits the planted hot partition at runtime",
        queries.Scale.skewJoinLive(spark, sfDir),
        Seq(
          "final plan marks the join input skewed (AQEShuffleRead 'skewed' / skew=true)"
            -> (p => p.toLowerCase.contains("skew")),
          "sort-merge join (broadcast disabled for the demo, as at 100 TB fact×fact)"
            -> (_.contains("SortMergeJoin"))))
    }

    // DPP: the dim-side filter must become a RUNTIME partition filter on
    // the Hive-partitioned fact scan — static pruning is impossible (the
    // predicate is on a non-partition dim column), so the scan must carry
    // a dynamicpruningexpression fed by the dim broadcast
    section("p_dpp_join — dynamic partition pruning on the fact scan",
      queries.Scale.dppJoin(spark, sfDir),
      Seq(
        "fact scan carries dynamicpruningexpression in its PartitionFilters"
          -> (_.contains("dynamicpruning")),
        "dim side broadcast (DPP reuses the broadcast, no second dim scan subquery)"
          -> (p => p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))))

    // whole-operator extension: the per-key top-k must plan as the
    // partial/final custom pair — each input partition reduced to ≤ k rows
    // per key BEFORE the one hash exchange, and nothing globally sorted
    // (the built-in window formulation shuffles and sorts every input row)
    section("x_topk_per_key — partial heap reduction below the one exchange",
      queries.Scale.topKPerKey(spark, sfDir),
      Seq(
        "custom partial/final pair planned (TopKPerKeyPartial + TopKPerKeyFinal)"
          -> (p => p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal")),
        "partial reduction sits BELOW the hash exchange (shuffle carries ≤ k·keys rows)"
          -> (p => {
            val fin = p.indexOf("TopKPerKeyFinal")
            val ex = p.indexOf("Exchange hashpartitioning", fin)
            val part = p.indexOf("TopKPerKeyPartial", ex)
            fin >= 0 && ex > fin && part > ex
          }),
        "no Window and no Sort anywhere in the plan"
          -> (p => !p.contains("Window") && "\\bSort\\b".r.findFirstIn(p).isEmpty),
        "orders scan pruned to the 3 needed columns"
          -> (_.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"))))

    // Catalyst rewrite: the HOF-written query must execute with the native
    // expression substituted by the injected optimizer rule (this session
    // is built with spark.sql.extensions = graft.GraftExtensions)
    section("x_catalyst_dot — RewriteDotProduct swaps the interpreted HOF fold",
      ext.Similarity.catalystDot(spark, sfDir),
      Seq(
        "plan carries the native graft_dot expression" -> (_.contains("graft_dot")),
        "no interpreted aggregate(zip_with(...)) fold remains"
          -> (p => !p.contains("aggregate(zip_with"))))

    section("a14_dsv2_scan — DataSource V2 connector with pushdown",
      queries.Lifecycle.dsv2Scan(spark, sfDir),
      Seq(
        "V2 BatchScan node planned for the custom source"
          -> (_.contains("BatchScan")),
        "range filter pushed into the scan (file-skipping input to planInputPartitions)"
          -> (p => p.contains("graft-stats-csv") && p.contains("pushed=[")),
        "projection pruned to 3 of 4 columns before rows leave the reader"
          -> (p => p.contains("event_id") && !p.contains("event_type")),
        "vectorized: plan bridges the columnar batches via ColumnarToRow"
          -> (_.contains("ColumnarToRow"))))

    section("a15_dsv2_agg — aggregate pushdown answered from the stats sidecar",
      queries.Lifecycle.dsv2Agg(spark, sfDir),
      Seq(
        "scan is the pre-aggregated sidecar row (zero data files planned)"
          -> (_.contains("aggregated-from-stats")),
        "no CSV parsing anywhere: min/max/count never touch a part file"
          -> (p => !p.contains("pushed="))))

    section("x_kmeans — Lloyd training: broadcast codebook, aggregate assignment",
      ext.Similarity.kmeansTrain(spark, sfDir, reuse = false),
      Seq(
        "codebook joins are broadcast (the big side never shuffles to meet K rows)"
          -> (_.contains("BroadcastNestedLoopJoin")),
        "assignment is an aggregate, not a window over the N×K product"
          -> (p => !p.contains("Window")),
        "embeddings scan pruned to (vec_id, embedding)"
          -> (_.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))))

    section("x_semdedup — cluster-partitioned pruning, no global all-pairs",
      ext.Similarity.semDedup(spark, sfDir),
      Seq(
        "within-cluster pair stage is an equi-join on cell (no cartesian product)"
          -> (p => !p.contains("CartesianProduct")),
        "codebook side broadcast" -> (_.contains("BroadcastExchange"))))

    section("x_chunk_docs — chunking streams at scan speed",
      ext.TextAnalysis.chunkDocs(spark, sfDir),
      Seq(
        "zero exchanges: tokenize + window-explode is a pure per-row pipeline"
          -> (p => !p.contains("Exchange")),
        "window starts fan out via Generate (explode), not a join"
          -> (_.contains("Generate"))))

    section("x_pack_sequences — sharded packing, no single-partition sort",
      ext.TextAnalysis.packSequences(spark, sfDir),
      Seq(
        "cumulative sum windows over the SHARD hash partitioning"
          -> (_.contains("Exchange hashpartitioning(shard")),
        "no Exchange SinglePartition anywhere (packing never serializes globally)"
          -> (p => !p.contains("Exchange SinglePartition")),
        "documents scan pruned to (doc_id, text)"
          -> (_.contains("ReadSchema: struct<doc_id:bigint,text:string>"))))

    section("x_quality_model — model scoring is a scan",
      ext.TextAnalysis.qualityModel(spark, sfDir),
      Seq(
        "zero exchanges: fixed-weight margin is a per-row projection"
          -> (p => !p.contains("Exchange")),
        "whole-stage codegen covers the scoring pipeline"
          -> (_.contains("codegen id"))))

    section("x_graph_pagerank — iterative join: partial-agg'd contribution shuffle, " +
      "broadcast scalars, persisted frontier",
      queries.Analytics.graphPagerank(spark, sfDir, checkpoint = false),
      Seq(
        "contribution aggregation is a HashAggregate pair (map-side partials)"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2),
        "dangling-mass and N scalars join via broadcast (1-row sides, no shuffle)"
          -> (p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange")),
        "prior iterations come from the persisted frontier, not a replay"
          -> (p => p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage")),
        "lineitem scan pruned to the 2 edge columns"
          -> (_.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>"))))

    section("x_graph_triangles — degree-ordered wedges, broadcast closing probe",
      queries.Analytics.graphTriangles(spark, sfDir, checkpoint = false),
      Seq(
        "no Cartesian stage (wedges and probe are equi-joins)"
          -> (p => !p.contains("CartesianProduct")),
        "closing probe is a BroadcastHashJoin (the O(Σoutdeg²) wedge stream never shuffles)"
          -> (p => p.contains("BroadcastHashJoin")),
        "apex self-join is a hash join — no Sort over the wedge intermediate"
          -> (p => p.contains("ShuffledHashJoin")),
        "edge dedup + degree count partial-aggregate before their shuffles"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2)))

    // sketch agg partial-merges map-side (summary size independent of N);
    // the (groups × quantiles) estimate table re-attaches by broadcast so
    // the exact-rank verify never shuffles the scan
    section("x_quantile_rank_error — GK sketch agg + broadcast exact-rank verify",
      queries.Scale.quantileRankError(spark, sfDir),
      Seq(
        "verify pass joins the tiny estimate table via BroadcastHashJoin"
          -> (_.contains("BroadcastHashJoin")),
        "sketch aggregation itself partial-merges map-side (partial_percentile_approx present)"
          -> (_.contains("partial_percentile_approx")),
        "no Cartesian stage"
          -> (p => !p.contains("CartesianProduct"))))

    // the allocation table is source-cardinality: its remainder window may
    // single-partition (bounded rows), but the corpus-side pick window must
    // hash-partition by source and the quota table must broadcast back
    section("x_alloc_largest_remainder — bounded allocation table, broadcast quotas",
      ext.TextAnalysis.allocLargestRemainder(spark, sfDir),
      Seq(
        "quota table re-attaches to the corpus via broadcast join"
          -> (_.contains("BroadcastHashJoin")),
        "per-source pick window partitions by source (no corpus-wide single partition)"
          -> (_.contains("hashpartitioning(source")),
        "token-mass aggregation is partial/final (map-side combine)"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2)))

    section("x_ts_gapfill — generated calendar grid, per-user fill window",
      queries.Analytics.tsGapfill(spark, sfDir),
      Seq(
        "span is a broadcast 1-row side (grid generated per executor, not shuffled)"
          -> (p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange")),
        "forward-fill window partitions by user (no global sort)"
          -> (p => !p.contains("Exchange SinglePartition") || p.contains("hashpartitioning(user_id")),
        "events scan pruned to (ts, user_id, value)" // either ts encoding
          -> (p => p.contains("ReadSchema: struct<ts:bigint,user_id:bigint,value:double>") ||
            p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,value:double>"))))

    section("q_tpch_q3 — broadcast segment dim, heap-based top-10",
      queries.Tpch.q3(spark, sfDir),
      Seq(
        "segment-filtered customer joins via BroadcastHashJoin"
          -> (_.contains("BroadcastHashJoin")),
        "top-10 is TakeOrderedAndProject (no global sort of the aggregate)"
          -> (_.contains("TakeOrderedAndProject")),
        "revenue aggregation is a HashAggregate pair (map-side partials)"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2),
        "lineitem scan pruned to the 3 needed columns + shipdate filter pushed"
          -> (p => p.contains("l_orderkey") && p.contains("PushedFilters")
            && p.contains("GreaterThan(l_shipdate"))))

    section("q_tpch_q17 — correlated avg decorrelated to one grouped agg + broadcast",
      queries.Tpch.q17(spark, sfDir),
      Seq(
        "per-part threshold joins back via BroadcastHashJoin (no per-row subquery)"
          -> (_.contains("BroadcastHashJoin")),
        "brand part list is broadcast before the stats scan (semi-join first)"
          -> (p => "BroadcastExchange".r.findAllIn(p).size >= 2),
        "no cartesian/nested-loop anywhere"
          -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")),
        "final revenue agg is a HashAggregate pair"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2)))

    section("q_tpch_q18 — group-HAVING semi-join: aggregate shrinks before any join",
      queries.Tpch.q18(spark, sfDir),
      Seq(
        "big-order set is aggregated with map-side partials before the join"
          -> (p => "HashAggregate".r.findAllIn(p).size >= 2),
        "customer dim broadcast"
          -> (_.contains("BroadcastHashJoin")),
        "top-20 is TakeOrderedAndProject (no global sort)"
          -> (_.contains("TakeOrderedAndProject")),
        "orders scan pruned to the 4 needed columns"
          -> (p => p.contains("o_totalprice") && !p.contains("o_orderstatus"))))

    section("q_tpch_q19 — disjunctive OR predicate: per-side implied filters derived and pushed",
      queries.Tpch.q19(spark, sfDir),
      Seq(
        "quantity disjunction pushed to the lineitem parquet scan (Or in PushedFilters)"
          -> (p => p.contains("PushedFilters") && p.contains("Or(") && p.contains("l_quantity")),
        "residual disjunction evaluates AT the broadcast join (a BHJ condition references l_quantity)"
          -> (p => "(?m)BroadcastHashJoin.*l_quantity".r.findFirstIn(p).isDefined),
        "no cartesian/nested-loop fallback for the OR condition"
          -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")),
        "lineitem scan pruned to the 4 needed columns"
          -> (p => p.contains("l_quantity") && !p.contains("l_shipdate:"))))

    // q21 from literal SQL text, NOT the DataFrame API: the DataFrame
    // variant spells left_semi/left_anti itself, which would make the
    // join-kind checks true by construction — here Catalyst must
    // DECORRELATE real EXISTS / NOT EXISTS subqueries for them to hold
    {
      Tables.supplier(spark, sfDir).createOrReplaceTempView("plans_supplier")
      Tables.nation(spark, sfDir).createOrReplaceTempView("plans_nation")
      Tables.lineitem(spark, sfDir).createOrReplaceTempView("plans_lineitem")
      Tables.orders(spark, sfDir).createOrReplaceTempView("plans_orders")
      section("q_tpch_q21 — SQL EXISTS/NOT-EXISTS decorrelated to LEFT SEMI + LEFT ANTI",
        spark.sql(
          """SELECT s_name, COUNT(*) AS numwait
            |FROM plans_supplier
            |JOIN plans_nation ON n_nationkey = s_nationkey
            |JOIN plans_lineitem l1 ON l1.l_suppkey = s_suppkey
            |JOIN plans_orders ON o_orderkey = l1.l_orderkey
            |WHERE o_orderstatus = 'F'
            |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
            |  AND n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
            |  AND EXISTS (SELECT 1 FROM plans_lineitem l2
            |              WHERE l2.l_orderkey = l1.l_orderkey
            |                AND l2.l_suppkey <> l1.l_suppkey)
            |  AND NOT EXISTS (SELECT 1 FROM plans_lineitem l3
            |                  JOIN plans_orders o3 ON o3.o_orderkey = l3.l_orderkey
            |                  WHERE o3.o_orderstatus = 'F'
            |                    AND l3.l_orderkey = l1.l_orderkey
            |                    AND l3.l_suppkey <> l1.l_suppkey
            |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAYS)
            |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),
        Seq(
          "EXISTS subquery decorrelates to a LeftSemi join (no per-row re-execution)"
            -> (_.contains("LeftSemi")),
          "NOT EXISTS subquery decorrelates to a LeftAnti join"
            -> (_.contains("LeftAnti")),
          "supplier/nation dim is broadcast"
            -> (_.contains("BroadcastHashJoin")),
          "no cartesian/nested-loop fallback for the non-equal-supplier residual"
            -> (p => !p.contains("CartesianProduct"))))
    }

    // fuzzy join: deletion-neighborhood blocking must plan as an
    // EQUI-join on the short keys — at 100 TB the all-pairs fallback
    // (cartesian + levenshtein) is the difference between a shuffle and
    // never finishing
    section("x_fuzzy_join — edit-distance join via deletion-neighborhood blocking",
      ext.FuzzyJoin.fuzzyCustomerPairs(spark, sfDir),
      Seq(
        "candidate generation is an equi-join on neighborhood keys (no cartesian, no nested-loop)"
          -> (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")),
        "verify stage evaluates the banded capped-distance kernel on candidates only"
          -> (p => p.contains("graft_edit_distance_capped")),
        "customer scan pruned to the 2 needed columns"
          -> (p => p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"))))

    // TPC-H broadcast-hint policy: explicit broadcast() only on sides
    // bounded by the data model forever — nation (25), region (5), 1-row
    // scalar aggregates. A hint on a corpus-scaling side (customer /
    // supplier / part / per-part aggregate) is honored to the 8 GB cap
    // and then the query dies; AQE-chosen joins broadcast-while-fits and
    // degrade to shuffle. Pinned: the exact hint count per query AND that
    // every hinted subtree is growth-bounded (scans only nation/region,
    // or is a no-grouping scalar aggregate).
    {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      // counts are over the ANALYZED tree: a hinted subtree reused on
      // both sides of a self-join (q2's cand, q11's perPart) contributes
      // one ResolvedHint node per occurrence
      val expected = Map(
        "q_tpch_q1" -> 0, "q_tpch_q2" -> 4, "q_tpch_q3" -> 0,
        "q_tpch_q4" -> 0, "q_tpch_q5" -> 2, "q_tpch_q6" -> 0,
        "q_tpch_q7" -> 2, "q_tpch_q8" -> 3, "q_tpch_q9" -> 1,
        "q_tpch_q10" -> 1, "q_tpch_q11" -> 3, "q_tpch_q12" -> 0,
        "q_tpch_q13" -> 0, "q_tpch_q14" -> 0, "q_tpch_q15" -> 1,
        "q_tpch_q16" -> 0, "q_tpch_q17" -> 0, "q_tpch_q18" -> 0,
        "q_tpch_q19" -> 0, "q_tpch_q20" -> 1, "q_tpch_q21" -> 1,
        "q_tpch_q22" -> 1)
      // Strict on both arms (round 10; hoisted to Plans.hintGrowthBounded
      // in round 11 so PlansSpec can pin the negative cases — a
      // collectFirst/substring version passed any subtree containing a
      // scalar Aggregate ANYWHERE and any path merely containing
      // "nation"): the scalar Aggregate must be the hinted subtree's ROOT
      // modulo row-preserving wrappers, and dim scans must be the exact
      // nation/region parquet files by path basename.
      def growthBounded(p: LogicalPlan): Boolean = hintGrowthBounded(p)
      sb.append("\n## q_tpch hint policy — broadcast() pinned to growth-bounded sides only\n\n")
      sb.append("nation/region scans and 1-row scalar aggregates may carry an explicit ")
      sb.append("hint; every corpus-scaling side must be AQE-chosen (SCALE.md §Joins).\n\n")
      // robust to later rounds adding/renaming queries: an unmapped or
      // non-conforming name gets a ❌ line instead of crashing the whole
      // report (expected(name) would throw and lose every other section)
      val ordered = queries.Tpch.defs.keys.toSeq.sortBy(n =>
        (scala.util.Try(n.stripPrefix("q_tpch_q").toInt).getOrElse(Int.MaxValue), n))
      ordered.foreach { name =>
        val df = queries.Tpch.defs(name)(spark, sfDir)
        val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
        expected.get(name) match {
          case None =>
            sb.append(s"- ❌ $name: ${hints.size} explicit hint(s), NO PIN — add it to the hint-policy map\n")
          case Some(want) =>
            sb.append(s"- ${if (hints.size == want) "✅" else "❌"} $name: ${hints.size} explicit hint(s), pinned $want\n")
        }
        if (hints.nonEmpty) {
          val okBounded = hints.forall(h => growthBounded(h.child))
          sb.append(s"- ${if (okBounded) "✅" else "❌"} $name: every hinted side growth-bounded (nation/region scan or 1-row scalar agg)\n")
        }
      }
    }

    // materialized-view rewrite: the aggregate over the BASE table must
    // plan as a scan of the dimension-sized summary — at 100 TB, the
    // fact-scan-vs-summary-read difference IS the feature
    {
      val root = graft.Tmp.dir("graft_plan_mv_").toString
      warehouse.SummaryRewrite.create(spark, "plans_mv",
        Tables.path(sfDir, "lineitem"), s"$root/mv",
        keys = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("l_quantity" -> Some("decimal(18,2)")))
      try {
        section("p_mv_rewrite — aggregate re-pointed at the registered summary",
          spark.read.parquet(Tables.path(sfDir, "lineitem"))
            .groupBy(col("l_returnflag"))
            .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
              count(lit(1)).as("cnt")),
          Seq(
            "scan reads the summary directory, not lineitem"
              -> (p => p.contains("/mv") && !p.contains("lineitem.parquet")),
            "re-aggregation is a HashAggregate pair over the summary"
              -> (p => "HashAggregate".r.findAllIn(p).size >= 2)))
      } finally warehouse.SummaryRewrite.drop("plans_mv")
    }

    // runtime bloom-filter injection: the fact scan must carry the
    // dim-built bloom probe BELOW the shuffle
    {
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold")
      val prior = keys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val dim = Tables.supplier(spark, sfDir).filter(col("s_acctbal") > 9000)
        section("p_runtime_filter — dim-built bloom probe on the fact scan",
          Tables.lineitem(spark, sfDir)
            .join(dim, col("l_suppkey") === col("s_suppkey"))
            .groupBy(col("s_suppkey"))
            .agg(count(lit(1)).as("lines")),
          Seq(
            "might_contain probe present on the fact side"
              -> (_.contains("might_contain")),
            "fact rows are filtered BEFORE the join exchange (probe below SMJ/SHJ)"
              -> (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))))
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // column masking: the mask is a projection fused over the scan — no
    // extra exchange, no extra job, and pruning still reaches the footer
    {
      val root = graft.Tmp.dir("graft_plan_mask_").toString
      Tables.orders(spark, sfDir).limit(1000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.parquet(s"$root/pii")
      governance.ColumnMask.install(Seq(
        governance.ColumnMask.Policy(s"$root/pii", "o_orderpriority", governance.ColumnMask.Pseudonym),
        governance.ColumnMask.Policy(s"$root/pii", "o_totalprice", governance.ColumnMask.Redact)))
      try {
        section("c13_column_mask — mask fused into the scan projection",
          spark.read.parquet(s"$root/pii").filter(col("o_orderkey") > 10),
          Seq(
            "sha2 pseudonym computed in the scan-side projection"
              -> (_.contains("sha2")),
            "no exchange introduced by masking"
              -> (p => !p.contains("Exchange")),
            "key predicate still pushed to the parquet scan"
              -> (p => p.contains("GreaterThan(o_orderkey,10)"))))
      } finally governance.ColumnMask.clear()
    }

    // row-level security: the policy predicate must reach the parquet
    // reader exactly like a user-written filter — RLS at 100 TB costs what
    // the predicate costs, not a post-scan pass
    {
      val root = graft.Tmp.dir("graft_plan_rls_").toString
      Tables.customer(spark, sfDir)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .write.parquet(s"$root/rls")
      governance.RowFilter.install(Seq(
        governance.RowFilter.Policy(s"$root/rls", "c_nationkey IN (1, 2, 3)")))
      try {
        section("c18_row_filter — policy predicate pushed into the scan",
          spark.read.parquet(s"$root/rls").filter(col("c_acctbal") > 100),
          Seq(
            "policy predicate in PushedFilters (In on c_nationkey)"
              -> (p => p.contains("In(c_nationkey")),
            "user predicate still pushed alongside the policy"
              -> (p => p.contains("GreaterThan(c_acctbal,100")),
            "no exchange or extra job introduced by RLS"
              -> (p => !p.contains("Exchange"))))
      } finally governance.RowFilter.clear()
    }

    // round 11: file-granular mutation machinery. The COW probe must be a
    // filter-pushed, column-pruned scan emitting only file names; a MOR
    // read must be ONE anti-join with the sidecar side AQE-chosen; the
    // bloom probe must be map-only (no exchange, no full-index collect);
    // compaction must be shuffle-free.
    {
      val root = graft.Tmp.dir("graft_plan_cow_").toString
      lake.Lake.writeTableSnapshot(
        Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .filter(col("c_custkey") <= 2000)
          .repartitionByRange(8, col("c_custkey")),
        root, "plan_cow")
      val files = lake.Lake.snapshotFiles(spark, root, "plan_cow", 1)
      section("a26b copy-on-write probe — touched-file discovery is pushed-down and name-only",
        spark.read.parquet(files: _*)
          .filter(col("c_acctbal") < 0)
          .select(col("_metadata.file_path").as("f")).distinct(),
        Seq(
          "mutation predicate reaches the parquet scan (PushedFilters)"
            -> (_.contains("LessThan(c_acctbal,0")),
          "scan reads ONLY the predicate column (file_path is constant metadata, not IO)"
            -> (_.contains("ReadSchema: struct<c_acctbal:double>")),
          "distinct file set is a partial-aggregated HashAggregate pair (names, never rows, cross the shuffle)"
            -> (p => "HashAggregate".r.findAllIn(p).size >= 2)))

      lake.MergeOnRead.deleteWhere(spark, root, "plan_cow", col("c_acctbal") < 0)
      val mor = lake.Lake.readTableFeed(spark, root, "plan_cow")
      val morHints = hintCount(mor)
      section("a29 merge-on-read read — one AQE-chosen anti-join applies the sidecar",
        mor,
        Seq(
          "sidecar applied as a LeftAnti join" -> (_.contains("LeftAnti")),
          "anti-join broadcast by AQE at this sf (data side never shuffles for the sidecar)"
            -> (_.contains("BroadcastHashJoin")),
          "no explicit hint (the sidecar scales with deleted rows — AQE decides, shuffle-capable)"
            -> (_ => morHints == 0),
          "the anti-join is the ONLY join (sidecars are cumulative and one-hop, so reads never chain)"
            -> (p => !p.contains("Join Inner") && !p.contains("SortMergeJoin"))))

      section("compaction — resolved re-publish is shuffle-free (coalesce, not repartition)",
        lake.Lake.readTableFeed(spark, root, "plan_cow").coalesce(2),
        Seq(
          "Coalesce present, no shuffle introduced by the bin-pack (broadcast of the sidecar is the only exchange)"
            -> (p => p.contains("Coalesce") &&
              !p.contains("hashpartitioning") && !p.contains("rangepartitioning")
              && !p.contains("RoundRobinPartitioning"))))

      lake.BloomIndex.build(
        spark, s"$root/tables/plan_cow/version=v1", s"$root/bloom_idx",
        "c_custkey", expectedPerFile = 4096)
      section("p_bloom_point probe — executor-side deserialize, map-only, names-only result",
        lake.BloomIndex.candidateFilesDF(spark, s"$root/bloom_idx", Seq(42L, 99L)),
        Seq(
          "probe is exchange-free (each partition deserializes only its own blooms)"
            -> (p => !p.split("-- executed").head.contains("Exchange")),
          "probe is a MapPartitions over the index scan (bloom bytes consumed executor-side)"
            -> (_.contains("MapPartitions")),
          "only admitted file NAMES flow to the driver (single-column output)"
            -> (p => p.contains("file") && !p.contains("bloom:binary]"))))
    }

    // round 12: stats/bloom sidecar machinery. A filtered catalog scan
    // must shrink its FILE LIST at plan time (sidecar-admitted subset);
    // a filterless MIN/MAX/COUNT must plan as one precomputed local row;
    // an equality lookup on an unclustered bloomed column must exclude
    // files min/max stats cannot.
    {
      val root = graft.Tmp.dir("graft_plan_r12_").toString
      val cname = "gplan12"
      spark.conf.set(s"spark.sql.catalog.$cname",
        classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cname.root", root)
      spark.sql(s"CREATE TABLE $cname.tables.plan_st (k BIGINT, u BIGINT) " +
        "TBLPROPERTIES ('cluster_by'='k', 'bloom_filter_columns'='u')")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
        spark.range(0, 4000).select(col("id").as("k"),
          ((col("id") * 2654435761L) % 100000L).as("u"))
          .createOrReplaceTempView("plan_r12_src")
        spark.sql(s"INSERT INTO $cname.tables.plan_st SELECT * FROM plan_r12_src")
      } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

      val rangeScan = spark.sql(
        s"SELECT * FROM $cname.tables.plan_st WHERE k BETWEEN 100 AND 199")
      val (rk, rt) = lake.FilePruner.lastCounts(rangeScan.queryExecution.executedPlan)
      section("a35 stats-pruned catalog scan — the file list shrinks at PLAN time",
        rangeScan,
        Seq(
          s"sidecar admitted $rk of $rt files before the scan was built (footer opens scale with candidates, not the table)"
            -> (_ => rt >= 4 && rk * 2 <= rt),
          "the scan's file index holds only the admitted files"
            -> (_.contains(s"InMemoryFileIndex($rk paths)")),
          "pushed filters survive the rebuild (a false admit costs IO, never a row)"
            -> (p => p.contains("GreaterThanOrEqual(k,100")
              && p.contains("LessThanOrEqual(k,199"))))

      val agg = spark.sql(
        s"SELECT min(k) AS mn, max(u) AS mx, count(*) AS c FROM $cname.tables.plan_st")
      section("a35 metadata aggregate — MIN/MAX/COUNT answered from the sidecar, zero jobs over data",
        agg,
        Seq(
          "the scan IS one precomputed row (LocalTableScan)"
            -> (_.contains("LocalTableScan")),
          "no parquet scan anywhere in the plan"
            -> (p => !p.contains("parquet"))))

      spark.sql(s"UPDATE $cname.tables.plan_st SET u = 0 WHERE k = 7")
      // the catalog read serves this through the V1 bridge (the bridge's
      // scan node hides the inner plan) — audit the resolved diff itself
      val cdfBase = lake.Lake.latestVersion(spark, root, "plan_st").get - 1
      val cdfEnd = cdfBase + 1
      val cdf = org.apache.spark.sql.graft.GraftChangeFeed.changesBetween(
        spark, root, "plan_st", Seq("k"), start = cdfBase, end = cdfEnd)
      val cdfHints = hintCount(cdf)
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      val cdfFa = lake.Lake.snapshotFiles(spark, root, "plan_st", cdfBase)
        .map(norm).toSet
      val cdfFb = lake.Lake.snapshotFiles(spark, root, "plan_st", cdfEnd)
        .map(norm).toSet
      val cdfChanged = (cdfFa -- cdfFb) ++ (cdfFb -- cdfFa)
      val cdfScanned = cdf.inputFiles.map(norm).toSet
      val cdfJoins = cdf.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
      section("a37 batch change feed — MANIFEST-AWARE step diff: only changed files open",
        cdf,
        Seq(
          "the step diff is ONE full-outer compare on the key"
            -> (_.contains("FullOuter")),
          s"the step scans ONLY dropped+own files (${cdfScanned.size} of " +
            s"${cdfFb.size} snapshot files) — carried files never open"
            -> (_ => cdfScanned == cdfChanged &&
              (cdfScanned & (cdfFa & cdfFb)).isEmpty && (cdfFa & cdfFb).nonEmpty),
          "no snapshot-wide image join-back: images come from the step read itself (exactly one join)"
            -> (_ => cdfJoins == 1),
          "no explicit hint (the change set scales with mutations — AQE decides)"
            -> (_ => cdfHints == 0)))

      val mid = spark.sql(
        s"SELECT u FROM $cname.tables.plan_st WHERE k = 1234").head().getLong(0)
      val pointScan = spark.sql(
        s"SELECT * FROM $cname.tables.plan_st WHERE u = $mid")
      val (bk, bt) = lake.FilePruner.lastCounts(pointScan.queryExecution.executedPlan)
      section("a36 bloom-narrowed scan — point lookup on an UNCLUSTERED column",
        pointScan,
        Seq(
          s"blooms admitted $bk of $bt files (u spans every file's min/max — only the bloom can exclude)"
            -> (_ => bt >= 4 && bk < bt),
          "residual equality filter retained (bloom false positives never surface rows)"
            -> (_.contains(s"EqualTo(u,$mid"))))
    }

    // round 13: MULTI-DIMENSIONAL clustering — one zorder(k,u) layout must
    // prune range predicates on EACH dimension separately (lexicographic
    // clustering serves only the leading one).
    {
      val root = graft.Tmp.dir("graft_plan_r13_").toString
      val cname = "gplan13"
      spark.conf.set(s"spark.sql.catalog.$cname",
        classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cname.root", root)
      spark.sql(s"CREATE TABLE $cname.tables.plan_z (k BIGINT, u BIGINT) " +
        "TBLPROPERTIES ('cluster_by'='zorder(k,u)')")
      val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      try {
        spark.range(0, 16000).select(col("id").as("k"),
          ((col("id") * 2654435761L) % 100000L).as("u"))
          .createOrReplaceTempView("plan_r13_src")
        spark.sql(s"INSERT INTO $cname.tables.plan_z SELECT * FROM plan_r13_src")
      } finally {
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
        spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      }

      val zk = spark.sql(
        s"SELECT * FROM $cname.tables.plan_z WHERE k BETWEEN 4000 AND 4999")
      val (zka, zkt) = lake.FilePruner.lastCounts(zk.queryExecution.executedPlan)
      section("a39 zorder — a k-only range predicate prunes the interleaved layout",
        zk,
        Seq(
          s"a 1/16 k-range admitted $zka of $zkt files (z-tiling: ~sqrt scatter, not all)"
            -> (_ => zkt >= 16 && zka * 2 <= zkt),
          "the scan's file index holds only the admitted files"
            -> (_.contains(s"InMemoryFileIndex($zka paths)"))))

      val zu = spark.sql(
        s"SELECT * FROM $cname.tables.plan_z WHERE u BETWEEN 40000 AND 44999")
      val (zua, zut) = lake.FilePruner.lastCounts(zu.queryExecution.executedPlan)
      section("a39 zorder — a u-only range predicate prunes too (the dimension " +
        "lexicographic cluster_by cannot serve)",
        zu,
        Seq(
          s"a 1/20 u-range admitted $zua of $zut files"
            -> (_ => zut >= 16 && zua * 2 <= zut),
          "the scan's file index holds only the admitted files"
            -> (_.contains(s"InMemoryFileIndex($zua paths)"))))

      // a40: hash-bucketed snapshots diff EXCHANGE-FREE — the per-bucket
      // zipped sorted merge has no ShuffleDependency anywhere in its
      // lineage (the SQL plan of the RDD-backed frame hides the upstream
      // DAG, so the pin walks the dependency graph itself)
      spark.sql(s"CREATE TABLE $cname.tables.plan_bt (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('bucket_by'='k:8')")
      spark.range(0, 8000).select(col("id").as("k"), (col("id") % 97).as("v"))
        .createOrReplaceTempView("plan_bt_v1")
      spark.sql(s"INSERT INTO $cname.tables.plan_bt SELECT * FROM plan_bt_v1")
      spark.range(100, 8200).select(col("id").as("k"),
        when(col("id") % 1000 === 0, lit(-1L)).otherwise(col("id") % 97).as("v"))
        .createOrReplaceTempView("plan_bt_v2")
      spark.sql(s"INSERT OVERWRITE $cname.tables.plan_bt SELECT * FROM plan_bt_v2")
      val bdiff = lake.Lake.versionDiff(spark, root, "plan_bt", 2, 3, Seq("k"))
        .filter(col("change") =!= "unchanged")
      val bShuffleFree = !org.apache.spark.sql.graft.BucketedMerge
        .hasShuffle(bdiff.queryExecution.toRdd)
      val bCounts = bdiff.groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      section("a40 bucketed versionDiff — per-bucket zipped merge, ZERO exchanges",
        bdiff,
        Seq(
          "no ShuffleDependency anywhere in the diff's RDD lineage"
            -> (_ => bShuffleFree),
          s"classification is right ($bCounts)"
            -> (_ => bCounts == Map(
              "deleted" -> 100L, "inserted" -> 200L, "updated" -> 7L))))

      // the bucket LAYOUT is also a point-lookup index: an equality on the
      // bucket column admits one bucket's files — min/max stats cannot
      // help here (every hash-bucket file spans ~the whole key domain)
      val bpoint = spark.sql(
        s"SELECT * FROM $cname.tables.plan_bt WHERE k = 4321")
      val (bpa, bpTotal) = lake.FilePruner.lastCounts(bpoint.queryExecution.executedPlan)
      section("a40 bucket-pruned point scan — the layout IS the index",
        bpoint,
        Seq(
          s"k = 4321 admitted $bpa of $bpTotal files (its hash bucket only)"
            -> (_ => bpTotal >= 8 && bpa * 4 <= bpTotal),
          "the scan's file index holds only the bucket's files"
            -> (_.contains(s"InMemoryFileIndex($bpa paths)"))))
    }

    // round 14: STORAGE-PARTITIONED JOIN — the bucket layout is reported to
    // the planner (SupportsReportPartitioning/KeyGroupedPartitioning over
    // the verified _buckets.json), so a user SQL join of two co-bucketed
    // tables on the bucket key plans WITHOUT AN EXCHANGE ON EITHER SIDE —
    // the win the internal diff/merge paths had, extended to every keyed
    // join/aggregate a user writes.
    {
      val root = graft.Tmp.dir("graft_plan_r14_").toString
      val cname = "gplan14"
      spark.conf.set(s"spark.sql.catalog.$cname",
        classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cname.root", root)
      spark.sql(s"CREATE TABLE $cname.tables.spj_l (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('bucket_by'='k:8')")
      spark.sql(s"CREATE TABLE $cname.tables.spj_r (k BIGINT, w STRING) " +
        "TBLPROPERTIES ('bucket_by'='k:8')")
      spark.range(0, 20000).select(col("id").as("k"), (col("id") % 97).as("v"))
        .createOrReplaceTempView("plan_spj_l")
      spark.range(10000, 30000).select(col("id").as("k"),
        concat(lit("w"), col("id")).as("w")).createOrReplaceTempView("plan_spj_r")
      spark.sql(s"INSERT INTO $cname.tables.spj_l SELECT * FROM plan_spj_l")
      spark.sql(s"INSERT INTO $cname.tables.spj_r SELECT * FROM plan_spj_r")
      // exchange count through adaptive/stage boundaries: under AQE the
      // shuffles live inside leaf QueryStageExec nodes a naive collect
      // never reaches
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def exchangeCount(p: SparkPlan): Int = ((p match {
        case a: AdaptiveSparkPlanExec => exchangeCount(a.executedPlan)
        case st: QueryStageExec => exchangeCount(st.plan)
        case _: org.apache.spark.sql.execution.exchange.Exchange => 1
        case _ => 0
      }): Int) + p.children.map(exchangeCount).sum
      def exchangesOf(df: org.apache.spark.sql.DataFrame): Int =
        exchangeCount(df.queryExecution.executedPlan)
      // exchanges STRICTLY BELOW the (first) sort-merge join — the SPJ
      // claim proper: the join inputs must come straight off the scans
      def exchangesBelowJoin(df: org.apache.spark.sql.DataFrame): Option[Int] = {
        def findJoin(p: SparkPlan): Option[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => findJoin(a.executedPlan)
          case st: QueryStageExec => findJoin(st.plan)
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => Some(j)
          case _ => p.children.view.flatMap(findJoin).headOption
        }
        findJoin(df.queryExecution.executedPlan)
          .map(_.children.map(exchangeCount).sum)
      }
      val saved = Seq(
        "spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // AQE ON (the production default): the zero-exchange pin holds on
        // the FINAL adaptive plan, i.e. SPJ survives runtime re-planning
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        val spj = spark.sql(
          s"""SELECT l.k, max(l.v) AS v, max(r.w) AS w
             |FROM $cname.tables.spj_l l JOIN $cname.tables.spj_r r ON l.k = r.k
             |GROUP BY l.k""".stripMargin)
        val spjRows = spj.count()
        val spjExchanges = exchangesOf(spj)
        section("a42 storage-partitioned join — co-bucketed tables join AND " +
          "aggregate with ZERO exchanges, AQE ON",
          spj,
          Seq(
            s"no Exchange anywhere in the final adaptive plan ($spjExchanges " +
              "found) — join and group-by both ride the reported bucket layout"
              -> (_ => spjExchanges == 0),
            "it is a real sort-merge join, not a broadcast dodge"
              -> (_.contains("SortMergeJoin")),
            s"result is right ($spjRows overlapping keys)"
              -> (_ => spjRows == 10000)))

        // round 15: MISMATCHED BUCKET COUNTS — k:16 joins k:8 exchange-free
        // because the bucket function is Reducible (pmod(h,16)%8 ==
        // pmod(h,8)): the finer side's partition values reduce onto the
        // coarser layout under allowCompatibleTransforms, AQE still ON
        spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        spark.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
        spark.sql(s"CREATE TABLE $cname.tables.spj_m (k BIGINT, w STRING) " +
          "TBLPROPERTIES ('bucket_by'='k:16')")
        spark.sql(s"INSERT INTO $cname.tables.spj_m SELECT * FROM plan_spj_r")
        val mixed = spark.sql(
          s"""SELECT l.k, max(l.v) AS v, max(r.w) AS w
             |FROM $cname.tables.spj_l l JOIN $cname.tables.spj_m r ON l.k = r.k
             |GROUP BY l.k""".stripMargin)
        val mixedRows = mixed.count()
        val mixedExchanges = exchangesOf(mixed)
        section("a45 mismatched-bucket-count SPJ — k:16 reduces onto k:8, " +
          "zero exchanges, AQE ON",
          mixed,
          Seq(
            s"no Exchange in the final adaptive plan ($mixedExchanges found) — " +
              "bucket(16) partition values reduced mod 8, sides co-located"
              -> (_ => mixedExchanges == 0),
            "still a real sort-merge join"
              -> (_.contains("SortMergeJoin")),
            s"result is right ($mixedRows overlapping keys)"
              -> (_ => mixedRows == 10000)))

        // round 16: BUCKET-COUNT EVOLUTION — ALTER bucket_by k:8 → k:16 is
        // a property commit; a COW update then rewrites ONLY its buckets
        // at 16 while the rest carry at 8, and the mixed snapshot still
        // reports one layout at gcd(8,16) = 8 (pmod(h,16) % 8 ==
        // pmod(h,8)), so pre- and post-evolution snapshots join
        // exchange-free
        spark.sql(s"CREATE TABLE $cname.tables.spj_e (k BIGINT, w STRING) " +
          "TBLPROPERTIES ('bucket_by'='k:8')")
        spark.sql(s"INSERT INTO $cname.tables.spj_e SELECT * FROM plan_spj_r")
        val preEvo = graft.lake.Lake.latestVersion(spark, root, "spj_e").get
        spark.sql(s"ALTER TABLE $cname.tables.spj_e " +
          "SET TBLPROPERTIES ('bucket_by'='k:16')")
        spark.sql(s"UPDATE $cname.tables.spj_e SET w = 'evolved' " +
          "WHERE k IN (10001, 10002, 10003)")
        val postEvo = graft.lake.Lake.latestVersion(spark, root, "spj_e").get
        val evoDirs = graft.lake.Lake.snapshotFiles(spark, root, "spj_e", postEvo)
          .map(p => new org.apache.hadoop.fs.Path(p).getParent.getName)
          .distinct.size
        val evoLayout = graft.lake.BucketLayout.layoutOf(spark, root, "spj_e", postEvo)
        val evo = spark.sql(
          s"""SELECT a.k, count(*) AS n, max(b.w) AS w
             |FROM $cname.tables.spj_e VERSION AS OF $preEvo a
             |JOIN $cname.tables.spj_e b ON a.k = b.k
             |GROUP BY a.k""".stripMargin)
        val evoRows = evo.count()
        val evoExchanges = exchangesOf(evo)
        section("a47 bucket-count evolution — k:8 → k:16 metadata-only; " +
          "mixed snapshot reports gcd 8, pre⋈post exchange-free, AQE ON",
          evo,
          Seq(
            s"snapshot mixes pre- and post-evolution dirs ($evoDirs dirs)"
              -> (_ => evoDirs > 1),
            s"mixed layout reduces to one verified (k, 8) mapping " +
              s"(${evoLayout.map(l => (l._1, l._2))})"
              -> (_ => evoLayout.exists(_._2 == 8)),
            s"no Exchange in the final adaptive plan ($evoExchanges found)"
              -> (_ => evoExchanges == 0),
            "still a real sort-merge join"
              -> (_.contains("SortMergeJoin")),
            s"result is right ($evoRows keys)" -> (_ => evoRows == 20000)))

        // round 15: PARTIALLY-CLUSTERED DISTRIBUTION — SPJ's answer to
        // bucket-level skew: a hot bucket on the big side is processed in
        // MULTIPLE splits while the small side's matching group replicates
        // to each, so the JOIN stays exchange-free instead of one straggler
        // task owning the whole hot bucket. The documented trade: the
        // join's output is no longer key-GROUPED (a key's rows span
        // splits), so the aggregate above pays its one re-group exchange —
        // at 100 TB that shuffles |join output| grouped rows, not the two
        // raw snapshots
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
        try {
          spark.sql(s"CREATE TABLE $cname.tables.spj_skew (k BIGINT, v BIGINT) " +
            "TBLPROPERTIES ('bucket_by'='k:8')")
          // hot key 12345 carries ~4000x any other key's rows; all keys
          // land inside spj_r's 10000..29999 domain so the join matches
          spark.range(0, 50000).select(
            when(col("id") < 40000, lit(12345L)).otherwise(col("id") - 30000).as("k"),
            (col("id") % 97).as("v")).createOrReplaceTempView("plan_spj_skew")
          spark.sql(s"INSERT INTO $cname.tables.spj_skew SELECT * FROM plan_spj_skew")
          val skew = spark.sql(
            s"""SELECT s.k, count(*) AS n, max(r.w) AS w
               |FROM $cname.tables.spj_skew s JOIN $cname.tables.spj_r r ON s.k = r.k
               |GROUP BY s.k""".stripMargin)
          val skewRows = skew.count()
          val skewExchanges = exchangesOf(skew)
          val belowJoin = exchangesBelowJoin(skew)
          section("a45b partially-clustered SPJ — hot buckets split across " +
            "tasks, join exchange-free, AQE ON",
            skew,
            Seq(
              s"the JOIN'S inputs carry no Exchange (${belowJoin.orNull} " +
                "below the sort-merge join) — both sides read straight off " +
                "the reported bucket layout"
                -> (_ => belowJoin.contains(0)),
              s"exactly the aggregate's one re-group Exchange above it " +
                s"($skewExchanges total) — partial clustering trades " +
                "key-groupedness for skew balance"
                -> (_ => skewExchanges == 1),
              s"result is right ($skewRows matched keys: the 10000..19999 " +
                "domain incl. the hot key)"
                -> (_ => skewRows == 10000)))
        } finally spark.conf.unset(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }

    // round 14: IN-BUCKET SECONDARY CLUSTERING — bucket_by gives placement,
    // a zorder cluster_by gives the in-bucket ORDER, and file_max_records
    // splits each sorted bucket into z-contiguous files: range predicates
    // on the z dimensions prune FILES INSIDE BUCKETS while the verified
    // mapping keeps every exchange-free keyed path (files stay bucket-pure).
    {
      val root = graft.Tmp.dir("graft_plan_zb_").toString
      import graft.lake.{BucketLayout, Lake, StatsSidecar}
      import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
      Lake.setTableProperties(spark, root, "zb", Map(
        BucketLayout.Prop -> "k:4",
        Lake.ClusterByProp -> "zorder(a,b)",
        Lake.FileMaxRecordsProp -> "1000"))
      val zdf = spark.range(0, 16000).select(
        col("id").as("k"),
        (col("id") * 2654435761L % 1024).as("a"),
        (col("id") * 40503 % 1024).as("b"))
      Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "zb", zdf), root, "zb")
      val zfiles = Lake.snapshotFiles(spark, root, "zb", 1)
      val zlayout = BucketLayout.layoutOf(spark, root, "zb", 1)
      val zschema = Lake.readTableFeed(spark, root, "zb", Some(1)).schema
      def zadmitted(c: String): Int = StatsSidecar.candidateFiles(
        spark, zfiles, zschema,
        Seq(GreaterThanOrEqual(c, 0L), LessThanOrEqual(c, 127L))).files.size
      val (admA, admB) = (zadmitted("a"), zadmitted("b"))
      val onKey = BucketLayout.filterCandidates(spark, zfiles, zschema,
        Seq(EqualTo("k", 7L))).size
      section("a43 in-bucket z-order — bucket placement + z-sorted file " +
        "splits prune secondary dimensions inside buckets",
        Lake.readTableFeed(spark, root, "zb", Some(1)).filter(col("a") <= 127),
        Seq(
          s"${zfiles.length} files across 4 buckets, every one bucket-pure " +
            s"(mapping committed: ${zlayout.isDefined})"
            -> (_ => zfiles.length >= 12 && zlayout.isDefined),
          s"a 1/8 range on z-dim a admits $admA of ${zfiles.length} files"
            -> (_ => admA * 4 <= zfiles.length * 3),
          s"a 1/8 range on z-dim b admits $admB of ${zfiles.length} files"
            -> (_ => admB * 4 <= zfiles.length * 3),
          s"bucket-key equality admits $onKey of ${zfiles.length} (one bucket)"
            -> (_ => onKey * 2 <= zfiles.length)))
    }

    val text = sb.toString
    Files.writeString(Paths.get(out), text)
    val bad = text.linesIterator.count(_.startsWith("- ❌"))
    println(s"PLANS: ${text.linesIterator.count(_.startsWith("- ✅"))} checks ok, $bad failed -> $out")
    spark.stop()
    // outputs are written; reclaim every scratch dir this session created
    Tmp.purge()
    if (bad > 0) sys.exit(1)
  }
}
