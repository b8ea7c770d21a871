package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkSessionExtensions registration: the native expressions must be
  * callable from plain SQL in a session built with the extension.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("graft_dot and graft_hyperplane_sig are SQL-callable via extensions") {
    SparkSpec.withSession("local[2]", "2", "graft-ext-test") { spark =>
      val dot = spark.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect().head.getDouble(0)
      assert(dot === 11.0)
      val sig = spark.sql(
        "SELECT graft_hyperplane_sig(array_repeat(1.0D, 64)) AS s")
        .collect().head.getLong(0)
      // 8 demo planes → signature fits in the low 8 bits; deterministic
      assert(sig >= 0 && sig < 256)
      val sig2 = spark.sql(
        "SELECT graft_hyperplane_sig(array_repeat(1.0D, 64)) AS s")
        .collect().head.getLong(0)
      assert(sig === sig2)
    }
  }

  test("graft_product_mod: null-skipping modular product, codegen'd partial/final") {
    SparkSpec.withSession("local[4]", "4", "graft-prodmod-test") { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val P = 2147483647L
      // 8 input partitions force real partial/final merges; includes a
      // negative id (folded into [0,P)), NULLs, and an all-NULL group
      val df = Seq[(String, java.lang.Long)](
        ("a", 3L), ("a", 5L), ("a", null), ("a", 7L),
        ("b", -4L), ("b", 11L),
        ("c", null))
        .toDF("g", "id").repartition(8)
      val out = df.groupBy("g").agg(expr("graft_product_mod(id)").as("fp"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(out("a") === Some(105L))
      assert(out("b") === Some((Math.floorMod(-4L, P) * 11L) % P))
      assert(out("c") === None) // all-NULL group → NULL, not 1
      // stays in whole-stage codegen as a HashAggregate pair — the whole
      // point of the Declarative (vs Imperative/UDAF) shape
      val q = df.groupBy("g").agg(expr("graft_product_mod(id)"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"), plan)
      // SQL surface, global aggregate over an empty relation → NULL
      val empty = spark.sql("SELECT graft_product_mod(id) FROM (SELECT CAST(1 AS BIGINT) AS id) WHERE false")
      assert(empty.collect().head.isNullAt(0))
      // randomized (fixed seed): equals the naive modular product, and is
      // invariant across partition layouts — the map-side partials merging
      // in a different grouping must not change a single bit
      val rnd = new scala.util.Random(42)
      val data = Seq.fill(500)(rnd.nextLong().abs % (1L << 40))
      val expected = data.map(Math.floorMod(_, P)).foldLeft(1L)((a, b) => (a * b) % P)
      val fps = Seq(1, 7, 64).map { parts =>
        data.toDF("id").repartition(parts)
          .agg(expr("graft_product_mod(id)")).collect().head.getLong(0)
      }
      assert(fps.forall(_ === expected), s"$fps vs $expected")
    }
  }

  test("ReadGuard check rule: denies unauthorized paths at analysis, v1 and v2") {
    import graft.governance.{Permissions, ReadGuard}
    SparkSpec.withSession("local[2]", "2", "graft-guard-test") { spark =>
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files.createTempDirectory("graft_guard_ext_").toString
      spark.range(5).toDF("k").write.parquet(s"$root/open")
      spark.range(5).toDF("k").write.parquet(s"$root/locked")
      // a stats-csv dir too: the guard must see v2 relations' path option
      graft.sources.StatsCsvFormat.write(
        spark.range(5).select(col("id").as("k")), s"$root/v2locked", "k", 2)
      val at = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      val perms = Permissions.grant(Permissions.empty(spark),
        "alice@corp", s"$root/open", "read", "root@corp", at)
      ReadGuard.install(perms, "alice@corp", java.sql.Date.valueOf("2024-06-01"))
      try {
        assert(spark.read.parquet(s"$root/open").count() === 5)
        intercept[SecurityException] { spark.read.parquet(s"$root/locked").count() }
        intercept[SecurityException] {
          spark.read.format("graft-stats-csv").load(s"$root/v2locked").count()
        }
        // relation-free plans pass untouched while the guard is active
        assert(spark.range(3).count() === 3)
      } finally ReadGuard.clear()
      // cleared: the same read succeeds again
      assert(spark.read.parquet(s"$root/locked").count() === 5)
    }
  }

  test("ReadGuard: the merge-on-read V1Scan fallback cannot bypass a table deny") {
    import graft.governance.{Permissions, ReadGuard}
    SparkSpec.withSession("local[2]", "2", "graft-mor-guard-test") { spark =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files.createTempDirectory("graft_mguard_").toString
      graft.lake.Lake.writeTableSnapshot(
        (1 to 20).map(i => (i, s"s$i")).toDF("k", "x"), root, "mor_sec")
      // a sidecar version: catalog reads now route through the V1Scan
      // fallback, whose inner plan must STILL pass the guard
      graft.lake.MergeOnRead.deleteWhere(spark, root, "mor_sec", col("k") <= 5)
      val mg = org.apache.spark.sql.graft.GraftCatalog.register(spark, root)
      val at = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      val noGrant = Permissions.grant(Permissions.empty(spark),
        "eve@corp", s"$root/elsewhere", "read", "root@corp", at)
      ReadGuard.install(noGrant, "eve@corp", java.sql.Date.valueOf("2024-06-01"))
      try {
        intercept[SecurityException] {
          spark.sql(s"SELECT * FROM $mg.tables.mor_sec").count()
        }
      } finally ReadGuard.clear()
      val withGrant = Permissions.grant(noGrant,
        "eve@corp", s"$root/tables/mor_sec", "read", "root@corp", at)
      ReadGuard.install(withGrant, "eve@corp", java.sql.Date.valueOf("2024-06-01"))
      try {
        assert(spark.sql(s"SELECT * FROM $mg.tables.mor_sec").count() === 15)
      } finally ReadGuard.clear()
    }
  }

  test("ReadGuard: a deny on the source cannot be laundered through a shallow clone") {
    import graft.governance.{Permissions, ReadGuard}
    SparkSpec.withSession("local[2]", "2", "graft-clone-guard-test") { spark =>
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_cguard_").toString
      graft.lake.Lake.writeTableSnapshot(
        Seq((1, "s")).toDF("k", "x"), root, "secret")
      graft.lake.Lake.cloneTable(spark, root, "secret", "branch")
      val cg = org.apache.spark.sql.graft.GraftCatalog.register(spark, root)
      val at = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      // grant covers only the CLONE's directory — not the source it points at
      val branchOnly = Permissions.grant(Permissions.empty(spark),
        "eve@corp", s"$root/tables/branch", "read", "root@corp", at)
      ReadGuard.install(branchOnly, "eve@corp", java.sql.Date.valueOf("2024-06-01"))
      try {
        // the branch read scans the SOURCE's physical snapshot; governedPath
        // resolves the pointer, so the branch-scoped grant must NOT suffice
        intercept[SecurityException] {
          spark.sql(s"SELECT * FROM $cg.tables.branch").count()
        }
      } finally ReadGuard.clear()
      // with the physical table covered, the same read is fine
      val withSource = Permissions.grant(branchOnly,
        "eve@corp", s"$root/tables/secret", "read", "root@corp", at)
      ReadGuard.install(withSource, "eve@corp", java.sql.Date.valueOf("2024-06-01"))
      try {
        assert(spark.sql(s"SELECT * FROM $cg.tables.branch").count() === 1)
      } finally ReadGuard.clear()
    }
  }

  test("RewriteDotProduct rewrites the HOF fold to graft_dot, preserving results") {
    SparkSpec.withSession("local[2]", "2", "graft-rule-test") { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // a LocalRelation input would be constant-folded by
      // ConvertToLocalRelation before the injected rule ever sees it (user
      // rules run after the main batches) — go through parquet, the shape
      // every real query has
      val pq = java.nio.file.Files.createTempDirectory("rule_spec_").toString
      Seq(
        (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
        (2L, Seq(0.5, -1.5, 2.5), Seq(2.0, 0.0, -4.0)),
        (3L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch → NULL
        (4L, Seq(1.0, 2.0, 3.0), null)) // null input → NULL
        .toDF("id", "a", "b").write.parquet(s"$pq/t")
      val df = spark.read.parquet(s"$pq/t")
      val hof = df.select(col("id"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("d"))
      // the rule fired: the optimized plan carries the native expression
      // and no ArrayAggregate remains
      val optimized = hof.queryExecution.optimizedPlan.toString
      assert(optimized.contains("graft_dot"), optimized)
      assert(!optimized.toLowerCase.contains("aggregate(zip_with"), optimized)
      // and results are exactly the hand-computed fold, nulls included
      val out = hof.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(out(1L) === Some(1.0 * 4 + 2 * 5 + 3 * 6))
      assert(out(2L) === Some(0.5 * 2 + (-1.5) * 0 + 2.5 * (-4)))
      assert(out(3L) === None)
      assert(out(4L) === None)
      // a NON-matching fold (different zero) is left untouched
      val other = df.filter(col("id") === 1).select(
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(1.0), (acc, v) => acc + v).as("d"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_dot"))
      assert(other.collect().head.getDouble(0) === 33.0)
      // -0.0 seed is observable (sign of an all-negative-zero sum; empty
      // arrays return the seed) — bit-exact guard must NOT rewrite it
      val negZero = df.filter(col("id") === 1).select(
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(-0.0), (acc, v) => acc + v).as("d"))
      assert(!negZero.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    }
  }

  test("SummaryRewrite: answer-preserving rewrites fire, everything else declines") {
    import graft.warehouse.SummaryRewrite
    SparkSpec.withSession("local[2]", "2", "graft-mv-test") { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_mv_spec_").toString
      val base = s"$root/fact"
      (0 until 1000).map { i =>
        (s"k${i % 4}", s"s${i % 3}", i.toDouble / 7, i.toLong, if (i % 10 == 0) null else s"v$i")
      }.toDF("k1", "k2", "amount", "qty", "tag").write.parquet(base)
      def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
        SummaryRewrite.scannedPaths(df.queryExecution.optimizedPlan)
      def truth(df: => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
        // compute the same query with no view registered — the unrewritten plan
        SummaryRewrite.clear()
        df.collect().toSeq
      }
      try {
        SummaryRewrite.create(spark, "mv", base, s"$root/mv",
          keys = Seq("k1", "k2"),
          sums = Seq("amount" -> Some("decimal(18,2)"), "qty" -> None),
          mins = Seq("amount"), maxs = Seq("qty"))
        def q1 = spark.read.parquet(base)
          .filter(col("k1") =!= "k3")
          .groupBy(col("k1"))
          .agg(
            sum(col("amount").cast("decimal(18,2)")).cast("double").as("s"),
            sum(col("qty")).as("sq"),
            min(col("amount")).as("mn"),
            max(col("qty")).as("mx"),
            count(lit(1)).as("n"))
        assert(scans(q1).forall(_.endsWith("/mv")), scans(q1))
        val got = q1.collect().toSeq
        val want = truth(q1)
        assert(got.toSet === want.toSet, s"$got vs $want")
        // re-register for the remaining cases (truth() clears)
        SummaryRewrite.create(spark, "mv", base, s"$root/mv",
          keys = Seq("k1", "k2"),
          sums = Seq("amount" -> Some("decimal(18,2)"), "qty" -> None),
          mins = Seq("amount"), maxs = Seq("qty"))
        // operators ABOVE the aggregate re-bind on preserved exprIds
        // (a def, not a val: the truth recompute below must re-analyze
        // from scratch, not reuse the cached rewritten QueryExecution)
        def q2 = spark.read.parquet(base).groupBy(col("k1"), col("k2"))
          .agg(sum(col("qty")).as("sq"), count(lit(1)).as("n"))
          .select(col("k1"), (col("sq") + col("n")).as("t"))
          .orderBy(col("k1"), col("t"))
        assert(scans(q2).forall(_.endsWith("/mv")), scans(q2))
        val got2 = q2.collect().toSeq
        SummaryRewrite.create(spark, "mv", base, s"$root/mv",
          keys = Seq("k1", "k2"),
          sums = Seq("amount" -> Some("decimal(18,2)"), "qty" -> None),
          mins = Seq("amount"), maxs = Seq("qty"))
        // decline cases: each must keep scanning the base table
        val declined = Seq(
          // filter on a non-key column
          spark.read.parquet(base).filter(col("tag").isNotNull)
            .groupBy(col("k1")).agg(sum(col("qty")).as("sq")),
          // DISTINCT aggregate
          spark.read.parquet(base).groupBy(col("k1"))
            .agg(countDistinct(col("k2")).as("dc")),
          // COUNT(col) — null-sensitive, view only stores COUNT(*)
          spark.read.parquet(base).groupBy(col("k1"))
            .agg(count(col("tag")).as("ct")),
          // sum of an unregistered column expression
          spark.read.parquet(base).groupBy(col("k1"))
            .agg(sum(col("amount") * 2).as("s2")),
          // grouping by a non-key column
          spark.read.parquet(base).groupBy(col("tag"))
            .agg(sum(col("qty")).as("sq")),
          // sum cast mismatch (decimal(12,2) vs registered decimal(18,2))
          spark.read.parquet(base).groupBy(col("k1"))
            .agg(sum(col("amount").cast("decimal(12,2)")).as("s3")))
        declined.foreach { d =>
          assert(scans(d).exists(_.endsWith("/fact")), d.queryExecution.optimizedPlan)
        }
        SummaryRewrite.clear()
        val want2 = q2.collect().toSeq
        assert(got2 === want2)
        // parser extension: SHOW GRAFT VIEWS lists the catalog (empty now),
        // and ordinary SQL still parses through the delegating parser
        assert(spark.sql("SHOW GRAFT VIEWS").collect().isEmpty)
        assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) === 2)
        intercept[Exception] { spark.sql("SHOW GRAFT NONSENSE") }
        // candidate iteration: a later-registered view with disjoint keys
        // (head of the registry) must not mask an earlier one that matches
        SummaryRewrite.create(spark, "mv", base, s"$root/mv",
          keys = Seq("k1", "k2"), sums = Seq("qty" -> None))
        SummaryRewrite.create(spark, "mv_tag", base, s"$root/mv_t",
          keys = Seq("tag"), sums = Seq("qty" -> None))
        val q3 = spark.read.parquet(base).groupBy(col("k1")).agg(sum(col("qty")).as("sq"))
        assert(scans(q3).forall(_.endsWith("/mv")), scans(q3))
        // masking wins over the rewrite: while a policy covers the base,
        // the (unmasked) summary must not serve it — base stays scanned
        graft.governance.ColumnMask.install(Seq(
          graft.governance.ColumnMask.Policy(base, "amount", graft.governance.ColumnMask.Redact)))
        try {
          val qm = spark.read.parquet(base).groupBy(col("k1")).agg(sum(col("qty")).as("sq"))
          assert(scans(qm).exists(_.endsWith("/fact")), scans(qm))
        } finally graft.governance.ColumnMask.clear()
        SummaryRewrite.clear()
        // GLOBAL aggregate (no grouping) over an EMPTY base: COUNT(*) must
        // stay 0 through the rewrite (sum-of-counts over an empty summary
        // is NULL without the coalesce)
        spark.read.parquet(base).filter(col("k1") === "nope")
          .write.parquet(s"$root/empty")
        SummaryRewrite.create(spark, "mv_empty", s"$root/empty", s"$root/mv_e",
          keys = Seq("k1"), sums = Seq("qty" -> None))
        val g = spark.read.parquet(s"$root/empty")
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("sq"))
        assert(scans(g).forall(_.endsWith("/mv_e")), scans(g))
        val gr = g.collect().head
        assert(gr.getLong(0) === 0L)
        assert(gr.isNullAt(1))
      } finally SummaryRewrite.clear()
    }
  }

  test("graft_ngrams generator: positional fan-out, null/short inputs generate nothing") {
    SparkSpec.withSession("local[2]", "2", "graft-ngrams-test") { spark =>
      import spark.implicits._
      Seq((1, "a b c d"), (2, "x y"), (3, null)).toDF("id", "t")
        .createOrReplaceTempView("ng_t")
      val out = spark.sql(
        "SELECT id, pos, ngram FROM ng_t LATERAL VIEW graft_ngrams(t, 3) g AS pos, ngram")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
      // doc 1: two trigrams with positions; docs 2 (too short) and 3 (null): none
      assert(out === Set((1, 0, "a b c"), (1, 1, "b c d")))
      // duplicates are KEPT (unlike the distinct shingle set)
      val dup = spark.sql(
        "SELECT pos, ngram FROM (SELECT 'a a a a' AS t) LATERAL VIEW graft_ngrams(t, 2) g AS pos, ngram")
        .collect().map(r => (r.getInt(0), r.getString(1)))
      assert(dup.toSeq.sorted === Seq((0, "a a"), (1, "a a"), (2, "a a")))
    }
  }

  test("ColumnMask: pseudonym/redact apply in place, filters cannot leak raw values") {
    import graft.governance.ColumnMask
    import ColumnMask.{Policy, Pseudonym, Redact}
    SparkSpec.withSession("local[2]", "2", "graft-mask-test") { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_mask_spec_").toString
      Seq(("u1", 10.0, "fr"), ("u2", 20.0, "de"), ("u1", 30.0, "fr"))
        .toDF("user", "amount", "country").write.parquet(s"$root/t")
      ColumnMask.install(Seq(
        Policy(s"$root/t", "user", Pseudonym),
        Policy(s"$root/t", "amount", Redact)))
      try {
        val df = spark.read.parquet(s"$root/t")
        // pseudonym is sha2-256 of the raw value; redact is NULL
        val rows = df.collect().map(r => (r.getString(0), r.isNullAt(1), r.getString(2)))
        val shaU1 = org.apache.commons.codec.digest.DigestUtils.sha256Hex("u1")
        assert(rows.forall(_._2), "amount must be redacted to NULL")
        assert(rows.count(_._1 == shaU1) === 2, rows.toSeq)
        assert(!rows.exists(_._1 == "u1"), "raw value must never surface")
        // a filter on the RAW value of a masked column matches nothing —
        // pushdown substitutes the mask expression, it never sees raw data
        assert(df.filter(col("user") === "u1").count() === 0)
        assert(df.filter(col("amount") > 0).count() === 0)
        // ...while filtering on the masked value works (join-stable pseudonym)
        assert(df.filter(col("user") === shaU1).count() === 2)
        // GROUP BY on the pseudonym aggregates the same groups as raw data
        val grouped = df.groupBy(col("user")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(grouped(shaU1) === 2)
        // unprotected columns and other tables pass through untouched
        assert(df.select(col("country")).distinct().count() === 2)
        spark.range(3).toDF("id").write.parquet(s"$root/open")
        assert(spark.read.parquet(s"$root/open").agg(sum(col("id"))).head.getLong(0) === 3)
        // fail-closed: a protected path read through a NON-maskable (v2)
        // relation is refused, never served raw
        graft.sources.StatsCsvFormat.write(
          spark.range(5).select(col("id").as("k")), s"$root/t_v2", "k", 2)
        ColumnMask.install(Seq(Policy(s"$root/t_v2", "k", Redact)))
        intercept[SecurityException] {
          spark.read.format("graft-stats-csv").load(s"$root/t_v2").collect()
        }
        // unprotected v2 reads pass through
        ColumnMask.install(Seq(Policy(s"$root/t", "user", Pseudonym)))
        assert(spark.read.format("graft-stats-csv").load(s"$root/t_v2").count() === 5)
      } finally ColumnMask.clear()
      // cleared: raw values visible again
      val raw = spark.read.parquet(s"$root/t")
      assert(raw.filter(col("user") === "u1").count() === 2)
    }
  }

  test("RowFilter: policy predicates apply at the scan, fail closed, compose beneath the mask") {
    import graft.governance.{ColumnMask, RowFilter}
    import RowFilter.Policy
    SparkSpec.withSession("local[2]", "2", "graft-rls-test") { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_rls_spec_").toString
      Seq(("u1", 10.0, "fr"), ("u2", 20.0, "de"), ("u1", 30.0, "fr"), ("u3", -5.0, "fr"))
        .toDF("user", "amount", "country").write.parquet(s"$root/t")

      // one policy filters; two covering policies AND; int literal over a
      // double column exercises the analyzer coercion on the policy text
      RowFilter.install(Seq(Policy(s"$root/t", "country = 'fr'")))
      try {
        assert(spark.read.parquet(s"$root/t").count() === 3)
        RowFilter.install(Seq(
          Policy(s"$root/t", "country = 'fr'"),
          Policy(s"$root/t", "amount > 5")))
        val rows = spark.read.parquet(s"$root/t").collect()
        assert(rows.length === 2 && rows.forall(_.getString(2) == "fr"))
        // aggregates see only policy rows
        assert(spark.read.parquet(s"$root/t")
          .agg(sum(col("amount"))).head.getDouble(0) === 40.0)
        // other tables pass through untouched
        spark.range(4).toDF("id").write.parquet(s"$root/open")
        assert(spark.read.parquet(s"$root/open").count() === 4)

        // fail-closed: bad column, non-boolean, unparsable — all refuse
        for (bad <- Seq("no_such_col = 1", "amount + 1", "SELECT FROM (")) {
          RowFilter.install(Seq(Policy(s"$root/t", bad)))
          intercept[SecurityException] { spark.read.parquet(s"$root/t").collect() }
        }

        // fail-closed: covered path through a non-filterable (v2) relation
        graft.sources.StatsCsvFormat.write(
          spark.range(5).select(col("id").as("k")), s"$root/t_v2", "k", 2)
        RowFilter.install(Seq(Policy(s"$root/t_v2", "k > 2")))
        intercept[SecurityException] {
          spark.read.format("graft-stats-csv").load(s"$root/t_v2").collect()
        }
        // uncovered v2 reads pass through
        RowFilter.install(Seq(Policy(s"$root/t", "country = 'fr'")))
        assert(spark.read.format("graft-stats-csv").load(s"$root/t_v2").count() === 5)

        // composition: the RLS filter evaluates on RAW values beneath the
        // mask projection — the admin's tenant predicate still selects the
        // right rows while the analyst sees only pseudonyms
        RowFilter.install(Seq(Policy(s"$root/t", "user = 'u1'")))
        ColumnMask.install(Seq(
          ColumnMask.Policy(s"$root/t", "user", ColumnMask.Pseudonym)))
        try {
          val masked = spark.read.parquet(s"$root/t").collect()
          val shaU1 = org.apache.commons.codec.digest.DigestUtils.sha256Hex("u1")
          assert(masked.length === 2, "raw-value policy must still filter")
          assert(masked.forall(_.getString(0) == shaU1), "output must stay masked")
        } finally ColumnMask.clear()

        // a row-filtered base must never be answered from its summary
        assert(RowFilter.protects(s"$root/t"))

        // fail-closed: a PRE-POLICY cache of a covered table must refuse,
        // not serve raw cached rows (cache substitution happens before the
        // optimizer rule, so the relation leaf is an InMemoryRelation)
        RowFilter.clear()
        val cached = spark.read.parquet(s"$root/t")
        cached.cache()
        assert(cached.count() === 4) // materialize the cache, no policy
        RowFilter.install(Seq(Policy(s"$root/t", "country = 'fr'")))
        intercept[SecurityException] { spark.read.parquet(s"$root/t").count() }
        cached.unpersist(blocking = true)
        // with the cache gone the same read filters normally again
        assert(spark.read.parquet(s"$root/t").count() === 3)

        // fail-closed: MULTI-path v2 relations store their paths as a JSON
        // array under the plural 'paths' option — the shared extractor
        // must surface every one (this connector rejects multi-path loads
        // outright, so pin the extraction on a synthetic v2 relation)
        {
          import org.apache.spark.sql.connector.catalog.{Table, TableCapability}
          val dummy = new Table {
            override def name(): String = "dummy"
            override def schema(): org.apache.spark.sql.types.StructType =
              new org.apache.spark.sql.types.StructType().add("k", "long")
            override def capabilities(): java.util.Set[TableCapability] =
              java.util.Collections.emptySet()
          }
          val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Map.of("paths", """["/a/x","/b/y"]"""))
          val rel = org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation.create(dummy, None, None, opts)
          assert(graft.governance.RelationPaths.of(rel) === Seq("/a/x", "/b/y"))
        }

        // fail-closed: a NAME-addressed catalog read of a covered table
        // (no path option on the relation — the GovernedPath hook must
        // carry the directory to the policy check)
        val lakeRoot = java.nio.file.Files.createTempDirectory("graft_rls_cat_").toString
        graft.lake.Lake.writeTableSnapshot(
          Seq(("u1", 1L)).toDF("user", "k"), lakeRoot, "gov_t")
        val rlscat = org.apache.spark.sql.graft.GraftCatalog.register(spark, lakeRoot)
        RowFilter.install(Seq(Policy(s"$lakeRoot/tables/gov_t", "k > 0")))
        intercept[SecurityException] {
          spark.sql(s"SELECT * FROM $rlscat.tables.gov_t").collect()
        }
        RowFilter.clear()
        assert(spark.sql(s"SELECT * FROM $rlscat.tables.gov_t").count() === 1)
        RowFilter.install(Seq(Policy(s"$root/t", "country = 'fr'")))
      } finally RowFilter.clear()
      // cleared: every row visible again
      assert(spark.read.parquet(s"$root/t").count() === 4)
    }
  }

  test("ColumnarPreFilter: batches compact before the columnar->row transition; results unchanged") {
    SparkSpec.withSession("local[2]", "2", "graft-colfilter-test") { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_colf_spec_").toString
      val data = (1L to 10000L).map(i => (i, (i % 97).toDouble, s"s${i % 7}"))
        .toDF("k", "v", "s")
      graft.sources.StatsCsvFormat.write(data, root, "k", numFiles = 4)

      // numeric conjunct engages the pre-filter; the full condition stays
      // as the residual row filter
      val q = spark.read.format("graft-stats-csv").load(root)
        .filter(col("v") > 90.0 && col("s") =!= "s3")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarPreFilter"), s"pre-filter must engage:\n$plan")
      assert(plan.contains("Filter"), "residual row filter must remain")
      val got = q.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
      val want = (1L to 10000L).map(i => (i, (i % 97).toDouble, s"s${i % 7}"))
        .filter { case (_, v, sv) => v > 90.0 && sv != "s3" }.sorted
      assert(got.toSeq === want)

      // equality-op engagement on the long column
      val q2 = spark.read.format("graft-stats-csv").load(root).filter(col("k") === 4242L)
      assert(q2.queryExecution.executedPlan.toString.contains("ColumnarPreFilter"))
      assert(q2.collect().map(_.getLong(0)).toSeq === Seq(4242L))

      // string-only predicate: no numeric conjunct -> rule leaves the plan alone
      val q3 = spark.read.format("graft-stats-csv").load(root).filter(col("s") === "s2")
      assert(!q3.queryExecution.executedPlan.toString.contains("ColumnarPreFilter"))
      assert(q3.count() === (1L to 10000L).count(_ % 7 == 2))
    }
  }
}
