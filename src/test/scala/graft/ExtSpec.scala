package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, FuzzyJoin, IncrementalCdc, Multimodal, Similarity}

class ExtSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: 3-grams over words, distinct, degenerate short docs") {
    val df = Seq("a b c d", "a b", "x y z", "a b c a b c").toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty) // < 3 words
    assert(out(2) === Seq("x y z"))
    assert(out(3).sorted === Seq("a b c", "b c a", "c a b")) // distinct
  }

  test("minhash signatures identical for identical shingle sets") {
    val docs = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4"), (3L, "q r s t"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length === Dedup.NumHashes)
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("minhashLshOver: planted near-dups found; exact dups expand to jaccard 1.0") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base), // exact-dup group
      (3L, base + " lambda"), // near-dup of the group (high shingle overlap)
      (4L, "one two three four five six seven eight nine ten"), // unrelated
      (5L, "a b"), (6L, "a b")) // identical but shingle-less: must not pair
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) === 1.0) // within-group expansion
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // cross-group expansion
    assert(pairs((1L, 3L)) === pairs((2L, 3L)) && pairs((1L, 3L)) >= 0.35)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
    assert(!pairs.contains((5L, 6L)))
  }

  test("LSH bucket cap bounds candidates on a planted 1k boilerplate cluster") {
    // 1000 near-identical (NOT exact-dup) docs: high pairwise similarity, so
    // uncapped banding yields ~all C(1000,2) pairs; the cap must bound it
    val cluster = (0 until 1000).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog near a river bank today variant$i"))
    val docs = cluster.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs).withColumnRenamed("doc_id", "rep_id")
    val cap = 64
    val capped = Dedup.lshCandidates(sigs, cap).count()
    // ≤ bands × cap²/2 by construction; uncapped would be ~499.5k pairs
    val bound = 8L * cap * (cap - 1) / 2
    assert(capped > 0 && capped <= bound,
      s"capped candidate count $capped outside (0, $bound]")
    val uncapped = Dedup.lshCandidates(sigs, Int.MaxValue).count()
    assert(uncapped > 10L * capped,
      s"cluster not skewed enough to prove the cap ($uncapped vs $capped)")
  }

  test("exact-dup group pair expansion is capped like the band buckets") {
    // a 500-member identical-text group: uncapped within-expansion would
    // emit C(500,2) = 124,750 pairs on ONE shuffle key; the member cap
    // bounds it to C(cap,2)
    val docs = (0 until 500).map(i => (i.toLong, "the same boilerplate text block"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshOver(docs, maxBucket = 8).collect()
    assert(pairs.length === 8 * 7 / 2)
    assert(pairs.forall(_.getDouble(2) === 1.0))
  }

  test("sigOfHashes path produces the same signatures as the MinHashAgg path") {
    val docs = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "p q r s t u v")).toDF("doc_id", "text")
    val viaAgg = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaUdf = Dedup.minhashLshSignaturesForTest(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg === viaUdf)
  }

  test("simhash: identical docs have hamming 0; disjoint docs differ") {
    val docs = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd"), (3L, "zz yy xx ww"))
      .toDF("doc_id", "text")
    val sk = Dedup.simhashSketches(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(1L) === sk(2L))
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(3L)) > 0)
  }

  test("simhashPairsOver: exact dups expand at hamming 0; near-dups survive verify") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base), (2L, base), // exact-dup group
      (3L, base + " extra"), // near-dup: one extra token
      (4L, "completely different words with nothing shared at all here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0) // within-group expansion
    assert(pairs.get((1L, 3L)) === pairs.get((2L, 3L))) // cross expansion agrees
    pairs.get((1L, 3L)).foreach(h => assert(h <= 3))
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 2.0f), 0),
      (3L, Array(3.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = Similarity.withNorm(df)
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
    val cos = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        Similarity.cosine(col("va"), col("na"), col("vb"), col("nb")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cos((1L, 1L)) === 1.0)
    assert(cos((1L, 3L)) === 1.0) // colinear
    assert(cos((1L, 2L)) === 0.0)
  }

  test("native DotProductD matches the higher-order fold bit-exactly") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(50)((rnd.nextLong().abs, Array.fill(64)(rnd.nextFloat() - 0.5f), 0))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val e = Similarity.withNorm(df)
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val both = a.crossJoin(b).select(
      Similarity.dot(col("va"), col("vb")).as("native"),
      Similarity.dotHof(col("va"), col("vb")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("array<double> cast equals the per-element transform cast bit-exactly") {
    // round 18 swapped the embedding decode from an interpreted
    // transform-lambda cast to a plain array cast on every vector path —
    // pin their equivalence on edge floats (subnormals, extremes, nulls)
    val rnd = new scala.util.Random(13)
    val edge: Array[java.lang.Float] = Array[java.lang.Float](
      1.5f, -2.25f, Float.MinPositiveValue, 3.4e38f, -3.4e38f,
      Float.NaN, Float.PositiveInfinity, 0.0f, -0.0f, null)
    val rows: Seq[(Long, Array[java.lang.Float])] =
      (edge.toSeq.map(f => (0L, Array(f))) ++
        Seq.tabulate(20)(i =>
          (i.toLong, Array.fill[java.lang.Float](64)(rnd.nextFloat() - 0.5f))))
    val c = rows.toDF("id", "emb").select(
      col("emb").cast("array<double>").as("a"),
      transform(col("emb"), x => x.cast("double")).as("b"))
    assert(c.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("embedding LSH finds planted near-duplicates (recall on cos>=0.99)") {
    // 100 base vectors + a barely-perturbed copy of each (cosine ~0.9998)
    val rnd = new scala.util.Random(11)
    val base = (0 until 100).map(i => i.toLong -> Array.fill(64)(rnd.nextFloat() - 0.5f))
    val rows = base.flatMap { case (id, v) =>
      val near = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
      Seq((id, v, 0), (id + 1000L, near, 0))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val found = Similarity.embedLshOver(Similarity.withNorm(df), threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 100).map(i => (i.toLong, i + 1000L)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (found ${found.size} pairs)")
    // no false positives survive the exact-verify stage
    assert(found.forall { case (a, b) => expected.contains((a, b)) || expected.contains((b, a)) })
  }

  test("incremental LSH: append-then-incremental equals full recompute") {
    import graft.ext.IncrementalLsh
    // perturbed corpus (not just exact dups): base docs plus overlapping
    // near-dups with ids above the base range, split across two appends
    val base = (0 until 40).map(i =>
      (i.toLong, (0 until 10).map(k => s"w${i * 17 + k}").mkString(" ")))
    val near = (0 until 10).map(i => // drop last word, add one: high overlap
      (1000L + i, ((0 until 9).map(k => s"w${i * 17 + k}") :+ s"x$i").mkString(" ")))
    val dups = (10 until 20).map(i =>
      (1100L + i, (0 until 10).map(k => s"w${i * 17 + k}").mkString(" ")))
    val all = (base ++ near ++ dups).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("ilsh_spec_").toString
    IncrementalLsh.init(base.toDF("doc_id", "text"), root)
    IncrementalLsh.append(near.toDF("doc_id", "text"), root)
    IncrementalLsh.append(dups.toDF("doc_id", "text"), root)
    val incr = IncrementalLsh.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // one-shot rebuild over the full corpus through the same index code
    val root2 = java.nio.file.Files.createTempDirectory("ilsh_spec2_").toString
    IncrementalLsh.init(all, root2)
    val full = IncrementalLsh.pairs(spark, root2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr === full)
    assert(incr.nonEmpty) // near-dups at jaccard 8/10-ish must be found
    assert(incr.exists { case (a, b, j) => b >= 1000 && j < 1.0 && j >= 0.35 })
    // no duplicated pairs across the two appends
    val cnt = IncrementalLsh.pairs(spark, root).count()
    assert(cnt === incr.size)
  }

  test("incremental LSH: non-increasing append ids are rejected") {
    import graft.ext.IncrementalLsh
    val root = java.nio.file.Files.createTempDirectory("ilsh_spec3_").toString
    IncrementalLsh.init(Seq((5L, "a b c d e")).toDF("doc_id", "text"), root)
    val e = intercept[IllegalArgumentException] {
      IncrementalLsh.append(Seq((3L, "a b c d f")).toDF("doc_id", "text"), root)
    }
    assert(e.getMessage.contains("must exceed"))
  }

  test("streamAppends: a batch id delivered twice is appended once") {
    import graft.ext.{IncrementalLsh, IndexMaintenance}
    val root = java.nio.file.Files.createTempDirectory("ilsh_spec6_").toString
    IncrementalLsh.init(Seq((1L, "a b c d e")).toDF("doc_id", "text"), root)
    var appends = 0
    val perBatch = IndexMaintenance.appliedOnce(root) { batch =>
      appends += 1
      IncrementalLsh.append(batch, root)
    }
    val batch = Seq((2L, "a b c d f")).toDF("doc_id", "text")
    perBatch(batch, 0L)
    // the re-delivery after a lost checkpoint write: a second append of
    // the same ids would also trip the monotone-id require
    perBatch(batch, 0L)
    assert(appends === 1)
    perBatch(Seq((3L, "a b c d g")).toDF("doc_id", "text"), 1L)
    assert(appends === 2)
    assert(spark.read.parquet(s"$root/sigs").count() === 3)
  }

  test("streamAppends: chunks drain in chunk order when the highest ids are written first") {
    import graft.ext.{IncrementalLsh, IndexMaintenance}
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 6).map(k => s"w${i * 7 + k}").mkString(" "))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("ilsh_spec7_").toString
    val staged = java.nio.file.Files.createTempDirectory("ilsh_spec7_src_").toString
    IncrementalLsh.init(docs(0 until 10), root)
    // chunk 1 holds the highest ids and lands on disk first, so its file
    // is the older one; IncrementalLsh.append rejects any batch whose ids
    // do not exceed every ingested id, so a drain out of chunk order fails
    graft.streaming.Streams.writeChunksOrdered(docs(20 until 30), lit(1), staged)
    graft.streaming.Streams.writeChunksOrdered(docs(10 until 20), lit(0), staged)
    IndexMaintenance.drainChunks(spark, root, staged, docs(0 until 1).schema)(
      IncrementalLsh.append(_, root))
    assert(spark.read.parquet(s"$root/sigs").select("doc_id").distinct().count() === 30)
  }

  test("incremental LSH: shingle-less doc ids are still spent; empty appends rejected") {
    import graft.ext.IncrementalLsh
    val root = java.nio.file.Files.createTempDirectory("ilsh_spec4_").toString
    // id 9 has < 3 words → never signed, but its id is ingested: the
    // watermark must come from ingested ids, not the sigs table
    IncrementalLsh.init(
      Seq((1L, "a b c d e"), (9L, "too short")).toDF("doc_id", "text"), root)
    intercept[IllegalArgumentException] {
      IncrementalLsh.append(Seq((9L, "x y z w v")).toDF("doc_id", "text"), root)
    }
    val e = intercept[IllegalArgumentException] {
      IncrementalLsh.append(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), root)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("embed-LSH bucket cap bounds candidates on a planted identical-embedding cluster") {
    // 500 identical embeddings (one boilerplate vector repeated) all share
    // every chunk bucket: uncapped that is C(500,2) ≈ 125k candidate pairs
    // from one bucket key; the cap must bound it to C(cap,2) — the same
    // defense the minhash/simhash banding already has
    val rnd = new scala.util.Random(7)
    val boiler = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val rows = (0 until 500).map(i => (i.toLong, boiler, 0)) ++
      (0 until 50).map(i => (1000L + i, Array.fill(64)(rnd.nextFloat() - 0.5f), 0))
    val signed = Similarity.withNorm(rows.toDF("vec_id", "embedding", "label"))
      .withColumn("sig", org.apache.spark.sql.graft.VectorFunctions
        .hyperplaneSig(col("v"), Similarity.planeMatrix(24)))
    val cap = 64
    val capped = Similarity.embedLshCandidates(signed, cap).count()
    assert(capped > 0 && capped <= 3L * cap * (cap - 1) / 2,
      s"capped candidate count $capped outside (0, ${3L * cap * (cap - 1) / 2}]")
    val uncapped = Similarity.embedLshCandidates(signed, Int.MaxValue).count()
    assert(uncapped > 10L * capped,
      s"cluster not skewed enough to prove the cap ($uncapped vs $capped)")
    // the capped pipeline still verifies pairs among retained members at ~1.0
    val pairs = Similarity.embedLshOver(
      Similarity.withNorm(rows.toDF("vec_id", "embedding", "label")),
      threshold = 0.999, maxBucket = cap).collect()
    assert(pairs.length === cap * (cap - 1) / 2)
    assert(pairs.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-12))
  }

  test("embedLshPlanted: exactly the 50 planted pairs, no lattice artifacts") {
    // the nonlinear mixer must keep every non-planted cosine far below the
    // 0.999 threshold (a plain LCG has lag correlations that cross it),
    // making candidate recall structurally 1 and the oracle equality sound
    val pairs = Similarity.embedLshPlanted(spark, "unused").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === 50)
    // cos of identical vectors is d/(sqrt(d))² — 1.0 up to one ulp, not ===
    assert(pairs.forall { case (a, b, c) => b - a == 1000 && math.abs(c - 1.0) < 1e-12 })
  }

  test("media decode stub is deterministic and length-driven") {
    val r = Multimodal.MediaRow(7L, "hello world".getBytes("UTF-8"), "fake/src0")
    val f1 = Multimodal.decodeStub(r)
    val f2 = Multimodal.decodeStub(r)
    assert(f1 === f2)
    assert(f1.n_bytes === 11L)
    assert(f1.width === 11 % 640 + 64 && f1.height === 11 % 480 + 48)
  }

  test("fuzzy index compaction collapses file counts and preserves the pair set") {
    import graft.ext.IncrementalFuzzy
    val root = java.nio.file.Files.createTempDirectory("graft_cfz_t_").toString
    val rows = graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    IncrementalFuzzy.init(rows.filter(col("id") < 50), root, maxDist = 1)
    IncrementalFuzzy.append(rows.filter(col("id") >= 50 && col("id") < 100), root, 1)
    IncrementalFuzzy.append(rows.filter(col("id") >= 100), root, 1)
    def partFiles(t: String): Int =
      new java.io.File(s"$root/$t").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val before = IncrementalFuzzy.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val filesBefore = partFiles("members")
    assert(filesBefore > 1, "appends should have accumulated multiple files")
    IncrementalFuzzy.compact(spark, root)
    Seq("members", "strs", "keys", "pairs_str").foreach { t =>
      assert(partFiles(t) === 1, s"$t not compacted to one file")
    }
    val after = IncrementalFuzzy.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(after === before, "compaction changed the maintained pair set")
    // and the index still absorbs appends after a compaction
    IncrementalFuzzy.append(rows.limit(0), root, 1) // empty append is a no-op
    assert(IncrementalFuzzy.pairs(spark, root).count() === before.size)
  }

  test("LSH and SimHash index compaction preserve their pair sets") {
    import graft.ext.{IncrementalLsh, IncrementalSimhash}
    val docs = Dedup.plantedDocs(spark)
    // LSH
    val lshRoot = java.nio.file.Files.createTempDirectory("graft_clsh_t_").toString
    IncrementalLsh.init(docs.filter(col("doc_id") < 100), lshRoot)
    IncrementalLsh.append(docs.filter(col("doc_id") >= 1000), lshRoot)
    val lshBefore = IncrementalLsh.pairs(spark, lshRoot).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    IncrementalLsh.compact(spark, lshRoot)
    val lshAfter = IncrementalLsh.pairs(spark, lshRoot).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshAfter === lshBefore)
    // the watermark survives compaction (meta is not touched): further
    // appends still enforce the monotone-id contract
    intercept[IllegalArgumentException] {
      IncrementalLsh.append(docs.filter(col("doc_id") < 100), lshRoot)
    }
    // SimHash
    val simRoot = java.nio.file.Files.createTempDirectory("graft_csim_t_").toString
    IncrementalSimhash.init(docs.filter(col("doc_id") < 60), simRoot)
    IncrementalSimhash.append(docs.filter(col("doc_id") >= 60), simRoot)
    val simBefore = IncrementalSimhash.pairs(spark, simRoot).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    IncrementalSimhash.compact(spark, simRoot)
    val simAfter = IncrementalSimhash.pairs(spark, simRoot).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(simAfter === simBefore)
  }

  test("LSH and SimHash index erasure forget at state level too") {
    import spark.implicits._
    import graft.ext.{IncrementalLsh, IncrementalSimhash}
    val docs = Dedup.plantedDocs(spark)
    // LSH: erase one side of a planted exact-dup pair (0, 1000)
    val lshRoot = java.nio.file.Files.createTempDirectory("graft_elsh_t_").toString
    IncrementalLsh.init(docs.filter(col("doc_id") < 100), lshRoot)
    IncrementalLsh.append(docs.filter(col("doc_id") >= 1000), lshRoot)
    assert(IncrementalLsh.pairs(spark, lshRoot)
      .filter(col("doc_a") === 0 && col("doc_b") === 1000).count() === 1)
    IncrementalLsh.erase(spark, lshRoot, Seq(1000L).toDF("doc_id"))
    assert(spark.read.parquet(s"$lshRoot/sigs")
      .filter(col("doc_id") === 1000).count() === 0,
      "content-derived signature row must be purged")
    assert(IncrementalLsh.pairs(spark, lshRoot)
      .filter(col("doc_a") === 1000 || col("doc_b") === 1000).count() === 0)
    // erased ids stay SPENT: re-appending the same id is rejected
    intercept[IllegalArgumentException] {
      IncrementalLsh.append(docs.filter(col("doc_id") === 1000), lshRoot)
    }
    // SimHash: erasing BOTH members of an identical-text pair orphans
    // their sketch, which must leave every state table
    val simRoot = java.nio.file.Files.createTempDirectory("graft_esim_t_").toString
    IncrementalSimhash.init(docs, simRoot)
    val sk0 = spark.read.parquet(s"$simRoot/members")
      .filter(col("doc_id") === 0).head().getLong(1)
    IncrementalSimhash.erase(spark, simRoot, Seq(0L, 1000L).toDF("doc_id"))
    assert(spark.read.parquet(s"$simRoot/sks")
      .filter(col("simhash") === sk0).count() === 0, "orphaned sketch must be purged")
    assert(spark.read.parquet(s"$simRoot/chunks")
      .filter(col("simhash") === sk0).count() === 0)
    assert(IncrementalSimhash.pairs(spark, simRoot)
      .filter(col("doc_a").isin(0L, 1000L) || col("doc_b").isin(0L, 1000L))
      .count() === 0)
  }

  test("index erasure purges orphaned strings from every state table") {
    import spark.implicits._
    import graft.ext.IncrementalFuzzy
    val root = java.nio.file.Files.createTempDirectory("graft_efz_t_").toString
    val rows = graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    IncrementalFuzzy.init(rows, root, maxDist = 1)
    val name7 = rows.filter(col("id") === 7).head().getString(1)
    val strsBefore = spark.read.parquet(s"$root/strs").count()
    IncrementalFuzzy.erase(spark, root, Seq(7L).toDF("id"))
    // output-level: the member is gone and no pair touches it
    assert(spark.read.parquet(s"$root/members")
      .filter(col("id") === 7).count() === 0)
    assert(IncrementalFuzzy.pairs(spark, root)
      .filter(col("id_a") === 7 || col("id_b") === 7).count() === 0)
    // state-level: the orphaned NAME is purged from every table — the
    // PII is gone from the index bytes, not merely unreachable
    assert(spark.read.parquet(s"$root/strs")
      .filter(col("s") === name7).count() === 0)
    assert(spark.read.parquet(s"$root/keys")
      .filter(col("s") === name7).count() === 0)
    assert(spark.read.parquet(s"$root/pairs_str")
      .filter(col("s_a") === name7 || col("s_b") === name7).count() === 0)
    // strings with surviving members are untouched (names are unique per
    // id here, so exactly one string disappears)
    assert(spark.read.parquet(s"$root/strs").count() === strsBefore - 1)
    // and the index still works: remaining pairs equal brute force over
    // the surviving members
    val got = IncrementalFuzzy.pairs(spark, root).count()
    val brute = graft.ext.FuzzyJoin.edSelfJoin(
      rows.filter(col("id") =!= 7), "id", "s", maxDist = 1).count()
    assert(got === brute)
  }

  test("record link: union blocking finds pairs matching via EITHER field alone") {
    import spark.implicits._
    // on the customer gate both fields derive from custkey digits, so this
    // planted frame is what proves the second channel independently: (1,2)
    // match ONLY on code, (1,3) ONLY on name, (2,3) on neither
    val recs = Seq(
      (1L, "alpha corporation", "555-0101"),
      (2L, "beta industries", "555-0102"),
      (3L, "alpha corporatien", "999-9999")).toDF("id", "name", "code")
    val pairs = graft.ext.FuzzyJoin
      .recordLinkPairs(recs, "id", Seq("name", "code"), maxDist = 1)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L)))
  }

  test("star CC: logarithmic rounds on a planted chain; labels equal min-label's") {
    import spark.implicits._
    // a 100-vertex path: min-label propagation needs ~99 rounds (the
    // eccentricity of vertex 0) — dedupClusters' 20-round bound would
    // throw; the star algorithm must finish in O(log n)
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, iters) = Dedup.ccStarWithStats(chain, "a", "b")
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab.size === 100)
    assert(lab.values.forall(_ === 0L), "every chain vertex joins component 0")
    assert(iters <= 8, s"star CC took $iters rounds on a 100-chain (want O(log n))")
    // two disjoint components + a singleton-free check: labels partition
    val two = (Seq((10L, 11L), (11L, 12L), (20L, 21L))).toDF("a", "b")
    val lab2 = Dedup.ccStar(two, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab2 === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // on the real gate edges, star CC and min-label propagation agree row
    // for row (both match the recursive-CTE oracle; this pins them to
    // each other directly as well)
    val d = "/root/testdata/sf0.001"
    val star = Dedup.dedupClustersStar(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.dedupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
  }

  test("incremental SimHash: append-then-incremental ≡ brute force on real docs") {
    import graft.ext.IncrementalSimhash
    val root = java.nio.file.Files.createTempDirectory("graft_isim_t_").toString
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .filter(col("doc_id") < 200)
    IncrementalSimhash.init(docs.filter(col("doc_id") < 80), root)
    IncrementalSimhash.append(
      docs.filter(col("doc_id") >= 80 && col("doc_id") < 150), root)
    IncrementalSimhash.append(docs.filter(col("doc_id") >= 150), root)
    val got = IncrementalSimhash.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute-force truth over the same sketches: all doc pairs within
    // Hamming 3 (identical sketches included, at 0)
    val sk = graft.ext.Dedup.simhashSketches(
      docs.select(col("doc_id"), col("text")))
    val truth = sk.as("a").join(sk.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got === truth,
      s"incremental pair set diverges from brute force: " +
        s"missing=${(truth.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- truth.keySet).take(5)}")
    // replayed append is invisible: re-appending an already-ingested
    // slice duplicates nothing in the read-time pair set
    IncrementalSimhash.append(docs.filter(col("doc_id") >= 150), root)
    val replayed = IncrementalSimhash.pairs(spark, root).collect()
    assert(replayed.length === got.size, "replayed append changed the pair set")
  }

  test("BMP codec round trip: real ImageIO bytes, exact pixel recovery") {
    val spec = Multimodal.ImageSpec(42L, 9, 11)
    val row = Multimodal.encodeBmp(spec)
    // genuine BMP container: magic bytes + a plausible header size
    assert(row.bytes.length > 54)
    assert(row.bytes(0) === 'B'.toByte && row.bytes(1) === 'M'.toByte)
    val dec = Multimodal.decodeBmp(row)
    assert(dec.width === 9 && dec.height === 11)
    // channel sums must equal a direct fold of the generation function —
    // proves the codec preserved every pixel, channel order included
    var (er, eg, eb) = (0L, 0L, 0L)
    for (y <- 0 until 11; x <- 0 until 9) {
      val p = Multimodal.pixel(42L, x, y)
      er += (p >> 16) & 0xff; eg += (p >> 8) & 0xff; eb += p & 0xff
    }
    assert((dec.sum_r, dec.sum_g, dec.sum_b) === ((er, eg, eb)))
    // corrupt payload fails loudly, not silently
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp(Multimodal.MediaRow(1L, Array[Byte](1, 2, 3), "image/bmp"))
    }
  }

  test("decodeAll runs the typed mapPartitions path") {
    import spark.implicits._
    val ds = Seq(
      Multimodal.MediaRow(1L, Array[Byte](1, 2, 3), "fake/a"),
      Multimodal.MediaRow(2L, Array[Byte](), "fake/b")).toDS()
    val out = Multimodal.decodeAll(ds).collect().sortBy(_.media_id)
    assert(out.map(_.n_bytes).toSeq === Seq(3L, 0L))
    assert(out.forall(_.n_frames >= 1))
  }

  test("PQ ANN: codes are valid codebook ids, ranks dense, ADC sorted per query") {
    val rows = Similarity.annPq(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("c0", "c1", "c2", "c3").foreach { c =>
        val code = r.getAs[Long](c)
        assert(code >= 0 && code < 16, s"code $c out of codebook range: $r")
      }
      assert(r.getAs[Double]("adc") >= -1e-9, s"negative ADC distance: $r")
    }
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRank.map(_.getAs[Int]("rk")).toSeq === (1 to rs.length),
        s"ranks not dense for query $q")
      val adcs = byRank.map(_.getAs[Double]("adc"))
      assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b },
        s"ADC not non-decreasing with rank for query $q")
      assert(rs.length <= 5)
      // a codebook member (vec_id < 16) quantizes to itself: its ADC to the
      // query equals the query's LUT distance — spot check self-coding
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q), "self in neighbors")
    }
  }

  test("IVFPQ index: erasure purges codes AND cold vectors; codebooks stay frozen") {
    import graft.ext.IncrementalIvfPq
    val d = "/root/testdata/sf0.01"
    val root = java.nio.file.Files.createTempDirectory("graft_iivfpq_spec_").toString
    val vecs = Tables.embeddings(spark, d)
    IncrementalIvfPq.init(vecs.filter(col("vec_id") < 250), root)
    IncrementalIvfPq.append(vecs.filter(col("vec_id") >= 250), root)
    val cbBefore = spark.read.parquet(s"$root/cb").count()
    IncrementalIvfPq.erase(spark, root,
      vecs.filter(col("vec_id") % 100 === 50).select(col("vec_id")))
    // state-level forgetting: codes AND the raw-vector cold store
    Seq("codes", "vecs").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("vec_id") % 100 === 50).count() === 0,
        s"erased ids must leave $t")
    }
    // the frozen models are aggregate state and survive (re-deriving them
    // would re-key every stored code)
    assert(spark.read.parquet(s"$root/cb").count() === cbBefore)
    // and no erased id can reach a shortlist
    assert(!IncrementalIvfPq.query(spark, root).collect()
      .exists(_.getAs[Long]("neighbor_id") % 100 == 50))
  }

  test("CDC index: erasure purges state, replayed appends are structurally invisible") {
    val d = "/root/testdata/sf0.01"
    val root = java.nio.file.Files.createTempDirectory("graft_icdc_spec_").toString
    val docs = Tables.documents(spark, d)
    IncrementalCdc.init(docs.filter(col("doc_id") < 300), root)
    IncrementalCdc.append(docs.filter(col("doc_id") >= 300), root)
    val before = IncrementalCdc.stats(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // at-least-once tolerance is STRUCTURAL: re-delivering a whole batch
    // writes verbatim duplicate posting rows, which the read-time
    // distinct erases — stats identical, no marker machinery involved
    IncrementalCdc.append(docs.filter(col("doc_id") >= 300), root)
    val replayed = IncrementalCdc.stats(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed === before, "a replayed append must be invisible")
    // state-level forgetting: the erased doc's rows leave the posting
    // table itself, not merely the derived stats
    IncrementalCdc.erase(spark, root, docs.filter(col("doc_id") === 7)
      .select(col("doc_id")))
    assert(spark.read.parquet(s"$root/postings")
      .filter(col("doc_id") === 7).count() === 0,
      "erased doc's chunk hashes must leave the state table")
    assert(!IncrementalCdc.stats(spark, root).collect()
      .exists(_.getLong(0) == 7L))
  }

  test("CDC dedup: insertion-stable where fixed-size chunking loses everything") {
    val rows = Dedup.cdcPlanted(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, sc, nf, sf) = (r.getAs[Int]("n_cdc"), r.getAs[Int]("shared_cdc"),
        r.getAs[Int]("n_fix"), r.getAs[Int]("shared_fix"))
      assert(nc > 0 && nf > 0)
      assert(sc <= nc && sf <= nf)
      // the insertion sits at char 8-23, inside the FIRST 64-char block;
      // every later block shifts by one char — fixed-size chunking
      // recognizes NOTHING of the original in the mutant
      assert(sf === 0, s"fixed chunking should share no block across the edit: $r")
      // CDC boundaries re-align within one window of the edit — a strict
      // majority (measured: ≥75% per doc, 93% aggregate) of chunks survive
      assert(sc * 2 > nc, s"CDC must keep a majority of chunks across the edit: $r")
    }
    val (snc, ssc) = (rows.map(_.getAs[Int]("n_cdc").toLong).sum,
      rows.map(_.getAs[Int]("shared_cdc").toLong).sum)
    assert(ssc * 10 >= snc * 9,
      s"aggregate CDC survival should be ≥90%, got $ssc/$snc")
  }

  test("IVFPQ: coarse loss equals IVF recall@4, ADC loss bounded, ranks sound") {
    val d = "/root/testdata/sf0.01"
    // search output: dense ranks, ADC non-decreasing, never self
    val top = Similarity.annIvfPq(spark, d).collect()
    assert(top.nonEmpty)
    top.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRank.map(_.getAs[Int]("rk")).toSeq === (1 to rs.length),
        s"ranks not dense for query $q")
      val adcs = byRank.map(_.getAs[Double]("adc"))
      assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b },
        s"ADC not non-decreasing with rank for query $q")
      assert(rs.length <= 5)
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q), "self in neighbors")
    }
    // recall split: hits_adc ≤ hits_cells ≤ truth_k per query, and the
    // COARSE component must equal plain IVF recall@4 exactly — same
    // centroids, same assignment, same probes, so any difference is a bug
    // in the composition, not a data property
    val rec = Similarity.annIvfPqRecall(spark, d).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("truth_k"), r.getAs[Long]("hits_cells"),
          r.getAs[Long]("hits_adc"))).toMap
    assert(rec.nonEmpty)
    rec.foreach { case (q, (tk, hc, ha)) =>
      assert(tk === 3L, s"truth should be top-3 for $q")
      assert(ha >= 0L && ha <= hc && hc <= tk,
        s"recall split out of order for $q: adc=$ha cells=$hc truth=$tk")
    }
    val ivf4 = Similarity.annIvfRecall(spark, d).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("hits_np4")).toMap
    rec.foreach { case (q, (_, hc, _)) =>
      assert(ivf4.get(q).contains(hc),
        s"IVFPQ coarse hits ($hc) != IVF recall@4 (${ivf4.get(q)}) for $q")
    }
    // the composed index must actually retrieve truth on this corpus —
    // a recall gate that can pass at zero measures nothing
    assert(rec.values.map(_._3).sum > 0L, "IVFPQ never retrieved a truth neighbor")
  }

  test("IVF multi-probe: recall@4 ≥ recall@1 per query, strictly better in aggregate") {
    // sf0.01: 500 vectors, 5 queries — dense enough that single-probe IVF
    // provably misses near-boundary truth neighbors on this corpus, so the
    // aggregate improvement must be STRICT, not just monotone
    val rows = Similarity.annIvfRecall(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tk, h1, h4) = (r.getAs[Long]("truth_k"),
        r.getAs[Long]("hits_np1"), r.getAs[Long]("hits_np4"))
      assert(tk === 3L, s"brute-force truth should be top-3: $r")
      assert(h1 >= 0L && h4 <= tk, s"hits outside [0, truth_k]: $r")
      // candidates@1 ⊆ candidates@4 and a truth neighbor in any probed
      // cell is always retrieved (at most 2 vectors beat it anywhere), so
      // per-query monotonicity is a THEOREM of the construction — any
      // violation is an implementation bug, not a data property
      assert(h4 >= h1, s"recall not monotone in nprobe: $r")
    }
    val (s1, s4) = (rows.map(_.getAs[Long]("hits_np1")).sum,
      rows.map(_.getAs[Long]("hits_np4")).sum)
    assert(s4 > s1,
      s"multi-probe must strictly improve aggregate recall here ($s1 vs $s4)")
    // and the retrieved sets agree: multiprobe top-3 at nprobe=4 must
    // contain every single-probe hit's neighbor (same cells probed first)
    val mp = Similarity.annIvfMultiprobe(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val sp = Similarity.annIvf(spark, "/root/testdata/sf0.01")
      .filter(col("rk") <= 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
    // single-probe's top-3 comes from a candidate subset; anything it
    // found that survives the larger candidate pool's top-3 must appear —
    // spot-check the containment direction that is guaranteed: every
    // multiprobe rank-1 neighbor at least ties single-probe's rank-1
    val mpTop = Similarity.annIvfMultiprobe(spark, "/root/testdata/sf0.01")
      .filter(col("rk") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val spTop = Similarity.annIvf(spark, "/root/testdata/sf0.01")
      .filter(col("rk") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    spTop.foreach { case (q, c1) =>
      assert(mpTop.getOrElse(q, Double.MinValue) >= c1 - 1e-12,
        s"multiprobe rank-1 cosine regressed vs single-probe for query $q")
    }
    assert(mp.nonEmpty && sp.nonEmpty)
  }

  test("repetition signals: fraction bounds and planted degenerate doc") {
    import spark.implicits._
    // route a tiny planted corpus through the same aggregation shape by
    // checking the real gate output's invariants instead (the planted
    // degenerate case: any doc's top-word fraction is at least 1/n_words
    // and at most 1; distinct_ratio in (0, 1])
    val rows = graft.ext.TextAnalysis.repetitionSignals(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_words").toDouble
      val dr = r.getAs[Double]("distinct_ratio")
      val twf = r.getAs[Double]("top_word_frac")
      assert(dr > 0 && dr <= 1, s"distinct_ratio out of (0,1]: $r")
      assert(twf >= 1.0 / n - 1e-12 && twf <= 1.0, s"top_word_frac bounds: $r")
      if (!r.isNullAt(r.fieldIndex("top_bigram_frac"))) {
        val tbf = r.getAs[Double]("top_bigram_frac")
        assert(tbf > 0 && tbf <= 1.0, s"top_bigram_frac bounds: $r")
      }
    }
    // fully repetitive text ranks strictly above varied text on top_word_frac
    val planted = Seq((1L, "spam spam spam spam"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val f = planted.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).count()
      .groupBy(col("doc_id"))
      .agg((max(col("count")).cast("double") / sum(col("count"))).as("twf"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("twf")).toMap
    assert(f(1L) === 1.0 && f(2L) === 0.25)
  }

  test("kmeans: K clusters, members partition the corpus, inertia non-increasing") {
    val d = "/root/testdata/sf0.001"
    val out = Similarity.kmeansTrain(spark, d).collect()
    val cids = out.map(_.getAs[Long]("cid")).distinct
    assert(cids.length <= Similarity.KmeansK && cids.nonEmpty)
    // 64 dims per centroid, cluster sizes sum to the corpus
    val perCid = out.groupBy(_.getAs[Long]("cid"))
    perCid.foreach { case (cid, rs) =>
      assert(rs.map(_.getAs[Int]("dim")).sorted.toSeq === (0 until 64),
        s"centroid $cid not 64-dimensional")
      assert(rs.map(_.getAs[Long]("n")).distinct.length === 1)
    }
    val n = graft.Tables.embeddings(spark, d).count()
    assert(perCid.map(_._2.head.getAs[Long]("n")).sum === n)
    // Lloyd contract: each update step cannot increase total inertia
    import org.apache.spark.sql.DataFrame
    def inertia(cents: DataFrame): Double = {
      val e = graft.Tables.embeddings(spark, d)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      e.join(broadcast(cents), lit(true))
        .select(((aggregate(zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))).as("d2"), col("vec_id"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("best"))
        .agg(sum(col("best"))).collect()(0).getDouble(0)
    }
    val e0 = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val c0 = e0.orderBy(col("vec_id")).limit(Similarity.KmeansK)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    import spark.implicits._
    val c2 = out.toSeq.groupBy(r => (r.getAs[Long]("cid"), r.getAs[Long]("n")))
      .map { case ((cid, _), rs) =>
        (cid, rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("val")).toArray)
      }.toSeq.toDF("cid", "cv")
    assert(inertia(c2) <= inertia(c0) + 1e-9,
      "two Lloyd iterations increased inertia")
  }

  test("semdedup: keeper precedes dropped doc and pair truly crosses the threshold") {
    val d = "/root/testdata/sf0.001"
    val drops = Similarity.semDedup(spark, d).collect()
    drops.foreach { r =>
      assert(r.getAs[Long]("keeper_id") < r.getAs[Long]("drop_id"), s"keeper after drop: $r")
      assert(r.getAs[Double]("cos") >= 0.4, s"below-threshold prune: $r")
    }
    // containment: every (keeper, dropped) pair must be a true cosine>=0.4
    // pair of the exact all-pairs op
    val truth = Similarity.cosineNearDup(spark, d).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    drops.foreach { r =>
      val p = (r.getAs[Long]("keeper_id"), r.getAs[Long]("drop_id"))
      assert(truth.contains(p), s"semdedup pruned a non-near-dup pair: $p")
    }
  }

  test("chunkDocs: stride geometry, overlap of 10 tokens, full token coverage") {
    val rows = graft.ext.TextAnalysis.chunkDocs(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val byIdx = rs.sortBy(_.getAs[Long]("chunk_idx"))
      val n = byIdx.head.getAs[Long]("n_tok")
      // starts advance by exactly the stride; indexes dense from 0
      assert(byIdx.map(_.getAs[Long]("chunk_idx")).toSeq ===
        (0L until byIdx.length.toLong))
      byIdx.foreach { r =>
        assert(r.getAs[Long]("start") === r.getAs[Long]("chunk_idx") * 30 + 1)
        assert(r.getAs[Long]("chunk_tok") <= 40)
      }
      // coverage: last chunk ends at n_tok (or the doc is empty)
      val last = byIdx.last
      if (n > 0)
        assert(last.getAs[Long]("start") + last.getAs[Long]("chunk_tok") - 1 === n,
          s"doc $doc tokens not fully covered")
      // consecutive chunks overlap by win - stride = 10 tokens (when full)
      byIdx.sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a.getAs[Long]("start") + a.getAs[Long]("chunk_tok") - 1
          if (a.getAs[Long]("chunk_tok") == 40)
            assert(aEnd - b.getAs[Long]("start") + 1 === 10)
        case _ =>
      }
    }
  }

  test("packSequences: full bins hold exactly the budget; token mass conserved") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ext.TextAnalysis.packSequences(spark, d).collect()
    assert(rows.nonEmpty)
    val byBin = rows.groupBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")))
      .view.mapValues(_.map(_.getAs[Long]("tokens_in_bin")).sum).toMap
    byBin.foreach { case ((shard, bin), tot) =>
      val lastBin = byBin.keys.filter(_._1 == shard).map(_._2).max
      if (bin < lastBin) assert(tot === 256, s"non-tail bin ($shard,$bin) holds $tot")
      else assert(tot <= 256 && tot > 0)
    }
    // conservation: every token of every doc lands in exactly one bin slice
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("tokens_in_bin")).sum).toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      assert(perDoc(doc) === rs.head.getAs[Long]("tok"),
        s"doc $doc token mass not conserved across bins")
    }
  }

  test("lineDedup: real drops occur, cleaned text bounded by kept lines") {
    val rows = graft.ext.TextAnalysis.lineDedup(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Long]("dropped_lines") > 0),
      "no boilerplate line was ever dropped — threshold not exercised")
    assert(rows.exists(_.getAs[Long]("kept_lines") > 0))
    rows.foreach { r =>
      val kept = r.getAs[Long]("kept_lines")
      val clean = r.getAs[String]("cleaned_text")
      if (kept == 0) assert(clean.isEmpty, s"no kept lines but text remains: $r")
      val tok = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(tok <= kept * 5, s"cleaned text longer than kept lines allow: $r")
    }
  }

  test("dataSplit: covering, disjoint by construction, ~80/10/10, stable") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.ext.TextAnalysis.dataSplit(spark, d).collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    val total = graft.Tables.documents(spark, d).count()
    assert(rows.values.sum === total, "splits do not cover the corpus")
    assert(rows("train") > rows.getOrElse("val", 0L))
    assert(rows("train") > rows.getOrElse("test", 0L))
    // determinism: a second run is identical (pure function of doc_id)
    val again = graft.ext.TextAnalysis.dataSplit(spark, d).collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("id_sum")).toMap
    val first = graft.ext.TextAnalysis.dataSplit(spark, d).collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("id_sum")).toMap
    assert(again === first)
  }

  test("bm25: dense non-increasing rankings, positive scores, candidates only") {
    val rows = graft.ext.TextAnalysis.bm25Search(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRank.map(_.getAs[Int]("rk")).toSeq === (1 to rs.length), s"ranks not dense for $q")
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"scores increase with rank for query $q")
      assert(scores.forall(_ > 0), s"non-positive BM25 score for query $q")
    }
  }

  test("qualityModel: keep iff margin positive; degenerate docs never kept") {
    val rows = graft.ext.TextAnalysis.qualityModel(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val keep = r.getAs[Boolean]("keep")
      if (r.isNullAt(r.fieldIndex("margin"))) assert(!keep, s"null margin kept: $r")
      else assert(keep === (r.getAs[Double]("margin") > 0.0), s"keep != margin>0: $r")
    }
  }

  test("edSelfJoin d=1: blocked pair set equals brute force across sub/ins/del edits") {
    // variants of different LENGTHS so the neighborhood covers insertions
    // and deletions, not just the substitutions the customer gate exercises
    val names = Seq(
      1L -> "kitten", 2L -> "sitten", // substitution
      3L -> "kitte", // deletion
      4L -> "kittens", // insertion
      5L -> "ktiten", // transposition = 2 edits: must NOT pair with kitten
      6L -> "ab", 7L -> "ba", // share deletion key "b" at distance 2: verify must reject
      8L -> "", 9L -> "a", // empty-string edge
      10L -> "kitten" // exact duplicate of 1
    ).toDF("id", "s")
    val got = FuzzyJoin.edSelfJoin(names, "id", "s", maxDist = 1)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    val brute = names.as[(Long, String)].collect()
    val want = (for {
      (ia, sa) <- brute; (ib, sb) <- brute if ia < ib
      d = {
        // reference Levenshtein
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if d <= 1
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 1)) &&
      got.contains((1L, 4L, 1)) && got.contains((1L, 10L, 0)))
    // the shared-deletion-key false candidates are rejected by verify:
    // "ab"/"ba" share key "b" but sit at distance 2, and the transposed
    // "ktiten" is 2 edits from "kitten"
    assert(!got.exists(p => p._1 == 6L && p._2 == 7L))
    assert(!got.exists(p => Set(p._1, p._2).contains(5L) && Set(p._1, p._2).contains(1L)))
  }

  test("edSelfJoin d=2: depth-2 neighborhood finds two-edit pairs, still exact") {
    val names = Seq(
      1L -> "abcdef", 2L -> "abXdYf", // two substitutions
      3L -> "abcd", // two deletions
      4L -> "zbcdez", // sub at both ends
      5L -> "qqqqqq" // unrelated
    ).toDF("id", "s")
    val got = FuzzyJoin.edSelfJoin(names, "id", "s", maxDist = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 2), (1L, 3L, 2), (1L, 4L, 2)))
  }

  test("edSelfJoin d=1: dense-corpus fuzz vs brute force, Levenshtein and OSA") {
    // Dense short strings over a tiny alphabet maximize blocking-key
    // collisions (the highest-false-candidate regime for the verify
    // stage), and the multi-byte codepoints pin the kernels to codepoint
    // (not char/byte) semantics. Duplicated strings exercise the dist-0
    // dup channel; "ab"/"ba" pins OSA's transposition divergence from
    // Levenshtein through the same blocking.
    val rnd = new scala.util.Random(7)
    val cpAlphabet = Seq("a", "b", "Ø", new String(Character.toChars(0x1D11E)))
    val strs = (Seq("", "a", "ab", "ba") ++
      Seq.fill(56)(Seq.fill(rnd.nextInt(6))(
        cpAlphabet(rnd.nextInt(cpAlphabet.length))).mkString)).zipWithIndex
      .map { case (s, i) => (i.toLong + 1, s) }
    val names = strs.toDF("id", "s")
    def lev(x: Array[Int], y: Array[Int]): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)(
        (i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    def osa(x: Array[Int], y: Array[Int]): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)(
        (i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length) {
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        if (i > 1 && j > 1 && x(i - 1) == y(j - 2) && x(i - 2) == y(j - 1))
          d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + 1)
      }
      d(x.length)(y.length)
    }
    def cps(s: String): Array[Int] = s.codePoints().toArray
    def bruteWant(metric: (Array[Int], Array[Int]) => Int): Set[(Long, Long, Int)] =
      (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        d = metric(cps(sa), cps(sb)) if d <= 1
      } yield (ia, ib, d)).toSet
    val gotLev = FuzzyJoin.edSelfJoin(names, "id", "s", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(gotLev === bruteWant(lev))
    val gotOsa = FuzzyJoin.edSelfJoin(names, "id", "s", maxDist = 1,
      metric = org.apache.spark.sql.graft.TextExpressions.osaDistanceCapped)
      .as[(Long, Long, Int)].collect().toSet
    assert(gotOsa === bruteWant(osa))
    // the OSA set must strictly contain a transposition pair the
    // Levenshtein set rejects, proving the t-channel carries them
    assert((gotOsa -- gotLev).nonEmpty)
    // cross-relation shape on the same dense corpus: equal + indel channels
    val (l, r) = strs.splitAt(30)
    val gotJoin = FuzzyJoin.edJoin(
        l.toDF("id", "s"), "id", "s", r.toDF("id", "s"), "id", "s", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    val wantJoin = (for {
      (ia, sa) <- l; (ib, sb) <- r
      d = lev(cps(sa), cps(sb)) if d <= 1
    } yield (ia, ib, d)).toSet
    assert(gotJoin === wantJoin)
  }

  test("editDistanceCapped: agrees with full Levenshtein wherever <= cap, else cap+1") {
    val rnd = new scala.util.Random(42)
    // reference DP over CODEPOINTS (not Java chars): the kernel contract is
    // codepoint distance, and the surrogate-pair alphabet below diverges
    // from char-level DP
    def lev(as: String, bs: String): Int = {
      val a = as.codePoints().toArray
      val b = bs.codePoints().toArray
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.graft.TextKernels
    val alphabet = "abc"
    // multi-byte alphabet (2-byte Ø, 3-byte €, 4-byte 𝄞) stresses the
    // d ≤ 1 byte-level fast path's codepoint-boundary back-off
    val mb = Seq("a", "b", "Ø", "€", new String(Character.toChars(0x1D11E)))
    def mbs(): String =
      Seq.fill(rnd.nextInt(8))(mb(rnd.nextInt(mb.length))).mkString
    val cases = Seq(("", ""), ("", "a"), ("abc", "abc"), ("ab", "ba"),
      ("kitten", "sitting"), ("Øa", "aØ"), ("€", "Ø")) ++
      Seq.fill(500)((
        Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(3))).mkString,
        Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(3))).mkString)) ++
      Seq.fill(500)((mbs(), mbs()))
    for ((a, b) <- cases; d <- 0 to 3) {
      val want = math.min(lev(a, b), d + 1)
      val got = TextKernels.editDistanceCapped(
        UTF8String.fromString(a), UTF8String.fromString(b), d)
      assert(got === want, s"editDistanceCapped('$a','$b',$d)")
    }
  }

  test("edJoin (two-relation): blocked result equals brute force, members expand") {
    val left = Seq(1L -> "itten", 2L -> "xyz", 3L -> "red gea").toDF("id", "s")
    val right = Seq(
      10L -> "kitten", 11L -> "kitten", // duplicated dimension rows
      12L -> "itten", 13L -> "red gear", 14L -> "blue bolt").toDF("id", "s")
    val got = FuzzyJoin.edJoin(left, "id", "s", right, "id", "s", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set(
      (1L, 10L, 1), (1L, 11L, 1), // insertion resolves to BOTH dup members
      (1L, 12L, 0), // exact match at dist 0
      (3L, 13L, 1))) // trailing deletion
  }

  test("edLookupBest: best match per left row, ties to lowest id, counts all members") {
    val dirty = Seq(1L -> "itten", 2L -> "zzz", 3L -> "gear").toDF("id", "s")
    val dim = Seq(
      10L -> "kitten", 11L -> "kitten", // dup members, dist 1 from "itten"
      12L -> "itten",                   // dist 0 — must win over dist-1 strings
      13L -> "bitten",                  // dist 1
      14L -> "gears", 15L -> "gearx", 16L -> "gears" // two dist-1 strings tie
    ).toDF("id", "s")
    val got = FuzzyJoin.edLookupBest(dirty, "id", "s", dim, "id", "s", maxDist = 1)
      .select("left_id", "n_matches", "best_dist", "best_right_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 4L, 0L, 12L),  // kitten×2 + itten + bitten = 4 matches; exact wins
      (3L, 3L, 1L, 14L))) // gears×2 + gearx; tie between strings → lowest member id
    // left rows with no match within maxDist are absent (inner semantics)
  }

  test("IncrementalFuzzy: appends equal batch edSelfJoin, incl. re-ingested strings") {
    import graft.ext.IncrementalFuzzy
    val all = Seq(1L -> "kitten", 2L -> "sitten", 3L -> "kitte",
      4L -> "kitten", 5L -> "ba", 6L -> "ab").toDF("id", "s")
    val root = java.nio.file.Files.createTempDirectory("ifz_spec_").toString
    IncrementalFuzzy.init(all.filter(col("id") <= 2), root, maxDist = 1)
    IncrementalFuzzy.append(all.filter(col("id") === 3 || col("id") === 5), root, maxDist = 1)
    // batch 3 re-ingests "kitten" (already indexed) — the string index must
    // not re-block it, but its member pairs (incl. dist-0 with id 1) must
    // still appear at read time
    IncrementalFuzzy.append(all.filter(col("id") === 4 || col("id") === 6), root, maxDist = 1)
    val got = IncrementalFuzzy.pairs(spark, root)
      .as[(Long, Long, Int)].collect().toSet
    val want = FuzzyJoin.edSelfJoin(all, "id", "s", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want)
    assert(got.contains((1L, 4L, 0)) && got.contains((2L, 4L, 1)))
  }

  test("jaroWinkler kernel: reference values, boost threshold, byte-level unicode, empty edge") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.graft.TextKernels
    def jw(a: String, b: String): Double =
      TextKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(jw("martha", "marhta") === 0.9611111111111111)
    assert(jw("dixon", "dicksonx") === 0.8133333333333332)
    assert(jw("jellyfish", "smellyfish") === 0.8962962962962964)
    assert(jw("kitten", "sitting") === 0.746031746031746)
    assert(jw("a", "a") === 1.0)
    assert(jw("ab", "ba") === 0.0)
    // DuckDB variant edges the textbook form gets wrong:
    assert(jw("", "") === 0.0) // empty-empty is 0, not 1
    // boost threshold: shared prefix but jaro < 0.7 -> NO Winkler bonus
    assert(jw("beaceaabe", "bccecd") === 0.5)
    // byte-level: 'é' is 2 UTF-8 bytes, so the 2-byte prefix of "é∂a"/"é"
    // counts as prefix length 2 in the boost
    assert(jw("é∂a", "é") === 0.8222222222222222)
  }

  test("osaDistanceCapped: agrees with reference OSA wherever <= cap, transpositions = 1 edit") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.graft.TextKernels
    def osa(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length) {
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          m(i)(j) = math.min(m(i)(j), m(i - 2)(j - 2) + 1)
      }
      m(a.length)(b.length)
    }
    def k(a: String, b: String, d: Int): Int = TextKernels.osaDistanceCapped(
      UTF8String.fromString(a), UTF8String.fromString(b), d)
    assert(k("ab", "ba", 1) === 1) // transposition is ONE edit (lev says 2)
    assert(k("abcdef", "abcdfe", 1) === 1)
    // OSA("ca","abc") = 3 (restricted: no edits inside a transposed pair),
    // full Damerau = 2 — the divergence needs >= 2 ops, which is why the
    // gate caps at 1 where the two coincide
    assert(k("ca", "abc", 2) === 3)
    val rnd = new scala.util.Random(99)
    val alphabet = "abc"
    val cases = Seq(("", ""), ("", "a"), ("abc", "abc"), ("kitten", "sitting")) ++
      Seq.fill(500)((
        Seq.fill(rnd.nextInt(10))(alphabet(rnd.nextInt(3))).mkString,
        Seq.fill(rnd.nextInt(10))(alphabet(rnd.nextInt(3))).mkString))
    for ((a, b) <- cases; d <- 0 to 3)
      assert(k(a, b, d) === math.min(osa(a, b), d + 1), s"osa('$a','$b',$d)")
  }

  test("BPE trainer recounts between rounds: a later round selects a FUSED token") {
    import org.apache.spark.sql.functions._
    // a corpus dominated by "the": round 1 fuses (h,e) — the tie with
    // (t,h) breaks pair-ASC — and round 2 must then see and select the
    // pair (t, he), whose right side is round 1's fused token. A one-shot
    // candidate list over char pairs structurally cannot contain it.
    val words = Seq(("the", 100L), ("ox", 3L)).toDF("w", "wc")
    val merges = graft.ext.TextAnalysis.bpeTrainRounds(words, rounds = 2)
    assert(merges(0) === ((1, "h", "e", 100L)), merges.toString)
    assert(merges(1) === ((2, "t", "he", 100L)), merges.toString)
  }

  test("BPE in-memory trainer ≡ distributed trainer on a random vocab, deep rounds") {
    // the round-15 lineage-safe trainer has two strategies (driver-side
    // incremental counts vs per-round distributed recount); they must pick
    // the SAME merge sequence under the same total order, including ties
    // and early exhaustion
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    val vocab = (1 to 120).map { _ =>
      Seq.fill(2 + rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct.map(w => (w, 1L + rnd.nextInt(50).toLong)).toArray
    val df = vocab.toSeq.toDF("w", "wc")
    val rounds = 25
    val mem = graft.ext.TextAnalysis.bpeTrainInMemory(vocab, rounds, (_, _) => ())
    val dist = graft.ext.TextAnalysis.bpeTrainDistributed(
      df.persist(), rounds, (_, _) => ())
    assert(mem === dist, s"\nmem=$mem\ndist=$dist")
    df.unpersist()
    // exhaustion: a vocab with 2 possible merges stops after 2 rounds
    val tiny = Array(("ab", 5L))
    val exhausted = graft.ext.TextAnalysis.bpeTrainInMemory(tiny, 10, (_, _) => ())
    assert(exhausted === Seq((1, "a", "b", 5L)), exhausted.toString)
  }

  test("suffix dedup: byte-exact span boundaries survive a 1-char insertion where shingle sets shift") {
    import graft.ext.SuffixDedup
    // aperiodic base string: hash-mixed alphabet so no 40-gram repeats
    // WITHIN it (asserted below — the test's own precondition)
    val base = (1 to 300).map { i =>
      ('a' + (((i * 2654435761L) >> 7) % 26).toInt).toChar
    }.mkString
    val grams = (0 to base.length - 40).map(i => base.substring(i, i + 40))
    assert(grams.distinct.size === grams.size, "base must have no repeated 40-gram")
    // docB = docA with ONE char inserted at position 137 (after char 137)
    val insertAt = 137
    val docA = base
    val docB = base.substring(0, insertAt) + "Z" + base.substring(insertAt)
    val docs = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val spans = SuffixDedup.suffixSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // byte-resolution claim: in A, the shared prefix [1,137] and the
    // shared (shifted) tail [138,300] touch, so coverage merges into one
    // full-document duplicated span. In B, the inserted char itself —
    // position 138, the ONE byte with no duplicate anywhere — splits the
    // coverage into [1,137] and [139,301]: the reported boundary is the
    // edit, to the character.
    assert(spans === Set(
      (1L, 1L, 300L),
      (2L, 1L, 137L), (2L, 139L, 301L)), spans.toString)
    // the contrast that justifies the rung: fixed-k shingles lose the
    // boundary — every 40-gram crossing the insertion point differs
    // between A and B, so shingle overlap understates the shared tail
    // by k-1 positions and cannot name the split point at all
    val aGrams = (0 to docA.length - 40).map(i => docA.substring(i, i + 40)).toSet
    val bGrams = (0 to docB.length - 40).map(i => docB.substring(i, i + 40)).toSet
    val sharedGramPositions = (0 to docA.length - 40)
      .count(i => bGrams.contains(docA.substring(i, i + 40)))
    // suffix spans cover all 300 chars of A; shingles only vouch for
    // positions whose whole 40-gram survives — strictly fewer
    assert(sharedGramPositions < 300 - 40 + 1, s"got $sharedGramPositions")
    assert(aGrams !== bGrams)
  }

  test("suffix dedup: self-repeat within one doc, cap-exceeding span recovered exactly") {
    import graft.ext.SuffixDedup
    // one doc containing the same 90-char block twice (longer than the
    // 65-char match cap), with aperiodic filler between and around —
    // the interval union must recover BOTH copies' full 90-char extent
    // even though every single position's match length caps at 65
    def mix(seed: Int, n: Int): String = (1 to n).map { i =>
      // golden-ratio avalanche on the HIGH bits — a low-bit LCG cycles
      // mod 26 within a few chars and fabricates corpus-wide repeats
      val h = (i.toLong + seed.toLong * 7919L) * 0x9E3779B97F4A7C15L
      ('a' + (((h >>> 33) % 26).toInt)).toChar
    }.mkString
    val block = mix(7, 90)
    // seed 12 (not 2) for the middle filler: with seed 2 its last two
    // chars coincide with the first filler's, genuinely extending the
    // duplicated region 2 chars before the block — the operator reports
    // that correctly, but the test wants the planted boundaries clean
    val doc = mix(1, 60) + block + mix(12, 55) + block + mix(3, 40)
    // precondition: the ONLY duplicated 40-grams are the block pair's
    val gramCounts = (0 to doc.length - 40).map(i => doc.substring(i, i + 40))
      .groupBy(identity).view.mapValues(_.size)
    assert(gramCounts.values.count(_ >= 2) === 51, // 90 - 40 + 1 per copy
      "filler must not fabricate duplicated 40-grams")
    val s1 = 61L; val e1 = 150L           // first copy: chars 61..150
    val s2 = (60 + 90 + 55 + 1).toLong    // second copy starts at 206
    val e2 = s2 + 89
    val spans = SuffixDedup.suffixSpans(Seq((9L, doc)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set((s1, e1), (s2, e2)), spans.toString)
  }
}
