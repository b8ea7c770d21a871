package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ext.{Dedup, Similarity}
import graft.warehouse.Warehouse

/** Generator-driven invariants. ScalaCheck supplies the data (fixed seeds →
  * reproducible runs); each property evaluates as ONE Spark job over a
  * generated batch rather than a job per case.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate((Seed(seed), Option.empty[A])) { case (s, _) =>
      val (v, next) = g.pureApply(Gen.Parameters.default, s) -> s.next
      (next, Some(v))
    }.drop(1).take(n).flatMap(_._2).toSeq

  private val wordGen = Gen.oneOf("a", "bb", "ccc", "the", "fox", "x1", "")
  private val textGen = Gen.chooseNum(0, 9)
    .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("CDC chunking: chunks reassemble the text; an insertion moves only window-local cuts") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val alphabet = "abcdefg hij"
    val cases = (0 until 40).map { i =>
      val len = 50 + rnd.nextInt(400)
      val text = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val p = 8 + rnd.nextInt(len - 16)
      (i.toLong, text, p)
    }
    val df = cases.toDF("doc_id", "text", "p")
      .withColumn("mut", expr("concat(substring(text, 1, p), 'Z', substring(text, p + 1))"))
    val out = graft.ext.Dedup.withCdcChunks(
      graft.ext.Dedup.withCdcChunks(df, "text", "ca"), "mut", "cb")
      .select(col("doc_id"), col("text"), col("mut"), col("p"), col("ca"), col("cb"))
      .collect()
    assert(out.length === cases.length)
    out.foreach { r =>
      val (text, mut, p) = (r.getString(1), r.getString(2), r.getInt(3))
      val ca = r.getSeq[String](4)
      val cb = r.getSeq[String](5)
      // chunks PARTITION the text: non-empty, ordered, lossless
      assert(ca.mkString("") === text, "chunks must reassemble the original")
      assert(cb.mkString("") === mut, "chunks must reassemble the mutant")
      assert(ca.forall(_.nonEmpty) && cb.forall(_.nonEmpty))
      // the locality THEOREM of window-W rolling-hash cuts, exactly:
      // cuts at positions ≤ p see only unchanged chars — identical;
      // cuts ≥ p+W+1 in the mutant see only shifted chars — they are the
      // original's cuts ≥ p+W moved by exactly the one inserted byte;
      // only the W-wide window straddling the edit may change at all
      def interiorCuts(ch: Seq[String]) =
        ch.scanLeft(0)(_ + _.length).drop(1).dropRight(1)
      val co = interiorCuts(ca)
      val cm = interiorCuts(cb)
      assert(co.filter(_ <= p) === cm.filter(_ <= p),
        s"cuts at or before the insertion must be untouched (p=$p)")
      assert(co.filter(_ >= p + 8).map(_ + 1) === cm.filter(_ >= p + 9),
        s"cuts a full window past the insertion must shift by exactly 1 (p=$p)")
    }
  }

  test("CDC chunking on non-ASCII text cuts where the code-point polynomial says") {
    // 2-, 3- and 4-byte UTF-8 characters (the emoji is two UTF-16 units)
    // among ASCII: the cuts are positions in CODE POINTS
    val alphabet = Vector("a", "b", " ", "é", "ß", "ж", "中", "😀")
    val rnd = new scala.util.Random(977)
    val texts = (0 until 30).map(_ =>
      Seq.fill(20 + rnd.nextInt(200))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val p31 = Seq.iterate(1L, 8)(_ * 31)
    def cutsOf(codes: Array[Long]): Seq[Int] =
      (8 to codes.length).filter(i =>
        (0 until 8).map(j => codes(i - 1 - j) * p31(j)).sum % 32 == 0)
        .filter(_ < codes.length)
    def codePoints(t: String): Array[Long] = t.codePoints().toArray.map(_.toLong)
    val out = Dedup.withCdcChunks(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "text", "ch").orderBy("doc_id").select("ch").as[Seq[String]].collect()
    texts.zip(out).foreach { case (text, ch) =>
      assert(ch.mkString === text)
      val cuts = ch.map(c => c.codePointCount(0, c.length)).scanLeft(0)(_ + _)
        .drop(1).dropRight(1)
      assert(cuts === cutsOf(codePoints(text)), text)
    }
    // the case is not ASCII in disguise: hashing first UTF-8 bytes instead
    // of code points would cut elsewhere
    assert(texts.exists(t => cutsOf(t.codePoints().toArray.map(cp =>
      new String(Character.toChars(cp)).getBytes("UTF-8")(0).toLong)) !=
      cutsOf(codePoints(t))))
    // and Spark's `ascii`, which the replaced HOF chain read, returns the
    // code point of the first character, not its first byte
    val asciis = alphabet.toDF("c").select(ascii(col("c")).cast("long"))
      .as[Long].collect().toSeq
    assert(asciis === alphabet.map(c => c.codePointAt(0).toLong))
  }

  test("shingles UDF matches the naive sliding-window spec on generated texts") {
    def spec(text: String): Seq[String] = {
      val words = text.split(" ", -1)
      if (words.length < 3) Seq.empty
      else words.sliding(3).map(_.mkString(" ")).toSeq.distinct
    }
    val texts = sample(textGen, 300, seed = 7L)
    val out = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(out(i.toLong) === spec(t), s"text '$t'")
    }
  }

  test("merge converges to the same table for any batch split and order") {
    val rowGen = for {
      k <- Gen.chooseNum(1L, 8L)
      ver <- Gen.chooseNum(1, 50)
      v <- Gen.alphaLowerStr.map(_.take(4))
    } yield (k, v, ver)
    (0 until 6).foreach { trial =>
      val rows = sample(rowGen, 30, seed = 100L + trial)
      // ties on (k, ver) across batches resolve by arrival (update wins),
      // so make (k, ver) unique to give the property a well-defined answer
      val uniq = rows.groupBy(r => (r._1, r._3)).map(_._2.head).toSeq
      val df = uniq.toDF("k", "v", "ver")
      val empty = df.limit(0)
      val allAtOnce = Warehouse.merge(empty, df, Seq("k"), Seq("ver"))
        .orderBy("k").collect()
      val nSplits = 1 + trial % 3
      val batches = uniq.grouped(math.max(1, uniq.size / (nSplits + 1))).toSeq
      val sequential = batches.foldLeft(empty) { (acc, b) =>
        Warehouse.merge(acc, b.toDF("k", "v", "ver"), Seq("k"), Seq("ver"))
      }.orderBy("k").collect()
      assert(sequential === allAtOnce, s"trial $trial diverged")
    }
  }

  test("scd2Apply matches a sequential per-key model on random update streams") {
    import java.sql.Date
    val attrGen = Gen.oneOf("A", "B", "C", "D")
    val months = Seq("2024-02-01", "2024-04-01", "2024-06-01", "2024-08-01").map(Date.valueOf)
    (0 until 4).foreach { trial =>
      // per batch: a random subset of keys 1..10, one update row per key
      val batches = months.zipWithIndex.map { case (eff, b) =>
        val keys = sample(Gen.someOf(1L to 10L), 1, seed = 500L + 10 * trial + b).head.toSeq
        val attrs = sample(attrGen, keys.size max 1, seed = 900L + 10 * trial + b)
        eff -> keys.zip(attrs)
      }
      val empty = Seq.empty[(Long, String, Date, Date, Boolean)]
        .toDF("k", "attr", "valid_from", "valid_to", "is_current")
      val result = batches.foldLeft(empty) { case (acc, (eff, rows)) =>
        if (rows.isEmpty) acc
        else Warehouse.scd2Apply(acc,
          rows.toDF("k", "attr").withColumn("effective_from", lit(eff)),
          "k", Seq("attr"))
      }.collect().map(r => (r.getLong(0), r.getString(1), r.getDate(2),
        Option(r.getDate(3)), r.getBoolean(4))).toSet
      // model: per key, the chain of DISTINCT consecutive attrs with their
      // effective dates; each row closes at the next change
      val chains = scala.collection.mutable.Map.empty[Long, List[(String, Date)]]
      batches.foreach { case (eff, rows) =>
        rows.foreach { case (k, a) =>
          val cur = chains.getOrElse(k, Nil)
          if (cur.headOption.forall(_._1 != a)) chains(k) = (a, eff) :: cur
        }
      }
      val expected = chains.flatMap { case (k, revChain) =>
        val chain = revChain.reverse
        chain.zipWithIndex.map { case ((a, from), i) =>
          val to = chain.lift(i + 1).map(_._2)
          (k, a, from, to, to.isEmpty)
        }
      }.toSet
      assert(result === expected, s"trial $trial")
    }
  }

  test("quantization reconstruction error is bounded by scale/2 on real data") {
    val out = Similarity.embedQuantize(spark, "/root/testdata/sf0.001")
      .select(col("scale"), col("max_abs_err"))
      .as[(Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (scale, err) =>
      // floor(x/scale + 0.5) rounds to the nearest grid point: error ≤
      // scale/2 (+ tiny slack for the division round-trip)
      assert(err <= scale / 2 + 1e-12, s"err $err vs scale $scale")
    }
  }

  test("BPE pair counts equal a naive per-word scan on generated corpora") {
    val texts = sample(textGen, 200, seed = 23L)
    // naive spec: word-frequency table, then every adjacent char pair of
    // each unique word weighted by its corpus count
    val words = texts.flatMap(_.split(" ", -1)).filter(_.matches("[a-z0-9]+"))
    val wc = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val spec = wc.toSeq.filter(_._1.length >= 2).flatMap { case (w, c) =>
      w.sliding(2).map(_ -> c)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got === spec)
  }

  test("BPE apply fold equals a sequential reference applier on random merges") {
    // reference: the textbook single-scan greedy merge, one pass per
    // merge in order (a fused token never re-merges with what follows)
    def ref(word: String, merges: Seq[(String, String)]): List[String] =
      merges.foldLeft(word.map(_.toString).toList) { case (toks, (a, b)) =>
        toks.foldLeft(List.empty[String]) { (acc, t) =>
          if (acc.nonEmpty && acc.last == a && t == b) acc.init :+ (a + b)
          else acc :+ t
        }
      }
    val alpha = Seq("a", "b", "c")
    val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha)).map(_.mkString))
    val mergeGen = Gen.listOfN(5,
      Gen.zip(Gen.oneOf(alpha), Gen.oneOf(alpha))) // includes (x,x) runs
    for (seed <- Seq(7L, 19L)) {
      val words = sample(wordGen, 120, seed).distinct
      val merges = sample(mergeGen, 1, seed + 1).head
      val init = words.toDF("w").withColumn("toks", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      val got = graft.ext.TextAnalysis.bpeFoldToks(init, merges)
        .select(col("w"), concat_ws(" ", col("toks")).as("t"))
        .as[(String, String)].collect().toMap
      words.foreach { w =>
        assert(got(w) === ref(w, merges).mkString(" "),
          s"word=$w merges=$merges")
      }
    }
  }

  test("surrogate keys: any random batch sequence yields a dense stable bijection") {
    val batchesGen = Gen.listOfN(4, Gen.listOfN(6, Gen.chooseNum(1L, 30L)))
    val batches = sample(batchesGen, 5, seed = 41L)
    batches.foreach { bs =>
      var table = Seq.empty[(Long, Long)].toDF("nk", "sk")
      val snapshots = bs.map { b =>
        table = Warehouse.assignSurrogateKeys(table, b.toDF("nk"), "nk")
        table.as[(Long, Long)].collect().toMap
      }
      val fin = snapshots.last
      // dense bijection onto 1..N
      assert(fin.values.toSeq.sorted === (1L to fin.size.toLong).toList)
      // every intermediate assignment survives unchanged to the end
      snapshots.foreach(snap => snap.foreach { case (nk, sk) =>
        assert(fin(nk) === sk, s"key $nk moved from $sk to ${fin(nk)}")
      })
    }
  }

  test("anomaly verdicts are invariant under event order and partitioning") {
    val evGen = for {
      u <- Gen.chooseNum(1L, 5L); d <- Gen.chooseNum(0L, 6L)
    } yield (u, d)
    val ev = sample(evGen, 400, seed = 59L)
    def flags(rows: Seq[(Long, Long)], parts: Int): Map[(Long, Long), Boolean] = {
      val daily = rows.toDF("user_id", "day").repartition(parts)
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("x"))
      val stats = daily.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
      daily.join(stats, "user_id")
        .select(col("user_id"), col("day"),
          ((col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s")) >
            lit(9L) * (col("n") * col("q") - col("s") * col("s"))).as("f"))
        .as[(Long, Long, Boolean)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    }
    val base = flags(ev, 1)
    assert(flags(scala.util.Random.javaRandomToRandom(
      new java.util.Random(3)).shuffle(ev), 7) === base)
  }

  test("versionChanges ≡ the full-snapshot diff on random mutation histories") {
    // the manifest-aware step diff (and, bucketed, the zipped kernel) must
    // agree with an INDEPENDENT full-two-snapshot recompute for every
    // adjacent version pair of an arbitrary op sequence — rewrites, COW
    // updates/deletes, MOR position + equality deletes, epoch appends
    import graft.lake.{BucketLayout, CopyOnWrite, Lake, MergeOnRead}
    import org.apache.spark.sql.functions.{col, concat, lit, when}

    def fullDiffReference(root: String, name: String, a: Int, b: Int)
        : Set[(Long, String, String)] = {
      val o = Lake.readTableFeed(spark, root, name, Some(a))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val n = Lake.readTableFeed(spark, root, name, Some(b))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val keys = o.keySet ++ n.keySet
      keys.flatMap { k =>
        (o.get(k), n.get(k)) match {
          case (None, Some(v)) => Some((k, v, "inserted"))
          case (Some(v), None) => Some((k, v, "deleted"))
          case (Some(x), Some(y)) if x != y => Some((k, y, "updated"))
          case _ => None
        }
      }
    }

    def run(seed: Int, bucketed: Boolean): Unit = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_vc_prop_$seed").toString
      val name = "t"
      if (bucketed)
        Lake.setTableProperties(spark, root, name, Map(BucketLayout.Prop -> "k:4"))
      val rng = new scala.util.Random(seed)
      var epoch = 0L // appendEpoch ids must be monotone per sink
      def df(rows: Seq[(Long, String)]) = rows.toDF("k", "x")
      var model = (1L to 120L).map(i => i -> s"v$i").toMap
      Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, name,
        df(model.toSeq)), root, name, retentionVersions = 100)
      (1 to 7).foreach { _ =>
        rng.nextInt(5) match {
          case 0 => // full rewrite: drop a random slice, touch another
            val lo = rng.nextInt(100).toLong
            model = model.filter(_._1 != lo) ++
              model.keys.filter(_ % 17 == 0).map(k => k -> s"rw$k")
            Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, name,
              df(model.toSeq)), root, name, retentionVersions = 100)
          case 1 => // COW update of one key
            val k = model.keys.toSeq(rng.nextInt(model.size))
            model = model.updated(k, s"up$k")
            CopyOnWrite.updateWhere(spark, root, name,
              col("k") === k, Seq("x" -> concat(lit("up"), lit(k))),
              retentionVersions = 100)
          case 2 => // MOR position delete
            val k = model.keys.toSeq(rng.nextInt(model.size))
            model = model - k
            MergeOnRead.deleteWhere(spark, root, name, col("k") === k,
              retentionVersions = 100)
          case 3 => // equality delete of up to 3 keys
            val ks = rng.shuffle(model.keys.toSeq).take(1 + rng.nextInt(3))
            model = model -- ks
            MergeOnRead.deleteByKeys(spark, root, name, ks.toDF("k"),
              retentionVersions = 100)
          case 4 => // epoch append of fresh keys
            val base = 1000L + rng.nextInt(10000)
            val fresh = (base to base + 4).filterNot(model.contains)
              .map(i => i -> s"new$i")
            if (fresh.nonEmpty) {
              model = model ++ fresh
              epoch += 1
              CopyOnWrite.appendEpoch(df(fresh), root, name,
                "p", epoch, retentionVersions = 100)
            }
        }
      }
      val vs = Lake.versions(spark, root, name)
      vs.sliding(2).foreach { case Seq(a, b) =>
        val actual = Lake.versionChanges(spark, root, name, a, b, Seq("k"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        val expected = fullDiffReference(root, name, a, b)
        assert(actual === expected,
          s"seed=$seed bucketed=$bucketed step v$a->v$b diverged:\n" +
            s"  only-actual: ${(actual -- expected).take(5)}\n" +
            s"  only-expected: ${(expected -- actual).take(5)}")
      case _ => ()
      }
      // the cumulative feed composes the same steps
      val total = Lake.tableChanges(spark, root, name, vs.head, Seq("k")).count()
      val perStep = vs.sliding(2).map { case Seq(a, b) =>
        fullDiffReference(root, name, a, b).size
      case _ => 0 }.sum
      assert(total === perStep)

      // predicate-scoped compaction on the accumulated mess must be
      // CONTENT-INVARIANT (it may never change a row) and CDF-INVISIBLE
      // (the manifest-aware step diff across it is EMPTY — rewritten rows
      // are physically moved but logically unchanged, so they drop out)
      val lo = rng.nextInt(100).toLong
      val vPre = Lake.latestVersion(spark, root, name).get
      val vPost = CopyOnWrite.compactWhere(spark, root, name,
        col("k") >= lo, retentionVersions = 100)
      val content = Lake.readTableFeed(spark, root, name, Some(vPost))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(content === model,
        s"seed=$seed bucketed=$bucketed compactWhere changed table content")
      if (vPost != vPre)
        assert(Lake.versionChanges(
            spark, root, name, vPre, vPost, Seq("k")).count() === 0,
          s"seed=$seed bucketed=$bucketed compactWhere must be CDF-invisible")
    }

    Seq(11, 23).foreach(run(_, bucketed = false))
    run(37, bucketed = true)
  }

  test("zorderKey string form: exact 6-byte prefix, collapse past it, monotone") {
    import graft.lake.Lake
    def keys(vals: Seq[String]): Seq[Long] = {
      val df = vals.toDF("t")
      val k = Lake.zorderKey(df, Seq("t")).get
      // preserve input order so monotonicity is checkable positionally
      df.withColumn("i", monotonically_increasing_id())
        .select(col("i"), k.as("z")).orderBy("i")
        .collect().map(_.getLong(1)).toSeq
    }
    // differ in byte 6 ONLY (lowest-order represented byte): must be
    // distinct — the 48-bit form is exact in double's 53-bit mantissa
    val in6 = keys(Seq("aaaaa0zzz", "aaaaa1zzz"))
    assert(in6.distinct.size === 2, s"byte-6 difference must survive: $in6")
    assert(in6(0) < in6(1), s"byte-6 keys must be ordered: $in6")
    // differ ONLY past byte 6: documented collapse (sharpness-only cost)
    val past6 = keys(Seq("aaaaaa0", "aaaaaa1", "aaaaaaZZZZ"))
    assert(past6.distinct.size === 1, s"post-prefix bytes must collapse: $past6")
    // monotone across mixed lengths and prefix relations
    val sorted = Seq("", "a", "aa", "ab", "b", "ba0", "zz")
    val ks = keys(sorted)
    assert(ks === ks.sorted, s"string keys must be monotone: $ks")
  }
}
