package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Fnv1a32, GraftFunctions, PolyHash, TextPrimitives, Vectors}

/** The codegen expressions must be bit-identical to their portable SQL
  * spellings (that's what makes the DuckDB oracle valid for queries that
  * use them) — pinned here over random inputs, plus known-answer tests
  * for FNV-1a against the published test vectors. */
class ExpressionsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("PolyHash == builtin aggregate spelling on random strings") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(1)
    val strs = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(50)).mkString) :+ "" :+ "a"
    val df = strs.toDF("s").selectExpr(
      "poly_hash(s) AS fast",
      TextPrimitives.rollingHashSparkBuiltin("s") + " AS ref")
    assert(df.filter($"fast" =!= $"ref").count() == 0)
  }

  test("PolyHash object == expression eval") {
    assert(PolyHash.hash("hello") == 418513571L) // pinned by the DuckDB probe
  }

  test("CosineSimilarity == builtin composition on random float vectors") {
    val rnd = new scala.util.Random(2)
    val vecs = Seq.fill(100)(
      (Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b").select(
      Vectors.cosine($"a", $"b").as("fast"),
      Vectors.cosineBuiltin($"a", $"b").as("ref"))
    // bit-identical, not just close: same fold order by construction
    assert(df.filter($"fast" =!= $"ref").count() == 0)
  }

  test("NfcNormalize composes decomposed sequences; codegen == JDK Normalizer reference") {
    // decomposed (base + combining mark) pairs and their precomposed
    // NFC forms; normalization stability makes these pins permanent
    val cases = Seq(
      "é" -> "é", "Å" -> "Å",
      "ñ" -> "ñ", "ö" -> "ö",
      "Å" -> "Å",             // ANGSTROM SIGN -> Å
      "plain ascii" -> "plain ascii",   // NFC is identity on ASCII
      "" -> "")
    val df = cases.toDF("raw", "want")
      .select($"raw", $"want", graft.functions.NfcNormalize($"raw").as("got"))
    assert(df.filter($"got" =!= $"want").count() == 0)
    // length drop visible to downstream operators (the t8 signal)
    GraftFunctions.register(spark)
    val d = Seq("éé").toDF("s")
      .selectExpr("char_length(s) AS a", "char_length(" +
        "nfc_normalize(s)) AS b")
    assert(d.as[(Int, Int)].collect().head == ((4, 2)))
  }

  test("t8's injected layer is genuinely decomposed (normalization changes every row)") {
    // guards the injection itself: if any tool ever NFC-normalizes the
    // source (or an encoding slip mangles the marks), t8 would inject
    // already-composed text and the oracle would pass VACUOUSLY — this
    // pins n_composed = 1 + doc_id % 3 > 0 for every row
    val bad = graft.queries.TextQueries.t8Normalize(spark, "/root/testdata/sf0.001")
      .filter(expr("n_composed <> 1 + doc_id % 3")).count()
    assert(bad == 0)
  }

  test("Fnv1a32 matches published FNV-1a 32-bit test vectors") {
    val got = Seq("", "a", "foobar").toDF("s")
      .select(Fnv1a32($"s").as("h")).as[Long].collect().toSeq
    assert(got == Seq(2166136261L, 3826002220L, 3214735720L))
  }

  test("SimHash30 majority-bit semantics") {
    GraftFunctions.register(spark)
    // features: two of three share bits {0,2}; majority keeps exactly those
    val got = Seq(Seq(5L, 5L, 2L)).toDF("ids")
      .selectExpr("simhash30(ids) AS s").as[Long].head()
    assert(got == 5L)
    // empty array -> no majorities -> 0
    val empty = Seq(Seq.empty[Long]).toDF("ids")
      .selectExpr("simhash30(ids) AS s").as[Long].head()
    assert(empty == 0L)
  }

  test("ShingleHashes == array_distinct(transform(shingles, poly_hash)) on real docs") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    val diff = spark.sql(s"""
      WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
      both AS (SELECT doc_id, shingle_hashes(w) AS fast,
        array_distinct(transform(${TextPrimitives.shinglesSpark("w")},
          g -> poly_hash(g))) AS ref
        FROM toks WHERE size(w) >= 3)
      SELECT count(*) FROM both WHERE fast != ref""").head().getLong(0)
    assert(diff == 0)
  }

  test("RepetitionStats == builtin mode/distinct-bigram spellings on real docs + edges") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    // the builtin ref spelling is O(n²) per doc (count each distinct
    // word by rescanning) — fine at sf0.001, and exactly why the fused
    // kernel exists for the real path
    val diff = spark.sql("""
      WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
      both AS (SELECT doc_id, repeat_stats(w) AS fast,
        array(
          CAST(array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x)))) AS BIGINT),
          CAST(size(array_distinct(transform(sequence(0, size(w) - 2),
            i -> concat(w[i], ' ', w[i + 1])))) AS BIGINT)) AS ref
        FROM toks WHERE size(w) >= 2)
      SELECT count(*) FROM both WHERE fast != ref""").head().getLong(0)
    assert(diff == 0)
    // edges: empty token array and a single token have no bigrams
    val edges = Seq(Seq.empty[String], Seq("a"), Seq("a", "a", "b"))
      .toDF("w").selectExpr("repeat_stats(w) AS rs").as[Seq[Long]].collect().toSeq
    assert(edges == Seq(Seq(0L, 0L), Seq(1L, 0L), Seq(2L, 2L)))
  }

  test("RepetitionStats == independent Scala counts on random small-alphabet docs (ScalaCheck)") {
    GraftFunctions.register(spark)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small alphabet + repetition-heavy lengths so collisions and runs
    // actually occur; the reference is a from-scratch Scala count, not
    // the kernel's own logic
    val gen = Gen.listOf(Gen.oneOf("a", "b", "c", "ab", "", "x"))
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(60)
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
    val res = SCTest.check(params, Prop.forAll(gen) { words =>
      val expTop = if (words.isEmpty) 0L
        else words.groupBy(identity).values.map(_.size).max.toLong
      val expBg = words.sliding(2).filter(_.size == 2)
        .map(p => p.head + " " + p(1)).toSet.size.toLong
      val got = Seq(words).toDF("w")
        .selectExpr("repeat_stats(w) AS rs").as[Seq[Long]].head()
      got == Seq(expTop, expBg)
    })
    assert(res.passed, res.status.toString)
  }

  test("MinHash16 == per-permutation array_min spelling") {
    GraftFunctions.register(spark)
    val perms = TextPrimitives.minhashAB.zipWithIndex.map { case ((a, b), k) =>
      s"array_min(transform(ids, x -> ($a*x + $b) % ${TextPrimitives.P}))"
    }.mkString("array(", ", ", ")")
    val rnd = new scala.util.Random(4)
    val rows = Seq.fill(50)(Seq.fill(rnd.nextInt(30) + 1)(rnd.nextLong().abs % 1000000007L))
    rows.toDF("ids").createOrReplaceTempView("mh_probe")
    val diff = spark.sql(
      s"SELECT count(*) FROM mh_probe WHERE minhash16(ids) != $perms").head().getLong(0)
    assert(diff == 0)
    // empty input -> null, matching array_min's null on empty arrays
    val nullRow = spark.sql(
      "SELECT minhash16(CAST(array() AS ARRAY<BIGINT>)) IS NULL").head().getBoolean(0)
    assert(nullRow)
  }

  test("LshBucket8 == builtin aggregate spelling on real embeddings") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val diff = e.select(
      graft.functions.LshBucket8($"embedding").as("fast"),
      expr(graft.queries.AnnQueries.bucketSpark("embedding")).as("ref"))
      .filter($"fast" =!= $"ref").count()
    assert(diff == 0)
  }

  test("LshBandSigs == independent Scala spelling of the LCG formula") {
    val (bands, bits) =
      (graft.queries.AnnQueries.s3Bands, graft.queries.AnnQueries.s3Bits)
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val got = e.select($"vec_id",
      graft.functions.LshBandSigs($"embedding", bands, bits).as("sigs"),
      $"embedding").as[(Long, Seq[Long], Seq[Float])].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, sigs, emb) =>
      val ref = (0 until bands).map { g =>
        (0 until bits).foldLeft(0L) { (sig, j) =>
          val p = g * bits + j
          var s = 0.0
          var k = 0
          while (k < emb.length) {
            val u1 = (1103515245L * (p * 64 + k) + 12345L) % 2147483648L
            val u2 = u1 ^ (u1 >> 16)
            val u3 = (1103515245L * u2 + 12345L) % 2147483648L
            s += (u3.toDouble / 2147483648.0 - 0.5) * emb(k).toDouble
            k += 1
          }
          if (s > 0.0) sig | (1L << j) else sig
        }
      }
      assert(sigs == ref)
    }
  }

  test("DeletionNbhHashes == builtin xxhash64-over-distinct-variants on real prefixes + edges") {
    import graft.queries.TextQueries
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    // t11's superseded builtin spelling, verbatim, as the reference arm;
    // array_sort because the kernel emits ascending hashes
    def refSql(rel: String) = s"""
      WITH pre AS (SELECT p, ${TextQueries.deletions1("p")} AS d1 FROM $rel),
      vs AS (SELECT p, array_distinct(concat(array(p), d1,
        flatten(transform(d1, v -> ${TextQueries.deletions1("v")})))) AS vars FROM pre)
      SELECT count(*) FROM (
        SELECT array_sort(array_distinct(transform(vars, v -> xxhash64(v)))) AS ref,
               deletion_nbh_hashes(p) AS fast
        FROM vs) WHERE ref != fast"""
    graft.functions.GraftFunctions.register(spark)
    spark.sql("SELECT substring(text, 1, 16) AS p FROM documents")
      .createOrReplaceTempView("dnh_real")
    assert(spark.sql(refSql("dnh_real")).head().getLong(0) == 0,
      "kernel diverges from the builtin spelling on real 16-char prefixes")
    // crafted edges: empty, single char, all-equal chars (maximal variant
    // collapse), multibyte code points (é = 2 bytes, 文 = 3, 🌍 = 4 —
    // deletion must drop WHOLE code points), and a mixed-width string
    import spark.implicits._
    Seq("", "a", "aaaa", "ab", "héllo", "日本語テキスト", "a🌍b文c", "ababab")
      .toDF("p").createOrReplaceTempView("dnh_edges")
    assert(spark.sql(refSql("dnh_edges")).head().getLong(0) == 0,
      "kernel diverges from the builtin spelling on crafted unicode edges")
  }

  test("s3 banded-LSH pair mining: recall floor vs l4 exact pairs is ASSERTED") {
    // sf0.01 is the oracle scale where l4's exact answer has its full
    // pair set; the banding math (see AnnQueries.s3Bands) predicts
    // ≈0.97 recall at the 0.45 threshold, so a 0.85 floor has headroom
    // but still catches any regression to flat-bucket recall (~0.07).
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.LlmQueries.l4NearDupPairs(spark, dir)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    val approx = graft.queries.AnnQueries.s3LshNearDupPairs(spark, dir)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // s3's candidates are verified with the same exact cosine threshold,
    // so it can never report a pair l4 doesn't have (no false positives)
    assert(approx.subsetOf(exact))
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"s3 pair recall = ${(exact & approx).size}/${exact.size} = $recall%.2f")
    assert(recall >= 0.85, s"s3 recall $recall below floor 0.85")
  }

  test("s5 production-threshold LSH: planted twins found exactly, candidate rate < 1%") {
    val dir = "/root/testdata/sf0.01"
    // the query's own answer: exactly the 50 planted (v, v+1000000) twins
    val got = graft.queries.AnnQueries.s5LshNearDupProd(spark, dir)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    val expected = (0L until 500L by 10).map(v => (v, v + 1000000L)).toSet
    assert(got == expected,
      s"s5 must find the planted twins exactly; missing=${expected -- got} extra=${got -- expected}")
    // measure the candidate rate the s5 scaladoc claims (<1%): rebuild
    // the banded keys at the s5 knobs and count distinct candidate pairs
    import graft.queries.AnnQueries.{s5Bands, s5Bits}
    val raw = graft.core.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = graft.queries.AnnQueries.plantTwins(raw)
    val n = corpus.count()
    val keys = corpus
      .select(col("vec_id"), posexplode(
        graft.functions.LshBandSigs(col("embedding"), s5Bands, s5Bits)).as(Seq("band", "sig")))
      .select(col("vec_id"), (col("band").cast("long") * (1L << s5Bits) + col("sig")).as("bkey"))
    val cands = keys.as("a").join(keys.as("b"), "bkey")
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
    val rate = cands.toDouble / (n.toDouble * (n - 1) / 2)
    info(f"s5 candidate rate = $cands/${n * (n - 1) / 2} = $rate%.4f")
    assert(rate < 0.01, s"s5 candidate rate $rate breaches the <1%% claim")
  }

  test("KmvDistinct: merge-invariant across partitionings, accurate, exact below k") {
    import graft.functions.KmvDistinct
    val hashed = spark.range(100000L)
      .selectExpr("id % 10 AS g",
        graft.queries.FunctionQueries.kmvHashSpark("(id % 7919)") + " AS h")
    def run(parts: Int): Seq[(Long, Long)] =
      hashed.repartition(parts)
        .groupBy("g").agg(KmvDistinct($"h", 64).as("est"))
        .orderBy("g").as[(Long, Long)].collect().toSeq
    val est1 = run(1)
    // partial+final merge must be partitioning-invariant (the sketch's
    // mergeability is what makes it distributed)
    assert(est1 == run(32))
    // true distinct per group is 7919 (ids cover 0..7918 per group);
    // KMV stderr at k=64 is ~1/sqrt(63) ≈ 12.6%, assert within 4 sigma
    est1.foreach { case (_, est) =>
      assert(math.abs(est - 7919.0) / 7919.0 < 0.5, s"estimate $est vs 7919")
    }
    // below k: exact
    val small = spark.range(40L)
      .selectExpr("0 AS g",
        graft.queries.FunctionQueries.kmvHashSpark("id") + " AS h")
      .groupBy("g").agg(KmvDistinct($"h", 64).as("est"))
      .as[(Int, Long)].collect()
    assert(small.head._2 == 40L)
  }

  test("KmvDistinct.values: sketch is the k smallest distinct hashes, merge-invariant") {
    import graft.functions.KmvDistinct
    val hashed = spark.range(100000L)
      .selectExpr(graft.queries.FunctionQueries.kmvHashSpark("(id % 7919)") + " AS h")
    def run(parts: Int): Seq[Long] =
      hashed.repartition(parts)
        .agg(KmvDistinct.values($"h", 64).as("sk"))
        .as[Seq[Long]].head()
    val sk = run(1)
    assert(sk == run(32), "sketch values not partitioning-invariant")
    // exactly the 64 smallest distinct hashes, ascending
    val expected = hashed.selectExpr("h").distinct()
      .orderBy("h").limit(64).as[Long].collect().toSeq
    assert(sk == expected)
    // below k: the full distinct hash set
    val small = spark.range(40L)
      .selectExpr(graft.queries.FunctionQueries.kmvHashSpark("id") + " AS h")
      .agg(KmvDistinct.values($"h", 64).as("sk")).as[Seq[Long]].head()
    assert(small.length == 40 && small == small.sorted)
  }

  test("x71 intersection estimate lands within KMV error of the exact overlap") {
    // the estimator's real regime: both sketches saturated, genuinely
    // partial overlap. Exact |A∩B| from the same predicates; the
    // sketch estimate must land within ~4 sigma of ρ-estimation error
    // (k=64 ⇒ ~12.6% per sketch; 0.5 is a conservative composite).
    val dir = "/root/testdata/sf0.01"
    val est = graft.queries.FunctionQueries.x71SketchIntersect(spark, dir)
      .select("est_intersect").as[Long].head()
    val ev = graft.core.Tables.load(spark, dir, "events")
    val a = ev.filter($"event_type" === "click" && $"value" > 99)
      .select("user_id").distinct()
    val b = ev.filter($"event_type" === "purchase" && $"value" > 99)
      .select("user_id").distinct()
    val exact = a.join(b, "user_id").count()
    assert(exact > 64, s"overlap $exact too small to exercise the saturated regime")
    assert(math.abs(est - exact.toDouble) / exact < 0.5, s"est $est vs exact $exact")
  }

  test("BpeApplyCount kernel equals the layered greedy-fold chain on real corpus data") {
    // the fold chain IS l22's semantics (and the shape the DuckDB twin
    // restates); the fused kernel must reproduce it row-for-row. Run
    // both over sf0.001 with the merges l19 actually learns there.
    val dir = "/root/testdata/sf0.001"
    val merges = graft.queries.LlmQueries.l19BpeTrain(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val kernel = docs.select($"doc_id",
      graft.functions.BpeApplyCount($"text", merges).as("n"))
    val cols = merges.indices.flatMap(i => Seq(s"m${i}l", s"m${i}r"))
    val m = Seq(Tuple1(0)).toDF("z").select(
      merges.flatMap { case (l, r) => Seq(l, r) }.zip(cols)
        .map { case (v, c) => lit(v).as(c) }: _*)
    var chain = docs.crossJoin(broadcast(m))
      .selectExpr(Seq("doc_id",
        """transform(filter(split(text, ' '), w -> w <> ''),
                     wd -> concat_ws(' ', split(wd, ''))) AS c0""") ++ cols: _*)
    for (i <- merges.indices)
      chain = chain.selectExpr(Seq("doc_id",
        s"transform(c$i, wd -> ${graft.queries.LlmQueries.bpeApplyLayer("wd", s"m${i}l", s"m${i}r")}) AS c${i + 1}")
        ++ cols: _*)
    val spec = chain.selectExpr("doc_id",
      s"""CAST(aggregate(c${merges.length}, CAST(0 AS BIGINT),
           (a, wd) -> a + size(split(wd, ' '))) AS BIGINT) AS n""")
    val bad = kernel.as("k").join(spec.as("s"), "doc_id")
      .filter($"k.n" =!= $"s.n").limit(5).collect()
    assert(bad.isEmpty, bad.mkString(", "))
    // crafted edges the corpus may not hit: overlap runs + chained
    // multi-char merges + multi-byte code points
    val crafted = Seq("aaa bab ab", "merge merge", "éa aé", "x")
    crafted.foreach { t =>
      val viaKernel = graft.functions.BpeApplyCount.count(t,
        Array(("a", "a"), ("aa", "a"), ("m", "e")))
      val explicit = t.split(" ").filter(_.nonEmpty).map { wd =>
        var syms = wd.map(_.toString).toList
        for ((l, r) <- Seq(("a", "a"), ("aa", "a"), ("m", "e"))) {
          val out = scala.collection.mutable.ListBuffer[String]()
          syms.foreach { s =>
            if (out.nonEmpty && out.last == l && s == r)
              out(out.length - 1) = l + r
            else out += s
          }
          syms = out.toList
        }
        syms.length
      }.sum
      assert(viaKernel == explicit, s"'$t': kernel $viaKernel != reference $explicit")
    }
  }

  test("KmvDistinct: relative error bounded across random cardinalities (ScalaCheck)") {
    import graft.functions.KmvDistinct
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // A sketch that is deterministic but DRIFTING would pass the
    // merge-invariance test above; this pins the accuracy claim itself:
    // KMV's relative standard error is ~1/sqrt(k-2) (Beyer et al., the
    // unbiased (k-1)/h_k estimator), so |est - n|/n must stay within
    // 3.5 sigma across random cardinalities. Fixed seed + a fixed hash
    // family make every trial reproducible — a pass is a proof, not a
    // lucky draw.
    val gen = for {
      n <- Gen.choose(2000, 150000)
      k <- Gen.oneOf(64, 128, 256)
    } yield (n, k)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(7L))
    val res = SCTest.check(params, Prop.forAll(gen) { case (n, k) =>
      // ids 0..n-1 are distinct and the affine hash is injective mod P,
      // so the true cardinality is exactly n
      val est = spark.range(n.toLong)
        .selectExpr(graft.queries.FunctionQueries.kmvHashSpark("id") + " AS h")
        .agg(KmvDistinct($"h", k).as("est"))
        .as[Long].head()
      val relErr = math.abs(est - n.toDouble) / n
      val bound = 3.5 / math.sqrt(k - 2.0)
      if (relErr > bound) info(f"KMV outlier: n=$n k=$k est=$est relErr=$relErr%.4f > $bound%.4f")
      relErr <= bound
    })
    assert(res.passed, res.status.toString)
  }

  test("BloomSketch: no false negatives ever, FP rate near theory, merge-invariant") {
    import graft.functions.{BloomAgg, BloomMaybe, BloomSketch}
    val n = 40000
    val members = spark.range(n.toLong).selectExpr(s"(id * 2654435761) % 1000000007 AS h")
    // the filter travels as array<long> (round 18: zero-copy probe —
    // a binary column was memcpy'd out of the joined row per probe)
    def filterAt(parts: Int): Array[Long] =
      members.repartition(parts).agg(BloomAgg($"h").as("bf")).as[Array[Long]].head()
    val bf1 = filterAt(1)
    val bf32 = filterAt(32)
    // OR-merge is partitioning-invariant
    assert(java.util.Arrays.equals(bf1, bf32))
    // every member answers maybe=true — false negatives are impossible
    val fn = members.select(BloomMaybe(typedLit(bf1), $"h").as("m")).where(!$"m").count()
    assert(fn == 0, s"$fn false negatives — bloom broken")
    // non-members: FP rate within 3x of (1-e^(-2n/m))^2
    val probes = spark.range(20000L).selectExpr(
      "1000000007 - 1 - ((id * 2654435761) % 1000000007) AS h")
    val fp = probes.select(BloomMaybe(typedLit(bf1), $"h").as("m")).where($"m").count()
    val theory = math.pow(1 - math.exp(-2.0 * n / BloomSketch.MBits), 2)
    val rate = fp / 20000.0
    info(f"bloom FP rate $rate%.4f (theory $theory%.4f) at n=$n m=${BloomSketch.MBits}")
    assert(rate <= theory * 3 + 0.001, f"FP rate $rate%.4f vs theory $theory%.4f")
  }

  test("s8 radius search: subset of the exact answer, measured recall above floor") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val got = graft.queries.AnnQueries.s8RangeSearch(spark, dir)
      .as[(Long, Double)].collect().toMap
    // exact radius set via the same 9dp-rounded cosine, no prefilter
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val exact = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id",
        round(graft.functions.Vectors.cosine($"embedding", $"q_emb"), 9).as("sim"))
      .where($"sim" >= 0.3)
      .as[(Long, Double)].collect().toMap
    assert(exact.nonEmpty, "exact radius set empty — threshold no longer cuts this corpus")
    // no false positives, sims bit-identical on the recovered subset
    got.foreach { case (id, sim) =>
      assert(exact.get(id).contains(sim), s"s8 returned ($id, $sim) not in exact set") }
    val recall = got.size.toDouble / exact.size
    info(f"s8 radius recall at tau=0.3 (adversarial regime): ${got.size}/${exact.size} = $recall%.2f")
    assert(recall >= 0.25, f"radius recall $recall%.2f fell below the documented floor")
  }

  test("GramHashes == builtin transform(slice) spelling, positional, short-array empty") {
    GraftFunctions.register(spark)
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("split(text, ' ') AS w").where("size(w) >= 5")
    val df = docs.selectExpr(
      "gram_hashes(w, 5) AS fast",
      "transform(sequence(1, size(w) - 4), i -> poly_hash(concat_ws(' ', slice(w, i, 5)))) AS ref")
    assert(df.count() > 0)
    assert(df.filter($"fast" =!= $"ref").count() == 0)
    // positional: array index is span start (unlike shingle_hashes'
    // distinct set); short arrays yield empty, width 1 = per-token hash
    val edge = Seq(Seq("a", "b"), Seq[String](), Seq("x", "y", "z")).toDF("w")
      .selectExpr("size(gram_hashes(w, 5)) AS n5",
        "gram_hashes(w, 1) AS g1", "transform(w, t -> poly_hash(t)) AS ref1")
    assert(edge.filter($"n5" =!= 0).count() == 0)
    assert(edge.filter($"g1" =!= $"ref1").count() == 0)
  }

  test("SpanCut == builtin filter(NOT exists interval) spelling; overlap-merge and edge masks") {
    GraftFunctions.register(spark)
    // real corpus: mask every doc's d11 spans (or an arbitrary synthetic
    // mask where none exist) and compare against the interpreted spelling
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("split(text, ' ') AS w",
        // synthetic but deterministic starts: every 7th token position
        "array_sort(array_distinct(filter(sequence(0L, CAST(size(w) AS LONG) - 1), x -> x % 7 = 0))) AS s")
    val df = docs.selectExpr(
      "span_cut(w, s, 5) AS fast",
      """array_join(filter(w, (t, i) ->
           NOT exists(s, x -> i >= x AND i <= x + 4)), ' ') AS ref""")
    assert(df.count() > 0)
    assert(df.filter($"fast" =!= $"ref").count() == 0)
    // edges: empty mask = identity join; single span; overlapping
    // spans merge; full-cover mask yields the empty string
    val edge = Seq(
      (Seq("a", "b", "c", "d", "e", "f", "g"), Seq.empty[Long]),
      (Seq("a", "b", "c", "d", "e", "f", "g"), Seq(0L)),
      (Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j"), Seq(0L, 2L)),
      (Seq("a", "b", "c", "d", "e", "f", "g"), Seq(0L, 1L, 2L))
    ).toDF("w", "s")
      .selectExpr("span_cut(w, s, 5) AS got")
      .collect().map(_.getString(0)).toSeq
    assert(edge(0) == "a b c d e f g")
    assert(edge(1) == "f g")     // [0,4] masks a-e
    assert(edge(2) == "h i j")   // [0,4] U [2,6] merge to 0-6
    assert(edge(3) == "")        // [0,4] U [1,5] U [2,6] covers all 7
  }

  test("MisraGries: candidate set is a superset of true heavy keys, partitioning-invariant") {
    import graft.functions.MisraGries
    // planted zipf head: 70% of the stream on 5 hot keys, the tail
    // spread over 997 cold keys — the x45 shape at unit-test scale
    val keyed = spark.range(100000L).selectExpr(
      "CASE WHEN id % 10 < 7 THEN id % 5 ELSE 5 + id % 997 END AS k")
    def candidates(parts: Int): Set[Long] =
      keyed.repartition(parts).agg(MisraGries($"k", 64).as("ks"))
        .as[Seq[Long]].head().toSet
    val c1 = candidates(1)
    val c32 = candidates(32)
    // MG guarantee: every key with freq > n/(k+1) survives any
    // merge order — so both partitionings must contain the hot head
    val truth = keyed.groupBy("k").count()
      .where($"count" > 100000L / 65).as[(Long, Long)].collect().map(_._1).toSet
    assert(truth.nonEmpty && truth.subsetOf(c1), s"missing heavy keys: ${truth -- c1}")
    assert(truth.subsetOf(c32), s"missing heavy keys at 32 parts: ${truth -- c32}")
    // capacity bound holds
    assert(c1.size <= 64 && c32.size <= 64)
  }

  test("MisraGries: superset guarantee across random streams (ScalaCheck)") {
    import graft.functions.MisraGries
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Random stream sizes, hot-key fractions and sketch capacities:
    // the 1982 bound (every key with freq > n/(k+1) is retained) plus
    // the 2012 merge rule must hold for ANY partitioning, not just the
    // two spot-checked above. Fixed seed: a pass is a proof.
    val gen = for {
      n     <- Gen.choose(5000, 40000)
      k     <- Gen.oneOf(16, 32, 64)
      hotPc <- Gen.choose(3, 8) // hot keys get hotPc/10 of the stream
      parts <- Gen.oneOf(1, 7, 32)
    } yield (n, k, hotPc, parts)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
    val res = SCTest.check(params, Prop.forAll(gen) { case (n, k, hotPc, parts) =>
      val keyed = spark.range(n.toLong).selectExpr(
        s"CASE WHEN id % 10 < $hotPc THEN id % 3 ELSE 3 + id % 499 END AS k")
      val cand = keyed.repartition(parts)
        .agg(MisraGries($"k", k).as("ks")).as[Seq[Long]].head().toSet
      val truth = keyed.groupBy("k").count()
        .where($"count" > n.toLong / (k + 1)).as[(Long, Long)].collect().map(_._1).toSet
      val ok = truth.subsetOf(cand) && cand.size <= k
      if (!ok) info(s"MG violation: n=$n k=$k hotPc=$hotPc parts=$parts missing=${truth -- cand}")
      ok
    })
    assert(res.passed, res.status.toString)
  }

  test("x45 heavy hitters == exact GROUP BY HAVING at sf0.001") {
    val got = graft.queries.FunctionQueries
      .x45HeavyHitters(spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect().toSeq
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    ev.createOrReplaceTempView("hh_events")
    val want = spark.sql("""
      SELECT k, COUNT(*) AS cnt
      FROM (SELECT CASE WHEN event_id % 10 < 7 THEN event_id % 5
                        ELSE user_id + 1000 END AS k FROM hh_events)
      GROUP BY k
      HAVING COUNT(*) * 20 > (SELECT COUNT(*) FROM hh_events)
      ORDER BY k""").as[(Long, Long)].collect().toSeq
    assert(want.nonEmpty, "oracle found no heavy hitters — planted head broken")
    assert(got == want)
  }

  test("L2SquaredDistance == builtin aggregate(zip_with(...)) spelling") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(100)(
      (Array.fill(64)(rnd.nextDouble() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("c", "x").select(
      graft.functions.L2SquaredDistance($"c", $"x").as("fast"),
      aggregate(zip_with($"c", $"x".cast("array<double>"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v).as("ref"))
    assert(df.filter($"fast" =!= $"ref").count() == 0)
    // a null ELEMENT nulls the distance, like the builtin's NULL propagation
    val gotNull = Seq((Seq[java.lang.Double](1.0, null), Seq(1.0f, 2.0f))).toDF("c", "x")
      .select(graft.functions.L2SquaredDistance($"c", $"x").as("l2"))
      .head().isNullAt(0)
    assert(gotNull)
  }

  test("Int8QuantStats == builtin higher-order spelling on real embeddings + edges") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .createOrReplaceTempView("embeddings")
    // the portable spelling: four interpreted traversals with the SAME
    // floor-based round-half-away arithmetic in the same op order
    val diff = spark.sql("""
      WITH p AS (SELECT vec_id, int8_quant_stats(embedding) AS q,
          array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
          embedding FROM embeddings),
      r AS (SELECT vec_id, q, scale,
          transform(embedding, x -> CAST(
            CASE WHEN scale = 0D THEN 0
                 WHEN x < 0 THEN -floor(abs(CAST(x AS DOUBLE)) / scale * 127 + 0.5)
                 ELSE floor(abs(CAST(x AS DOUBLE)) / scale * 127 + 0.5) END
            AS BIGINT)) AS ql
        FROM p)
      SELECT count(*) FROM r
      WHERE q.scale != scale
         OR q.q_sum != aggregate(ql, CAST(0 AS BIGINT), (a, v) -> a + v)
         OR q.q_min != array_min(ql)
         OR q.q_max != array_max(ql)
         OR q.n_sat != CAST(size(filter(ql, v -> abs(v) >= 127)) AS BIGINT)""")
      .head().getLong(0)
    assert(diff == 0)
    // edges: empty vector, all-zero vector, single element, saturation
    // at the max element on both signs
    import org.apache.spark.sql.Row
    val edges = Seq(
      Seq.empty[Float], Seq(0f, 0f), Seq(-2.5f), Seq(1f, -1f, 0.5f))
      .toDF("embedding")
      .select(graft.functions.Int8QuantStats($"embedding").as("q"))
      .select("q.scale", "q.q_sum", "q.q_min", "q.q_max", "q.n_sat")
      .collect().toSeq
    assert(edges(0) == Row(0.0, 0L, 0L, 0L, 0L))
    assert(edges(1) == Row(0.0, 0L, 0L, 0L, 0L))
    assert(edges(2) == Row(2.5, -127L, -127L, -127L, 1L))
    // scale 1.0: q = [127, -127, 64 (floor(63.5+0.5))]
    assert(edges(3) == Row(1.0, 64L, -127L, 127L, 2L))
  }

  test("BpeTokenCount == size(regexp_extract_all(...)) on real documents + edges") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    val diff = spark.sql(s"""
      SELECT count(*) FROM (
        SELECT bpe_token_count(text) AS fast,
          size(regexp_extract_all(text, '${TextPrimitives.bpeTokenPatternSpark}', 0)) AS ref
        FROM documents) WHERE fast != ref""").head().getLong(0)
    assert(diff == 0)
    // edge cases: mixed runs, punctuation, unicode, empty
    val edges = Seq("abc123, x!", "", "  \t\n", "a1b2", "héllo wörld", "日本語 text")
    edges.foreach { s =>
      val ref = java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
        .matcher(s).results().count().toInt
      assert(graft.functions.BpeTokenCount.count(s) == ref, s"on '$s'")
    }
  }

  // independent SubwordCount reference: UTF-16 String walk, vocab tried
  // longest-first (the kernel walks UTF-8 bytes with packed-int sets).
  // ONE definition shared by the corpus test and the ScalaCheck
  // property so the reference rule cannot drift between them.
  private def subwordRef(s: String): Long = {
    val vocab = TextPrimitives.subwordVocab.sortBy(-_.length)
    var i = 0; var n = 0L
    while (i < s.length) {
      if (s.charAt(i) == ' ') i += 1
      else vocab.find(v => s.regionMatches(i, v, 0, v.length)) match {
        case Some(v) => n += 1; i += v.length
        case None    => n += 1; i += Character.charCount(s.codePointAt(i))
      }
    }
    n
  }

  test("SubwordCount == independent greedy reference on real documents + edges") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    import spark.implicits._
    spark.sql("SELECT lower(text) AS t, subword_count(lower(text)) AS n FROM documents")
      .as[(String, Long)].collect().foreach { case (t, n) =>
        assert(n == subwordRef(t), s"on '${t.take(60)}...'")
      }
    // edges: empty, spaces only, OOV run, greedy longest ('the' beats
    // 'th'), multi-piece word, space separation, multi-byte OOV
    val cases = Seq(
      "" -> 0L, "   " -> 0L, "zzzz" -> 4L, "the" -> 1L, "theth" -> 2L,
      "nation" -> 3L, // n + ati + on
      "the the" -> 2L,
      "héllo" -> 5L, // h + é + l + l + o: no piece crosses the OOV é
      "日本語" -> 3L)
    cases.foreach { case (s, expected) =>
      val got = graft.functions.SubwordCount.count(s)
      assert(got == expected, s"on '$s'")
      assert(got == subwordRef(s), s"kernel != reference on '$s'")
    }
  }

  test("SubwordCount property: kernel == UTF-16 reference on adversarial random strings") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // fragments biased toward the hard cases: vocab pieces (whole and
    // truncated), piece CONCATENATIONS (greedy boundaries), spaces,
    // multi-byte code points (2/3/4-byte UTF-8), and raw ASCII noise
    val piece = Gen.oneOf(TextPrimitives.subwordVocab)
    val frag = Gen.frequency(
      4 -> piece,
      2 -> (for { p <- piece; q <- piece } yield p + q),
      2 -> piece.map(_.dropRight(1)),
      3 -> Gen.stringOfN(3, Gen.alphaLowerChar),
      2 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "ß", "日", "𝕏", "а"), // incl. a 4-byte surrogate pair
      1 -> Gen.stringOfN(2, Gen.asciiPrintableChar.map(c => if (c == ' ') 'x' else c)))
    val text = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params,
      Prop.forAll(text)(s => graft.functions.SubwordCount.count(s) == subwordRef(s)))
    assert(res.passed, res.status.toString)
  }

  test("CharTrigrams == builtin transform(sequence, substring(lower)) spelling") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    val diff = spark.sql("""
      SELECT count(*) FROM (
        SELECT char_trigrams(text) AS fast,
          transform(sequence(1, char_length(text) - 2),
            i -> substring(lower(text), i, 3)) AS ref
        FROM documents WHERE char_length(text) >= 3) WHERE fast != ref""")
      .head().getLong(0)
    assert(diff == 0)
    // below 3 chars -> empty array (sequence() would error on 1 > n-2)
    val short = spark.sql("SELECT size(char_trigrams('ab'))").head().getInt(0)
    assert(short == 0)
  }

  test("StopHits == builtin size(filter(...)) spelling on real documents") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    val set = TextPrimitives.stopwords("en")
    val diff = spark.sql(s"""
      SELECT count(*) FROM (
        SELECT ${TextPrimitives.stopHitsSpark("split(text, ' ')", set)} AS fast,
               ${TextPrimitives.stopHitsSparkBuiltin("split(text, ' ')", set)} AS ref
        FROM documents) WHERE fast != ref""").head().getLong(0)
    assert(diff == 0)
  }

  test("StrideSampleTokens == filter(transform(split(...))) spelling on real docs + edges") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    def refExpr(col: String, stride: Int): String =
      s"""concat_ws(' ', filter(transform(split($col, ' '),
         (t, i) -> named_struct('t', t, 'i', i)), s -> s.i % $stride = 0).t)"""
    // null-safe comparison: a plain != evaluates to NULL (not true)
    // when one side is NULL, silently excluding such rows from the count
    val diff = spark.sql(s"""
      SELECT count(*) FROM (
        SELECT stride_sample(text, 8) AS fast, ${refExpr("text", 8)} AS ref
        FROM documents) WHERE NOT (fast <=> ref)""").head().getLong(0)
    assert(diff == 0)
    // NULL input -> NULL output (standard scalar-function propagation,
    // and what the DuckDB oracle's array_to_string(NULL, ...) returns) —
    // a DELIBERATE divergence from the replaced builtin spelling, whose
    // concat_ws could never return NULL
    assert(spark.sql(
      "SELECT stride_sample(CAST(NULL AS STRING), 8) IS NULL").head().getBoolean(0))
    // edges: empty string, consecutive/leading/trailing spaces (empty
    // tokens count toward the stride index), multi-byte UTF-8, stride 1
    val edges = Seq("", " ", "a", "a b c d e f g h i j",
      "a  b   c ", " leading", "héllo wörld 日本語 x y z a b c d e")
    edges.zipWithIndex.foreach { case (s, k) =>
      Seq(1, 2, 8).foreach { st =>
        val row = Seq(s).toDF("t")
          .selectExpr(s"stride_sample(t, $st) AS fast", refExpr("t", st) + " AS ref")
          .head()
        assert(row.getString(0) == row.getString(1), s"edge $k '$s' stride $st")
      }
    }
  }

  test("SQL registration: kmv_distinct and lsh_band_sigs callable from spark.sql") {
    GraftFunctions.register(spark)
    val est = spark.sql(
      "SELECT kmv_distinct((48271 * id + 11) % 1000000007, 64) FROM range(40)")
      .head().getLong(0)
    assert(est == 40L)
    val nsigs = spark.sql(
      "SELECT size(lsh_band_sigs(CAST(array(1.0, -2.0) AS ARRAY<FLOAT>), 8, 4, 2))")
      .head().getInt(0)
    assert(nsigs == 8)
  }

  test("LshBandSigs refuses a shape it cannot represent") {
    import graft.functions.LshBandSigs
    val emb = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq(1.0f, -2.0f), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    // bits = 65 used to fold plane 64 onto bit 0 (Java masks 1L << 64);
    // a negative band count only failed at run time; the last shape
    // needs 2^32 weights
    Seq((4, 65, 2), (4, 0, 2), (0, 4, 2), (-1, 4, 2), (4, 4, 0), (1 << 20, 64, 64))
      .foreach { case (bands, bits, dims) =>
        intercept[IllegalArgumentException](LshBandSigs(emb, bands, bits, dims))
      }
    assert(LshBandSigs(emb, 1, 64, 2).dataType != null)
    GraftFunctions.register(spark)
    val e = intercept[Throwable](spark.sql(
      "SELECT lsh_band_sigs(CAST(array(1.0, -2.0) AS ARRAY<FLOAT>), 4, 65, 2)").collect())
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e)
  }

  test("integer literal arguments: a BIGINT outside the Int range is refused, not truncated") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT kmv_distinct(id, 64L) FROM range(40)").head().getLong(0) == 40L)
    // 4294967298 = 2^32 + 2 used to run as k = 2
    val e = intercept[Throwable](
      spark.sql("SELECT kmv_distinct(id, 4294967298) FROM range(40)").collect())
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        String.valueOf(c.getMessage).contains("integer literal")), e)
  }

  test("s2 ANN recall: LSH bucket top-5 ⊆ corpus, exact top-5 overlap measured") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.queries.LlmQueries.l3CosineTopk(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val approx = graft.queries.AnnQueries.s2AnnLsh(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.size == 5)
    // 8 hyperplanes at 64-dim: same-bucket recall of true top-5 is
    // data-dependent; require the approximate answer to find at least
    // one true neighbor and log the overlap for the record.
    info(s"s2 recall@5 = ${(exact & approx).size}/5")
    assert((exact & approx).nonEmpty)
    val ivf = graft.queries.AnnQueries.s4AnnIvf(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    info(s"s4 recall@5 = ${(exact & ivf).size}/5")
    assert(ivf.size == 5)
  }

  test("VectorSumAgg == posexplode spelling on real embeddings; ragged input fails loudly") {
    import graft.functions.VectorSumAgg
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e.createOrReplaceTempView("emb")
    val fast = e.groupBy(col("label"))
      .agg(VectorSumAgg(col("embedding")).as("cs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    // builtin restatement: posexplode + grouped integer sums with the
    // same micro-unit half-away-from-zero quantization (SQL round)
    val ref = spark.sql("""
      SELECT label, pos, CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS s,
             COUNT(*) AS c
      FROM (SELECT label, posexplode(embedding) AS (pos, x) FROM emb)
      GROUP BY label, pos""").collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        val d = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
        val n = rows.head.getLong(3)
        l -> (n +: (0 until d.size).map(d)).toSeq
      }
    assert(fast.keySet == ref.keySet)
    fast.foreach { case (l, got) =>
      assert(got == ref(l), s"label $l: $got vs ${ref(l)}")
    }
    // ragged corpora are a data bug — the aggregate must fail, not
    // silently average vectors of different lengths
    import spark.implicits._
    val ragged = Seq((1, Seq(1.0f, 2.0f)), (1, Seq(1.0f))).toDF("label", "embedding")
      .select(col("label"), col("embedding").cast("array<float>").as("embedding"))
    val err = intercept[Exception] {
      ragged.groupBy("label").agg(VectorSumAgg(col("embedding"))).collect()
    }
    assert(err.getMessage != null)
  }

  test("CharStats == builtin explode/count spelling on real docs + unicode edges") {
    GraftFunctions.register(spark)
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    // builtin restatement: split to characters, count per char, derive
    // the same four integers (split('') yields code-point strings)
    val diff = spark.sql("""
      WITH cc AS (SELECT doc_id, c, COUNT(*) AS k
                  FROM (SELECT doc_id, explode(split(text, '')) AS c FROM documents)
                  GROUP BY doc_id, c),
      ref AS (SELECT doc_id, array(CAST(SUM(k) AS BIGINT), COUNT(*),
                                   CAST(MAX(k) AS BIGINT), CAST(SUM(k * k) AS BIGINT)) AS r
              FROM cc GROUP BY doc_id),
      fast AS (SELECT doc_id, char_stats(text) AS f FROM documents)
      SELECT count(*) FROM ref JOIN fast USING (doc_id) WHERE r != f""").head().getLong(0)
    assert(diff == 0)
    // edges: empty string; a supplementary code point (two UTF-16
    // units, ONE code point — the unit the kernel must count); repeats
    val edges = Seq("", "😀a😀", "aaab")
      .toDF("t").selectExpr("char_stats(t) AS cs").as[Seq[Long]].collect().toSeq
    assert(edges == Seq(
      Seq(0L, 0L, 0L, 0L),        // empty: no code points
      Seq(3L, 2L, 2L, 5L),        // 😀 a 😀 → n=3, distinct=2, top=2, 4+1
      Seq(4L, 2L, 3L, 10L)))      // aaab → 9+1
  }

  /** Round 18: the NearestCellLabel / NearestCells kernels must match
    * the struct-ordering composition they replaced — including the
    * lexicographic (distance, label) tie-break, NaN ordering, and the
    * all-NULL-distance fallback a null embedding element produces
    * (L2SquaredDistance propagates NULL, and ascending struct order
    * puts (NULL, label) first, so the smallest labels win). */
  test("nearest-cell kernels match the array_min/array_sort struct spelling") {
    import org.apache.spark.sql.Column
    import graft.functions.{L2SquaredDistance, NearestCellLabel, NearestCells}
    val rnd = new scala.util.Random(4242)
    val dims = 8
    val cent: Seq[(Long, Seq[Double])] = (0L until 10L).map { cl =>
      (cl, Seq.fill(dims)(rnd.nextDouble() * 2 - 1))
    }
    // duplicate centroid under two labels -> forces a distance tie
    val centTie = cent.updated(7, (7L, cent(3)._2))
    val rows: Seq[Seq[java.lang.Float]] = Seq.fill(40)(
      Seq.fill(dims)(java.lang.Float.valueOf(rnd.nextFloat() * 2 - 1))) ++ Seq(
      cent(3)._2.map(d => java.lang.Float.valueOf(d.toFloat)),   // near-exact tie hit
      Seq.fill(dims)(java.lang.Float.valueOf(Float.NaN)),        // NaN distances
      (Seq(null: java.lang.Float) ++ Seq.fill(dims - 1)(java.lang.Float.valueOf(0.5f))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v) }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("emb",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true)))))
    def structs(cs: Seq[(Long, Seq[Double])]): Seq[Column] = cs.map { case (cl, ct) =>
      struct(L2SquaredDistance(typedLit(ct), col("emb")).as("d"), lit(cl).as("c"))
    }
    Seq(cent, centTie).foreach { cs =>
      val got = df.select(col("id"), NearestCellLabel(col("emb"), cs).as("l"),
          NearestCells(col("emb"), cs, 5).as("ls"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Long](2)))).toMap
      val ref2 = df.select(col("id"),
          array_min(array(structs(cs): _*)).getField("c").as("l"),
          slice(array_sort(array(structs(cs): _*)), 1, 5).as("ls"))
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(1))))).toMap
      assert(got.keySet == ref2.keySet)
      got.foreach { case (id, (l, ls)) =>
        assert(l == ref2(id)._1, s"argmin mismatch at row $id (cents=${cs == centTie})")
        assert(ls == ref2(id)._2, s"top-5 mismatch at row $id (cents=${cs == centTie})")
      }
    }
  }
}
