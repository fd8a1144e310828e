package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, L2SquaredDistance, LshBucket8, NearestCellLabel, NearestCells}

/** Every graft kernel returns the same rows interpreted and
  * codegen-only. Spark's default `spark.sql.codegen.fallback=true` runs
  * the interpreted path whenever generated code fails to compile, which
  * would hide a broken static call in a kernel's `doGenCode`; the
  * codegen arm therefore turns fallback off and forbids interpreted
  * projections. Inputs cover null inputs, empty arrays, null array
  * elements, non-ASCII and 4-byte code points; shape mismatches must
  * throw in both arms. */
class KernelParitySpec extends AnyFunSuite with SparkSuite {

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val codegenOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  private def fl(xs: java.lang.Float*): Seq[java.lang.Float] = xs
  private def dbl(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s", StringType),
    StructField("w", ArrayType(StringType, containsNull = false)),
    StructField("ids", ArrayType(LongType, containsNull = false)),
    StructField("starts", ArrayType(LongType, containsNull = false)),
    StructField("v", ArrayType(FloatType, containsNull = false)),
    StructField("vn", ArrayType(FloatType, containsNull = true)),
    StructField("c", ArrayType(DoubleType, containsNull = true))))

  // id, text, tokens, ids, span starts, 4-dim vector, 4-dim vector with
  // null elements, 4-dim double centroid with null elements
  private val rows: Seq[Row] = Seq(
    Row(0L, null, null, null, null, null, null, null),
    Row(1L, "", Seq.empty[String], Seq.empty[Long], Seq.empty[Long],
      fl(0f, 0f, 0f, 0f), fl(0f, 0f, 0f, 0f), dbl(0.0, 0.0, 0.0, 0.0)),
    Row(2L, "The cat sat on the mat, and the dog sat too.",
      Seq("the", "cat", "sat", "on", "the", "mat", "and", "the", "dog", "sat", "too"),
      Seq(1L, 2L, 3L, -5L, 1L << 40, 2L), Seq(0L, 3L, 4L),
      fl(0.5f, -1.25f, 3f, 0f), fl(0.5f, -1.25f, 3f, 0f), dbl(0.25, -1.0, 2.5, 0.125)),
    Row(3L, "Café naïve école über straße ÀÉÎ",
      Seq("café", "naïve", "école", "über", "straße", "über", "straße"),
      Seq(Long.MaxValue, Long.MinValue, 0L, 0L), Seq(1L),
      fl(-0.75f, 2.5f, -3.125f, 1e-3f), fl(-0.75f, 2.5f, -3.125f, 1e-3f), dbl(1.0, 2.0, 3.0, 4.0)),
    Row(4L, "😀 𝄞 emoji 😀😀 a\tb  c 𝄞x",
      Seq("😀", "𝄞", "😀", "a", "😀", "𝄞"),
      Seq(7L, 7L, 7L), Seq(0L, 1L, 2L, 3L, 4L, 5L),
      fl(1e30f, -1e-30f, Float.NaN, 7f), fl(1f, 1f, 1f, 1f), dbl(1.0, 1.0, 1.0, 1.0)),
    Row(5L, "aaaa bbbb aaaa bbbb aaaa the of a",
      Seq("a", "a", "b", "a", "b", "a"),
      Seq(-1L), Seq(2L),
      fl(-1f, -1f, -1f, -1f), fl(null, 1f, 2f, 3f), dbl(0.0, null, 1.0, 2.0)),
    Row(6L, "x", Seq("x"), Seq(0L), Seq.empty[Long],
      fl(127f, -127f, 0.5f, -0.5f), fl(0.5f, null, null, 0.5f), dbl(null, null, null, null)))

  private def base: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val cents: Seq[(Long, Seq[Double])] = Seq(
    1L -> Seq(0.0, 0.0, 0.0, 0.0), 3L -> Seq(1.0, 1.0, 1.0, 1.0),
    4L -> Seq(0.5, -1.25, 3.0, 0.0), 8L -> Seq(1.0, 1.0, 1.0, 1.0), // ties label 3
    9L -> Seq(-1.0, 2.0, -3.0, 0.5))

  private def proj(e: String): DataFrame => DataFrame =
    _.selectExpr("id", s"$e AS k")
  private def projCol(c: Column): DataFrame => DataFrame =
    _.select(col("id"), c.as("k"))
  private def agg(e: String): DataFrame => DataFrame =
    _.selectExpr("id % 2 AS g", "explode(ids) AS x").groupBy("g").agg(expr(e).as("k"))

  /** One case per name [[GraftFunctions.register]] adds. */
  private val sqlCases: Map[String, DataFrame => DataFrame] = Map(
    "poly_hash" -> proj("poly_hash(s)"),
    "simhash30" -> proj("simhash30(ids)"),
    "fnv1a32" -> proj("fnv1a32(s)"),
    "shingle_hashes" -> proj("shingle_hashes(w)"),
    "minhash16" -> proj("minhash16(ids)"),
    "cosine_similarity" -> proj("cosine_similarity(v, v)"),
    "lsh_band_sigs" -> proj("lsh_band_sigs(v, 3, 5, 4)"),
    "kmv_distinct" -> agg("kmv_distinct(x, 2)"),
    "misra_gries" -> agg("misra_gries(x, 2)"),
    "gram_hashes" -> proj("gram_hashes(w, 2)"),
    "span_cut" -> proj("span_cut(w, starts, 2)"),
    "bloom_agg" -> agg("bloom_agg(x)"),
    "bloom_maybe" -> { df =>
      val words = df.selectExpr("explode(ids) AS x").selectExpr("bloom_agg(x) AS words")
      df.selectExpr("id", "explode(array(0L, 1L, 2L, 3L, 7L, -1L, 99L)) AS x")
        .crossJoin(words).selectExpr("id", "x", "bloom_maybe(words, x) AS k")
    },
    "stride_sample" -> proj("stride_sample(s, 2)"),
    "deletion_nbh_hashes" -> proj("deletion_nbh_hashes(s)"),
    "bpe_token_count" -> proj("bpe_token_count(s)"),
    "subword_count" -> proj("subword_count(lower(s))"),
    "char_trigrams" -> proj("char_trigrams(s)"),
    "repeat_stats" -> proj("repeat_stats(w)"),
    "char_stats" -> proj("char_stats(s)"),
    "nfc_normalize" -> proj("nfc_normalize(s)"),
    "int8_quant_stats" -> proj("int8_quant_stats(v)"),
    "stop_hits" -> proj("stop_hits(w, 'the a of über')"))

  /** Kernels reachable only through their Column builders. */
  private val columnCases: Map[String, DataFrame => DataFrame] = Map(
    "NearestCellLabel" -> projCol(NearestCellLabel(col("vn"), cents)),
    "NearestCells" -> projCol(NearestCells(col("vn"), cents, 3)),
    "NearestCells(n > cells)" -> projCol(NearestCells(col("vn"), cents, 9)),
    "L2SquaredDistance" -> projCol(L2SquaredDistance(col("c"), col("vn"))),
    "LshBucket8" -> projCol(LshBucket8(col("v"))))

  private def run(confs: Seq[(String, String)], f: DataFrame => DataFrame): Seq[String] =
    withConfs(confs: _*)(f(base).collect().map(_.toString).toSeq.sorted)

  test("every name GraftFunctions.register adds has a parity case") {
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    val reg = fresh.sessionState.functionRegistry
    val registered = reg.listFunction()
      .filter(id => reg.lookupFunction(id).exists(_.getSource == "scala_udf"))
      .map(_.funcName).toSet
    assert(registered.size >= 20, s"registry read looks wrong: $registered")
    assert(registered -- sqlCases.keySet == Set.empty, "registered without a parity case")
    assert(sqlCases.keySet -- registered == Set.empty, "parity case for an unregistered name")
  }

  (sqlCases ++ columnCases).toSeq.sortBy(_._1).foreach { case (name, f) =>
    test(s"$name: interpreted rows == codegen-only rows (fallback off)") {
      val slow = run(interpreted, f)
      val fast = run(codegenOnly, f)
      assert(slow.nonEmpty)
      assert(fast == slow)
    }
  }

  test("projection kernels compile to a static companion call in the generated code") {
    withConfs(codegenOnly: _*) {
      val code = org.apache.spark.sql.execution.debug.codegenString(
        base.select(expr("simhash30(ids)"), expr("lsh_band_sigs(v, 3, 5, 4)"),
          expr("stop_hits(w, 'the')"), NearestCells(col("vn"), cents, 3))
          .queryExecution.executedPlan)
      Seq("SimHash30.fingerprint(", "LshBandSigs.signatures(", "StopHits.hits(",
        "NearestCells.cells(").foreach(c => assert(code.contains(s"graft.functions.$c"), c))
      assert(!code.contains(".nullSafeEval("), "a kernel calls back into its expression")
    }
  }

  private def mismatch: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(Row(0L, fl(1f, 2f, 3f, 4f), fl(1f, 2f, 3f), dbl(1.0, 2.0, 3.0)))),
    StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType)),
      StructField("v3", ArrayType(FloatType)),
      StructField("c3", ArrayType(DoubleType)))))

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  Seq[(String, DataFrame => DataFrame, String)](
    ("cosine_similarity", proj("cosine_similarity(v, v3)"), "length mismatch"),
    ("L2SquaredDistance", projCol(L2SquaredDistance(col("c3"), col("v"))), "length mismatch"),
    ("lsh_band_sigs", proj("lsh_band_sigs(v3, 2, 4, 4)"), "embedding has 3 dims"),
    ("NearestCellLabel", projCol(NearestCellLabel(col("v3"), cents)), "embedding has 3 dims"),
    ("NearestCells", projCol(NearestCells(col("v3"), cents, 2)), "embedding has 3 dims")
  ).foreach { case (name, f, msg) =>
    test(s"$name: a length/dims mismatch throws in both modes") {
      Seq(interpreted, codegenOnly).foreach { confs =>
        val e = intercept[Throwable](withConfs(confs: _*)(f(mismatch).collect()))
        assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
          String.valueOf(c.getMessage).contains(msg)), s"$confs: $e")
      }
    }
  }
}
