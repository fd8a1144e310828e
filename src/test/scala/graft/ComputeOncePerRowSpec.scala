package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ComputeOncePerRow

/** [[ComputeOncePerRow]] over a small parquet table: each costly
  * expression a Filter shares with its consumer runs once per row, the
  * rows equal those of a plan without the rule, and the scan reads the
  * same columns. */
class ComputeOncePerRowSpec extends AnyFunSuite with SparkSuite {

  private lazy val docs: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("compute_once").resolve("docs").toString
    Seq((1L, "the cat sat on the mat the end", "en", "wide"),
      (2L, "a a a a a a", "en", "wide"),
      (3L, null, "de", "wide"),
      (4L, "  ", "fr", "wide"),
      (5L, "one", "en", "wide"),
      (6L, "Zürich ist eine Stadt ist", "de", "wide"))
      .toDF("doc_id", "text", "lang", "extra")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.parquet(dir)
    dir
  }

  private def query(sql: String): DataFrame = {
    spark.read.parquet(docs).createOrReplaceTempView("cse_docs")
    spark.sql(sql)
  }

  /** `body` on a session whose optimizer lacks the rule. */
  private def withoutRule[T](body: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before.filterNot(_ == ComputeOncePerRow)
    try body finally spark.experimental.extraOptimizations = before
  }

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def count(p: SparkPlan, name: String): Int =
    CostlyCalls.all(p).count(_.prettyName == name)

  private def generates(p: SparkPlan): Int =
    CostlyCalls.operators(p).count(_._1.isInstanceOf[GenerateExec])

  private def readSchemas(p: SparkPlan): Seq[String] = CostlyCalls.operators(p).collect {
    case (s: FileSourceScanExec, _) => s.metadata("ReadSchema")
  }

  private val t9Shaped = """
    SELECT doc_id, n_cp, n_distinct_cp, keep_doc FROM (
      SELECT doc_id, cs[0] AS n_cp, cs[1] AS n_distinct_cp, cs[1] >= 3 AS keep_doc
      FROM (SELECT doc_id, char_stats(text) AS cs FROM cse_docs))
    WHERE n_cp > 0"""

  // t2's CTE with repeat_stats standing in for stop_hits: split once in
  // the pushed-down Filter and four times in the Project
  private val t2Shaped = """
    WITH scored AS (SELECT doc_id, n_tokens,
        round(0.5 * rs / n_tokens + 0.3 * least(1.0, n_tokens / 100.0)
              + 0.2 * (1.0 - punct / CAST(n_chars AS DOUBLE)), 6) AS score
      FROM (SELECT doc_id, n_chars,
              CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
              CAST(repeat_stats(split(text, ' '))[0] AS DOUBLE) AS rs,
              CAST(char_length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS DOUBLE) AS punct
            FROM cse_docs)
      WHERE n_tokens > 0)
    SELECT doc_id, n_tokens, score FROM scored"""

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  test("t9- and t2-shaped plain SQL evaluate each kernel once, with the rows of the plain plan") {
    for ((sql, kernel) <- Seq(t9Shaped -> "charstats", t2Shaped -> "split")) {
      val (plainPlan, plainRows) = withoutRule { val df = query(sql); (plan(df), rows(df)) }
      val df = query(sql)
      val p = plan(df)
      assert(count(plainPlan, kernel) > 1, s"$kernel is not repeated without the rule:\n$plainPlan")
      val calls = CostlyCalls.all(p)
      assert(calls.nonEmpty && calls.forall(x => calls.count(_.semanticEquals(x)) == 1), p.toString)
      assert(CostlyCalls.repeated(p).isEmpty, p.toString)
      assert(rows(df) == plainRows)
      assert(plainRows.nonEmpty)
    }
  }

  test("a kernel used once in a Filter stays in the Filter, with no Generate added") {
    val p = plan(query("SELECT doc_id, lang FROM cse_docs WHERE char_stats(text)[1] > 2"))
    assert(generates(p) == 0, p.toString)
    val filters = CostlyCalls.operators(p).collect { case (f: FilterExec, _) => f }
    assert(filters.exists(f => CostlyCalls.calls(f.condition).nonEmpty), p.toString)
  }

  test("a nondeterministic Filter is not touched") {
    val sql = """SELECT doc_id, n FROM (SELECT doc_id, size(split(text, ' ')) AS n FROM cse_docs)
                 WHERE n > 1 AND rand(7) < 0.99"""
    val plain = withoutRule(plan(query(sql)))
    assert(count(plain, "split") > 1, plain.toString)
    val p = plan(query(sql))
    assert(generates(p) == 0, p.toString)
    assert(count(p, "split") == count(plain, "split"), p.toString)
  }

  test("a null input still yields its row") {
    val sql = """SELECT doc_id, cs FROM (SELECT doc_id, char_stats(text) AS cs FROM cse_docs)
                 WHERE cs IS NULL OR cs[0] >= 0"""
    val plainRows = withoutRule(rows(query(sql)))
    val df = query(sql)
    assert(generates(plan(df)) == 1, plan(df).toString)
    assert(rows(df) == plainRows)
    assert(rows(df).exists(r => r.getLong(0) == 3L && r.isNullAt(1)))
  }

  test("over a round-robin spread the kernel runs after the shuffle, once") {
    spark.read.parquet(docs).repartition(4).createOrReplaceTempView("cse_docs")
    val df = spark.sql(t9Shaped)
    val p = plan(df)
    val gens = CostlyCalls.operators(p).collect { case (g: GenerateExec, _) => g }
    assert(gens.size == 1 && gens.head.exists(_.isInstanceOf[ShuffleExchangeExec]), p.toString)
    assert(count(p, "charstats") == 1, p.toString)
    assert(rows(df) == withoutRule(rows(spark.sql(t9Shaped))))
  }

  test("the scan's ReadSchema equals the plain plan's") {
    for (sql <- Seq(t9Shaped, t2Shaped)) {
      val plain = withoutRule(readSchemas(plan(query(sql))))
      val p = plan(query(sql))
      assert(generates(p) >= 1, p.toString)
      assert(readSchemas(p) == plain)
      assert(plain.forall(!_.contains("extra")), plain)
    }
  }
}
