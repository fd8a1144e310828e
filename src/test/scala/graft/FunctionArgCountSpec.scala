package graft

import org.scalatest.funsuite.AnyFunSuite

/** A registered kernel called with the wrong number of arguments must
  * fail with an error that names the function, the expected count and
  * the given count. */
class FunctionArgCountSpec extends AnyFunSuite with SparkSuite {

  /** The messages of `sql`'s failure and of every cause under it. */
  private def failure(sql: String): String = {
    val e = intercept[Exception](spark.sql(sql).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
  }

  test("an extra argument is refused, not silently dropped") {
    val m = failure("SELECT poly_hash('text', 1)")
    assert(m.contains("poly_hash expects 1 argument(s), got 2"), m)
  }

  test("a missing argument names the function instead of failing on an index") {
    val m = failure("SELECT cosine_similarity(array(CAST(1.0 AS FLOAT)))")
    assert(m.contains("cosine_similarity expects 2 argument(s), got 1"), m)
  }

  test("a function with optional arguments reports its accepted range") {
    val m = failure("SELECT lsh_band_sigs(array(CAST(1.0 AS FLOAT)), 2)")
    assert(m.contains("lsh_band_sigs expects 3 to 4 argument(s), got 2"), m)
    val m5 = failure("SELECT lsh_band_sigs(array(CAST(1.0 AS FLOAT)), 2, 4, 64, 1)")
    assert(m5.contains("lsh_band_sigs expects 3 to 4 argument(s), got 5"), m5)
  }

  test("accepted counts still resolve") {
    assert(spark.sql("SELECT poly_hash('hello')").collect().head.getLong(0) == 418513571L)
    val v = "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))"
    assert(math.abs(spark.sql(s"SELECT cosine_similarity($v, $v)").collect().head.getDouble(0) - 1.0) < 1e-12)
    // analysis is where a builder runs: both accepted lsh_band_sigs
    // arities must resolve
    assert(spark.sql(s"SELECT lsh_band_sigs($v, 2, 4)").schema.length == 1)
    assert(spark.sql(s"SELECT lsh_band_sigs($v, 2, 4, 2)").schema.length == 1)
  }
}
