package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.functions.GraftFunctions
import graft.plans.{ComputeOncePerRow, TopKPerKeyStrategy}
import graft.streaming.RainStormJob

/** `GraftSession.local` builds every session with the engine's whole
  * Catalyst layer installed, once, by `GraftFunctions.register` — not
  * only the sessions that later pass through `SparkEntry.queries`. */
class SessionLayerSpec extends AnyFunSuite with SparkSuite {

  /** `body` on a session that `GraftSession.local` builds fresh: with no
    * active or default session, `getOrCreate` makes a new session on the
    * running SparkContext. The suite's own session comes back as the
    * default afterwards. */
  private def withFreshSession[T](body: SparkSession => T): T = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = GraftSession.local(4, "SessionLayerSpec")
      assert(fresh ne shared, "getOrCreate returned the suite's session")
      body(fresh)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("every builder-table function resolves on a GraftSession.local session") {
    val reference = spark.newSession()
    GraftFunctions.register(reference)
    val reg = reference.sessionState.functionRegistry
    val names = reg.listFunction()
      .filter(id => reg.lookupFunction(id).exists(_.getSource == "scala_udf"))
      .map(_.funcName)
    assert(names.size >= 20, s"registry read looks wrong: $names")
    withFreshSession { s =>
      assert(names.filterNot(s.catalog.functionExists) == Nil)
    }
  }

  test("the optimizer rule and the planner strategy are installed exactly once") {
    withFreshSession { s =>
      def counts = (s.experimental.extraOptimizations.count(_ == ComputeOncePerRow),
        s.experimental.extraStrategies.count(_ == TopKPerKeyStrategy))
      assert(counts == ((1, 1)))
      GraftFunctions.register(s)
      assert(GraftSession.local(4, "SessionLayerSpec") eq s)
      assert(counts == ((1, 1)))
    }
  }

  test("RainStorm filter_field_eq -> project computes split once per row") {
    val src = Files.createTempDirectory("session_layer_src")
    try {
      Files.write(src.resolve("part-0.csv"), Seq(
        "1,a,b,c,d,e,X,g", "2,a,b,c,d,e,Y,g", "3,a2,b2,c,d,e,X,g").mkString("\n").getBytes("UTF-8"))
      withFreshSession { s =>
        val lines = s.read.text(src.toString)
        val out = RainStormJob.parseOp("project:2,3")(
          RainStormJob.parseOp("filter_field_eq:6:X")(lines))
        assert(out.collect().map(_.getString(0)).sorted.toSeq == Seq("b,c", "b2,c"))
        val plan = out.queryExecution.executedPlan
        assert(CostlyCalls.repeated(plan).isEmpty, plan.toString)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(src.toFile)
  }
}
