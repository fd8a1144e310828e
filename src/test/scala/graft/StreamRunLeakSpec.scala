package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.StreamingQueries

/** A streaming key leaves nothing behind: every memory-sink member of
  * the inventory, run twice in one session, returns the temp dirs, the
  * catalog, the active streams and the session confs to their baseline
  * after each call, still serves its result after that cleanup, and
  * reads its feed from the artifact store on the second pass. */
class StreamRunLeakSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def tmpDirs: Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("graft_") || f.getName.startsWith("rainstorm_ckpt")))
      .map(_.getName).toSet

  private def tables: Set[String] = spark.catalog.listTables().collect().map(_.name).toSet

  test("each streaming key, run twice, returns tmp dirs, catalog, streams and confs to baseline") {
    // Tables.load sets spark.sql.legacy.parquet.nanosAsLong on the
    // session at every read — a loader mutation, not a streaming-run
    // one — so the baseline is taken after one load
    Tables.load(spark, dir, "events")
    val baseDirs = tmpDirs
    val baseTables = tables
    val baseConf = spark.conf.getAll
    val firstResults = scala.collection.mutable.Map.empty[String, Seq[String]]
    for (pass <- 1 to 2) {
      val builds0 = StreamingQueries.feedBuilds.get
      StreamingQueries.queries.toSeq.sortBy(_._1).foreach { case (key, fn) =>
        val rows = fn(spark, dir).collect().map(_.toString).toSeq
        assert(tmpDirs == baseDirs, s"$key pass $pass left temp dirs")
        assert(tables == baseTables, s"$key pass $pass left catalog tables")
        assert(spark.streams.active.isEmpty, s"$key pass $pass left an active stream")
        assert(spark.conf.getAll == baseConf, s"$key pass $pass changed the session conf")
        assert(rows.nonEmpty, s"$key pass $pass returned no rows")
        if (pass == 1) firstResults(key) = rows
        else assert(rows == firstResults(key), s"$key changed its result between passes")
      }
      if (pass == 2)
        assert(StreamingQueries.feedBuilds.get == builds0, "the second pass rebuilt a feed")
    }
  }

  test("runStreamingToCompletion deletes its checkpoint dir") {
    val src = java.nio.file.Files.createTempDirectory("rs_leak_src")
    java.nio.file.Files.write(src.resolve("a.txt"), Seq("a,Punched", "b,x").asJava)
    val dest = java.nio.file.Files.createTempDirectory("rs_leak_dest").toString + "/out"
    val before = tmpDirs
    graft.streaming.RainStormJob.runStreamingToCompletion(spark,
      "filter_contains:Punched", "identity", src.toString, dest)
    assert(tmpDirs == before)
    assert(spark.read.text(dest).collect().map(_.getString(0)).toSeq == Seq("a,Punched"))
  }
}
