package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AppendLogStore

/** The append-log store's merge semantics against a plain Scala model
  * (sort by ts, keep the arg-min row per ts over the tie-break
  * columns), before and after `compact`, and the work one read costs:
  * one data file per committed append, and a read over 8 segments in
  * one scan plus one range shuffle (3 jobs: the range sampler, the map
  * stage, the result stage) with no parquet schema job. */
class AppendLogStoreSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private type R = (Long, String, Long)
  private val tieBreak = Seq("a", "b")

  /** The visible semantics: unique by ts, arg-min on (a, b), ascending. */
  private def model(rows: Seq[R]): Seq[R] =
    rows.groupBy(_._1).values.map(_.minBy(r => (r._2, r._3))).toSeq.sortBy(_._1)

  private def newStore(base: Seq[R]): AppendLogStore = {
    val s = new AppendLogStore(spark, Files.createTempDirectory("als_merge").toString)
    s.create(base.toDF("ts", "a", "b"))
    s
  }

  private def read(s: AppendLogStore): Seq[R] = s.read(tieBreak).as[R].collect().toSeq

  /** Appends each segment, then checks the read against the model
    * before and after a compact, and once more after a compact of an
    * empty log. */
  private def checkMerge(base: Seq[R], segments: Seq[Seq[R]]): Unit = {
    val s = newStore(base)
    segments.foreach(seg => s.append(seg.toDF("ts", "a", "b")))
    val want = model(base ++ segments.flatten)
    assert(read(s) == want, "before compact")
    s.compact(tieBreak)
    assert(read(s) == want, "after compact")
    s.compact(tieBreak)
    assert(read(s) == want, "after compacting an empty log")
  }

  test("an empty log reads as base, deduped and ordered") {
    checkMerge(Seq((5L, "e", 0L), (2L, "b", 0L), (5L, "d", 9L), (9L, "x", 1L)), Nil)
  }

  test("segments whose ts ranges overlap interleave by ts") {
    checkMerge(Seq((0L, "base", 0L), (25L, "base", 0L)),
      Seq((5L to 15L).map(t => (t, s"s1-$t", t)), (10L to 20L).map(t => (t, s"s0-$t", t)),
        Seq((30L, "late", 0L), (1L, "early", 0L))))
  }

  test("equal-ts ties inside one segment, across two segments and against base") {
    checkMerge(Seq((1L, "m", 0L), (2L, "a", 5L)),
      Seq(Seq((7L, "b", 0L), (7L, "a", 3L), (7L, "a", 1L), (1L, "c", 0L)),
        Seq((30L, "z", 0L), (2L, "a", 4L)),
        Seq((30L, "y", 0L), (1L, "n", 0L))))
  }

  test("seeded random segments with colliding ts match the model") {
    (1 to 3).foreach { seed =>
      val r = new scala.util.Random(seed)
      def rows(n: Int): Seq[R] =
        Seq.fill(n)((r.nextInt(40).toLong, r.alphanumeric.take(2).mkString, r.nextInt(3).toLong))
      checkMerge(rows(20), Seq.fill(2 + r.nextInt(4))(rows(1 + r.nextInt(15))))
    }
  }

  /** The jobs `body` starts, each as the RDD names of its stages. */
  private def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.flatMap(_.rddInfos.map(_.name)))
    }
    GraftShims.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftShims.waitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.asScala.toSeq
  }

  /** A store of 100 base rows and 8 appended segments of 50 rows. */
  private def eightSegments(): (java.nio.file.Path, AppendLogStore) = {
    val root = Files.createTempDirectory("als_work")
    val s = new AppendLogStore(spark, root.toString)
    s.create((0L until 100L).map(t => (t, "base", t)).toDF("ts", "a", "b"))
    (0 until 8).foreach(i =>
      s.append((0L until 50L).map(t => (100L + 50 * i + t, s"s$i", t)).toDF("ts", "a", "b")))
    (root, s)
  }

  test("each committed append holds one data file") {
    val (root, _) = eightSegments()
    val dirs = Files.list(root.resolve("log")).iterator().asScala.toSeq
    assert(dirs.size == 8)
    dirs.foreach { d =>
      val data = Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
      assert(data.size == 1, s"$d holds $data")
    }
  }

  test("a read over 8 segments runs 3 jobs, none a schema job") {
    val (_, s) = eightSegments()
    var got = Seq.empty[R]
    val jobs = jobsOf { got = read(s) }
    assert(got.size == 500 && got.map(_._1) == (0L until 500L))
    // a schema-inference (or file-listing) job runs over a local
    // collection (ParallelCollectionRDD); every job of the merge reads
    // the store
    assert(!jobs.exists(_.contains("ParallelCollectionRDD")), jobs.mkString("\n"))
    assert(jobs.size == 3, jobs.mkString("\n"))
  }
}
