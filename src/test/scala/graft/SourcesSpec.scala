package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AppendLogStore

/** Source-layer semantics: the append-log store must reproduce the
  * reference's create/append/get/merge behavior (§2.2 command table,
  * test4/test5 scenarios), and the two CSV modes must disagree exactly
  * on quoted fields (probe 3.9). */
class SourcesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("append-log store: create, append, merge-on-read, compact (test4/test5 analogue)") {
    val root = Files.createTempDirectory("als").toString
    val store = new AppendLogStore(spark, root)
    store.create(Seq((1L, "base-a"), (3L, "base-b")).toDF("ts", "payload"))
    // two writers append concurrently, one ts collision with the base
    store.append(Seq((2L, "w1")).toDF("ts", "payload"))
    store.append(Seq((3L, "w2-collides"), (4L, "w2")).toDF("ts", "payload"))
    val merged = store.read(Seq("payload")).as[(Long, String)].collect().toSeq
    // unique by ts, ascending; collision resolved by arg-min payload
    assert(merged == Seq((1L, "base-a"), (2L, "w1"), (3L, "base-b"), (4L, "w2")))
    // merge-on-read is stable under repetition (replica convergence)
    assert(store.read(Seq("payload")).as[(Long, String)].collect().toSeq == merged)
    // compaction materializes the same state and empties the log
    store.compact(Seq("payload"))
    assert(store.read(Seq("payload")).as[(Long, String)].collect().toSeq == merged)
    // post-compact append still works
    store.append(Seq((5L, "late")).toDF("ts", "payload"))
    assert(store.read(Seq("payload")).as[(Long, String)].collect().toSeq ==
      merged :+ ((5L, "late")))
  }

  test("concurrent appends: 8 writers x 4 appends, all chunks survive exactly once") {
    val root = Files.createTempDirectory("als_conc").toString
    val store = new AppendLogStore(spark, root)
    store.create(Seq((0L, "base")).toDF("ts", "payload"))
    val ts = new java.util.concurrent.atomic.AtomicLong(100L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { w =>
      new Thread(() =>
        try (1 to 4).foreach { a =>
          store.append(Seq((ts.incrementAndGet(), s"w$w-a$a")).toDF("ts", "payload"))
        } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures.toArray.mkString(", "))
    val got = store.read(Seq("payload")).select("payload").as[String].collect().toSeq
    assert(got.size == 33)                      // base + 32 appends
    assert(got.distinct.size == 33)             // nothing duplicated
    (1 to 8).foreach(w => (1 to 4).foreach(a => assert(got.contains(s"w$w-a$a"))))
    // compact mid-life then verify again — the snapshot path under load
    store.compact(Seq("payload"))
    val after = store.read(Seq("payload")).select("payload").as[String].collect().toSeq
    assert(after == got)
  }

  test("multiappend soak: 1000 concurrent appends converge exactly once (exp2_append analogue)") {
    // the reference's one published performance experiment
    // (user/user.go:446-466, exp2_append): 1000 appends to one file,
    // round-robined over N concurrent clients, then merge — the store
    // must hold every append exactly once and every replica read of the
    // merged result must be identical. Same shape here: 10 writer
    // threads x 100 single-row appends, unique writer timestamps, then
    // convergence is asserted three ways (read == re-read, survives
    // compact, exact payload set) and the wall time is recorded.
    val root = Files.createTempDirectory("als_soak").toString
    val store = new AppendLogStore(spark, root)
    store.create(Seq((0L, "base")).toDF("ts", "payload"))
    val writers = 10
    val perWriter = 100
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t0 = System.nanoTime()
    val threads = (0 until writers).map { w =>
      new Thread(() =>
        try (0 until perWriter).foreach { a =>
          val ts = 1000L + w.toLong * perWriter + a
          store.append(Seq((ts, s"w$w-a$a")).toDF("ts", "payload"))
        } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val appendSec = (System.nanoTime() - t0) / 1e9
    assert(failures.isEmpty, failures.toArray.mkString(", "))
    val tRead = System.nanoTime()
    val got = store.read(Seq("payload")).select("payload").as[String].collect().toSeq
    val readSec = (System.nanoTime() - tRead) / 1e9
    assert(got.size == writers * perWriter + 1, s"expected ${writers * perWriter + 1} rows, got ${got.size}")
    assert(got.distinct.size == got.size, "merge produced duplicate rows")
    val expected = (for (w <- 0 until writers; a <- 0 until perWriter) yield s"w$w-a$a").toSet + "base"
    assert(got.toSet == expected)
    // replica convergence: a second merge-on-read is byte-identical
    assert(store.read(Seq("payload")).select("payload").as[String].collect().toSeq == got)
    // compaction folds 1000 log segments into base without losing a row
    val tCompact = System.nanoTime()
    store.compact(Seq("payload"))
    val compactSec = (System.nanoTime() - tCompact) / 1e9
    assert(store.read(Seq("payload")).select("payload").as[String].collect().toSeq == got)
    info(f"soak: ${writers * perWriter} appends / $writers writers in $appendSec%.1f s " +
      f"(${writers * perWriter / appendSec}%.0f appends/s); merge-on-read $readSec%.1f s; " +
      f"compact $compactSec%.1f s")
  }

  test("compact crash invariant: a recoverable base copy exists at every instant") {
    val root = Files.createTempDirectory("als_crash").toString
    val store = new AppendLogStore(spark, root)
    store.create(Seq((1L, "a"), (2L, "b")).toDF("ts", "payload"))
    store.append(Seq((3L, "c")).toDF("ts", "payload"))
    val expected = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    // crash state 1: between compact's two base renames — base missing,
    // base_old present. read() must complete the swap and lose nothing.
    assert(fs.rename(p(s"$root/base"), p(s"$root/base_old")))
    assert(store.read(Seq("payload")).as[(Long, String)].collect().toSeq == expected)

    // crash state 2: the reader-race path — the restored base was
    // renamed ASIDE (not deleted) back to base_old and the compactor
    // died before its scratch rename landed: base missing, base_old
    // holding the pre-compact rows, an orphaned scratch dir, the
    // snapshotted log segments untouched. Every row must still be
    // reconstructible from base_old + log.
    assert(fs.rename(p(s"$root/base"), p(s"$root/base_old")))
    fs.mkdirs(p(s"$root/compact_tmp_deadbeef"))
    assert(store.read(Seq("payload")).as[(Long, String)].collect().toSeq == expected)

    // a fresh compact over the recovered state converges
    store.compact(Seq("payload"))
    assert(store.read(Seq("payload")).as[(Long, String)].collect().toSeq == expected)
  }

  test("create refuses to overwrite (reference: create fails if file exists)") {
    val root = Files.createTempDirectory("als2").toString
    val store = new AppendLogStore(spark, root)
    store.create(Seq((1L, "x")).toDF("ts", "payload"))
    intercept[Exception] {
      store.create(Seq((2L, "y")).toDF("ts", "payload"))
    }
  }

}
