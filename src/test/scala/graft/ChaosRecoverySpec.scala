package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The reference's test_MP4 analogue (user/tests.go:152-191: kill 2 of
  * 10 worker VMs 1.5 s into a RainStorm run; the job must still finish
  * with the right answer). Here the worker loss is REAL process death:
  * the job runs on `local-cluster[2,1,1024]` — a standalone master with
  * two separately-launched executor JVMs — and the op1 UDx binary
  * SIGKILLs its own executor JVM the first time each executor invokes
  * it. The standalone worker relaunches the executor, Spark's task
  * retry reschedules the dead tasks, and the streaming checkpoint +
  * complete-mode state give the exactly-once final answer the
  * reference demands (its leader dedups batch re-deliveries the same
  * way, rainstorm.go:538-544).
  *
  * Runs in a forked JVM (ChaosRunner) so executor death can't take the
  * suite-shared SparkContext with it. */
class ChaosRecoverySpec extends AnyFunSuite with SparkSuite {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("executor JVMs die mid-job; RainStorm streaming job still finishes exactly-once") {
    val work = Files.createTempDirectory("chaos").toString
    val srcDir = s"$work/src"
    val dest = s"$work/dest"
    val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(srcDir))

    // 2000 lines over 2 files, keyed so the expected counts are obvious
    val keys = 0 until 5
    (0 until 2).foreach { f =>
      val lines = (0 until 1000).map(i => s"row${f * 1000 + i},k${(f * 1000 + i) % 5}")
      Files.write(Paths.get(s"$srcDir/part$f.txt"), lines.asJava)
    }

    // the chaos UDx: on its FIRST invocation per executor (per-pid
    // marker would re-fire on the relaunched executor, so the marker is
    // global with an atomic mkdir; losers of the race just echo) it
    // SIGKILLs the executor JVM ($PPID) — real worker death mid-task.
    val marker = s"$work/killed"
    val script = s"$work/chaos_op.sh"
    Files.write(Paths.get(script),
      s"""#!/bin/sh
         |if mkdir "$marker" 2>/dev/null; then
         |  kill -9 $$PPID
         |  sleep 5
         |fi
         |printf '%s\\n' "$$1"
         |""".stripMargin.getBytes)
    Paths.get(script).toFile.setExecutable(true)

    val mainClasses = "target/scala-2.13/classes"
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = Seq("/opt/spark/jars/*",
      Paths.get(mainClasses).toAbsolutePath.toString, testClasses).mkString(":")
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", cp, "graft.ChaosRunner",
      "local-cluster[2,1,1024]",
      Paths.get(mainClasses).toAbsolutePath.toString,
      script, srcDir, dest, ckpt)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$work/driver.log"))
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val log = new String(Files.readAllBytes(Paths.get(s"$work/driver.log")))
    assert(finished, s"chaos run timed out; driver log tail:\n${log.takeRight(4000)}")
    assert(p.exitValue() == 0,
      s"chaos run exited ${p.exitValue()}; driver log tail:\n${log.takeRight(4000)}")

    // the kill really happened (an executor died mid-run)...
    assert(Files.exists(Paths.get(marker)), "chaos op never fired — no executor was killed")
    assert(log.contains("ExecutorLostFailure") || log.contains("Lost executor") ||
      log.contains("exited with") || log.contains("WorkerLost"),
      s"no evidence of executor loss in driver log:\n${log.takeRight(4000)}")

    // ...and the answer is still byte-exact: 400 rows per key, rendered
    // as the sorted `key,cnt` lines the leader prints
    val out = Files.list(Paths.get(dest)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".txt"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .toSeq.sorted
    val expected = keys.map(k => s"k$k,400").sorted
    assert(out == expected, s"exactly-once violated: got $out")
  }

  // ---- p2 streaming curation pipeline chaos scenarios ----------------------

  import org.apache.spark.sql.streaming.Trigger

  private lazy val p2Feed: String =
    graft.streaming.StreamingQueries.docFeedFor(spark, "/root/testdata/sf0.01")

  private def startP2(out: String, ckpt: String, trigger: Trigger) = {
    val schema = spark.read.parquet(p2Feed).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(p2Feed)
    graft.streaming.StreamingQueries.p2Transform(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(trigger).start()
  }

  /** The shared kill-restart protocol: (1) a clean AvailableNow run
    * through the file sink is the reference manifest; (2) a second run
    * starts free-running and is STOPPED as soon as the first non-empty
    * batch commits — mid-feed, with operator state and sink manifest
    * both partially written; (3) the same checkpoint is drained with
    * AvailableNow and must reproduce the clean manifest byte-for-byte.
    * (Each query's memory-sink variant is DuckDB-oracle-checked in
    * CORRECTNESS; equality to the clean run chains that trust to the
    * file sink + checkpoint path.) */
  private def killRestartScenario(label: String,
      start: (String, String, Trigger) => org.apache.spark.sql.streaming.StreamingQuery,
      manifest: String => Seq[String]): Unit = {
    val cleanWork = Files.createTempDirectory(s"${label}_clean").toString
    val qc = start(s"$cleanWork/out", s"$cleanWork/ckpt", Trigger.AvailableNow())
    qc.awaitTermination()
    val clean = manifest(s"$cleanWork/out")
    assert(clean.nonEmpty, s"clean $label run produced an empty manifest")

    val work = Files.createTempDirectory(s"${label}_restart").toString
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    val q1 = start(out, ckpt, Trigger.ProcessingTime("50 milliseconds"))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!q1.recentProgress.exists(_.numInputRows > 0) && System.nanoTime() < deadline)
      Thread.sleep(25)
    assert(q1.recentProgress.exists(_.numInputRows > 0),
      "no batch committed within the deadline — can't demonstrate a mid-feed kill")
    q1.stop()
    q1.awaitTermination()
    val q2 = start(out, ckpt, Trigger.AvailableNow())
    q2.awaitTermination()
    val got = manifest(out)
    assert(got == clean,
      s"$label restart broke exactly-once: ${got.size} rows vs clean ${clean.size}")
  }

  test("p2 pipeline killed mid-feed resumes from checkpoint; manifest exactly-once") {
    // the kill lands with dedup state and sink manifest partially
    // written; the drain includes the re-delivery batch, which the
    // RESTORED dedup state must drop
    killRestartScenario("p2", startP2,
      out => spark.read.parquet(out).orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  /** p2's clean manifest for the executor-SIGKILL scenario below (the
    * kill-restart test derives its own clean run via the helper). */
  private lazy val p2CleanManifest: Seq[String] = {
    val work = Files.createTempDirectory("p2_clean").toString
    val q = startP2(s"$work/out", s"$work/ckpt", Trigger.AvailableNow())
    q.awaitTermination()
    val rows = spark.read.parquet(s"$work/out")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(rows.nonEmpty, "clean p2 run produced an empty manifest")
    rows
  }

  // ---- x31 stream-stream join chaos scenario -------------------------------

  private lazy val x31Feed: String =
    graft.streaming.StreamingQueries.joinFeedFor(spark, "/root/testdata/sf0.01")

  private def startX31(out: String, ckpt: String, trigger: Trigger) = {
    val schema = spark.read.parquet(s"$x31Feed/purchases").schema
    def src(sub: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$x31Feed/$sub")
    graft.streaming.StreamingQueries.x31Join(src("views"), src("purchases"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(trigger).start()
  }

  private def x31Manifest(out: String): Seq[String] =
    spark.read.parquet(out).orderBy("purchase_id", "view_id")
      .collect().map(_.toString).toSeq

  test("stream-stream join killed mid-feed resumes from checkpoint; matches exactly-once") {
    // the kill lands after the views batch: views are BUFFERED in join
    // state but the purchases have not arrived, so every match depends
    // on state restored from the checkpoint
    killRestartScenario("x31", startX31, x31Manifest)
  }

  // ---- x33 stateful sessionization chaos scenario --------------------------

  private lazy val x33Feed: String =
    graft.streaming.StreamingQueries.sessionFeedFor(spark, "/root/testdata/sf0.01")

  private def startX33(out: String, ckpt: String, trigger: Trigger) = {
    import spark.implicits._
    val schema = spark.read.parquet(x33Feed).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(x33Feed)
    graft.streaming.Sessionize
      .sessions(spark, stream.as[graft.streaming.Sessionize.Event], gapMinutes = 30)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(trigger).start()
  }

  private def x33Manifest(out: String): Seq[String] =
    spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("user_id") =!= -1L)
      .orderBy("user_id", "start").collect().map(_.toString).toSeq

  test("stateful sessionization killed mid-feed resumes from checkpoint; sessions exactly-once") {
    // the kill lands after the first ts-half: every session that spans
    // the halves (or closes later by timeout) lives ONLY in
    // flatMapGroupsWithState state, so the drain must restore that
    // user-defined state — batch-2 events merge into restored sessions
    // and the sentinel-driven timeouts close them all
    killRestartScenario("x33", startX33, x33Manifest)
  }

  // ---- x51 throughput-dedup chaos scenario ----------------------------------

  private lazy val x51Feed: String =
    graft.streaming.StreamingQueries.throughputFeedFor(spark, "/root/testdata/sf0.01")

  private def startX51(out: String, ckpt: String, trigger: Trigger) = {
    val schema = spark.read.parquet(x51Feed).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(x51Feed)
    graft.streaming.StreamingQueries.x51Transform(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(trigger).start()
  }

  /** The sink digest for x51's 750 k-row manifest: the oracle-checked
    * per-type counts plus the distinct/total id counts — a re-delivered
    * duplicate shifts total vs distinct, a dropped row shifts a type
    * count, so the digest catches both failure modes without hauling
    * the full row set through the comparison. */
  private def x51Manifest(out: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(out)
    df.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type").collect().map(_.toString).toSeq ++
      df.agg(count(lit(1)), countDistinct(col("event_id")))
        .collect().map(_.toString).toSeq
  }

  test("x51 throughput dedup killed mid-feed resumes from checkpoint; counts exactly-once") {
    // the kill lands with RocksDB dedup state partially built over the
    // 10x feed; the drain includes the re-delivery file, which the
    // RESTORED state must drop — the same contract as p2 but at the
    // row volume where state work dominates trigger fixed cost
    killRestartScenario("x51", startX51, x51Manifest)
  }

  // ---- x60 / x66 sketch-state chaos scenarios -------------------------------

  /** Kill-restart for COMPLETE/UPDATE-mode sketch queries, where the
    * parquet-sink helper doesn't apply: run clean (AvailableNow), then
    * run with a fast trigger, stop after the first committed batch, and
    * resume from the SAME checkpoint into a fresh memory table. The
    * comparison is on the drained final answer, which the sketches'
    * merge-order independence makes byte-comparable: the restored
    * state + remaining batches must reach the same fixpoint the
    * uninterrupted run reached. */
  private def sketchKillRestart(label: String, mode: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      feed: String, finalize: org.apache.spark.sql.DataFrame => Seq[String]): Unit = {
    val schema = spark.read.parquet(feed).schema
    def start(qname: String, ckpt: String, trigger: Trigger) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      transform(stream).writeStream.outputMode(mode)
        .format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
    }
    val cleanCkpt = Files.createTempDirectory(s"${label}_clean").toString
    val qc = start(s"${label}_clean_t", s"$cleanCkpt/ckpt", Trigger.AvailableNow())
    qc.awaitTermination()
    val clean = finalize(spark.table(s"${label}_clean_t"))
    assert(clean.nonEmpty, s"clean $label run produced an empty snapshot")

    val ckpt = Files.createTempDirectory(s"${label}_restart").toString + "/ckpt"
    val q1 = start(s"${label}_killed_t", ckpt, Trigger.ProcessingTime("50 milliseconds"))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!q1.recentProgress.exists(_.numInputRows > 0) && System.nanoTime() < deadline)
      Thread.sleep(25)
    assert(q1.recentProgress.exists(_.numInputRows > 0),
      "no batch committed within the deadline — can't demonstrate a mid-feed kill")
    q1.stop()
    q1.awaitTermination()
    val q2 = start(s"${label}_resumed_t", ckpt, Trigger.AvailableNow())
    q2.awaitTermination()
    val got = finalize(spark.table(s"${label}_resumed_t"))
    assert(got == clean,
      s"$label restart broke the snapshot: ${got.size} rows vs clean ${clean.size}")
  }

  test("x60 MG sketch state killed mid-feed restores from checkpoint; heavy hitters exact") {
    // complete mode: the MG buffers ARE the state-store values; the
    // resumed run's final emission reflects state merged across the
    // kill boundary, and the exact recount must equal the clean run's
    sketchKillRestart("x60", "complete",
      graft.streaming.StreamingQueries.x60Sketch,
      graft.streaming.StreamingQueries.feedFor(spark, "/root/testdata/sf0.01"),
      cand => graft.streaming.StreamingQueries
        .x60Recount(spark, "/root/testdata/sf0.01", cand)
        .collect().map(_.toString).toSeq)
  }

  test("x66 KMV window state killed mid-feed restores from checkpoint; estimates exact") {
    // update mode emits only the windows a batch touched, so a memory
    // sink (reset on restart) would lose windows finished before the
    // kill. Instead every update row is APPENDED to one parquet dir by
    // foreachBatch across BOTH incarnations; an uncommitted batch the
    // restart replays appends byte-identical rows (the transform is
    // deterministic), which the max-n-per-window snapshot absorbs. A
    // window the kill interrupted mid-accumulation re-emits with its n
    // grown from RESTORED KMV state — the thing under test: a fresh
    // (empty) state would re-emit a smaller n/estimate and break the
    // snapshot equality.
    import org.apache.spark.sql.functions._
    val feed = graft.streaming.StreamingQueries.feedFor(spark, "/root/testdata/sf0.01")
    val schema = spark.read.parquet(feed).schema
    def start(out: String, ckpt: String, trigger: Trigger) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      graft.streaming.StreamingQueries.x66Transform(stream)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
    }
    def snapshot(out: String): Seq[String] =
      spark.read.parquet(out).groupBy("wstart")
        .agg(max_by(col("est_users"), col("n")).as("est_users"), max(col("n")).as("n"))
        .orderBy("wstart").collect().map(_.toString).toSeq
    killRestartScenario("x66", start, snapshot)
  }

  test("x68 windowed MG state killed mid-feed restores from checkpoint; top-k exact") {
    // the x66 pattern for update mode: every emission row is APPENDED
    // to one parquet dir across BOTH incarnations (a memory sink
    // resets on restart and would lose windows finished pre-kill);
    // replayed uncommitted batches append byte-identical rows, which
    // the max-n-per-window snapshot inside x68Finalize absorbs. A
    // window interrupted mid-accumulation re-emits with its MG buffer
    // grown from RESTORED state — fresh state would under-count and
    // break the final top-k equality.
    import org.apache.spark.sql.DataFrame
    val sfDir = "/root/testdata/sf0.01"
    val feed = graft.streaming.StreamingQueries.feedFor(spark, sfDir)
    val schema = spark.read.parquet(feed).schema
    def start(out: String, ckpt: String, trigger: Trigger) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      graft.streaming.StreamingQueries.x68Sketch(stream)
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
    }
    def snapshot(out: String): Seq[String] =
      graft.streaming.StreamingQueries
        .x68Finalize(spark, sfDir, spark.read.parquet(out))
        .collect().map(_.toString).toSeq
    killRestartScenario("x68", start, snapshot)
  }

  test("d4 clustering survives executor SIGKILL with reliable checkpoints; labels exact") {
    // the one crack in the dedup-clustering 100 TB posture was that
    // localCheckpoint blocks die with their executor; this drives the
    // spark.graft.checkpoint.reliable=true path (GraftShims) under REAL
    // executor death: the runner SIGKILLs an executor the moment the
    // first CC round snapshot lands in the checkpoint dir, so the whole
    // star-forest loop must run against blocks recovered from the
    // reliable checkpoint files instead of failing on lost lineage
    val work = Files.createTempDirectory("chaos_d4").toString
    val marker = s"$work/killed"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    val sfDir = "/root/testdata/sf0.01"
    val mainClasses = Paths.get("target/scala-2.13/classes").toAbsolutePath.toString
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = Seq("/opt/spark/jars/*", mainClasses, testClasses).mkString(":")
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", cp, "graft.ChaosD4Runner",
      "local-cluster[2,1,1024]", s"$mainClasses:$testClasses", marker, sfDir, out, ckpt)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$work/driver.log"))
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val log = new String(Files.readAllBytes(Paths.get(s"$work/driver.log")))
    assert(finished, s"d4 chaos run timed out; driver log tail:\n${log.takeRight(4000)}")
    assert(p.exitValue() == 0,
      s"d4 chaos run exited ${p.exitValue()}; driver log tail:\n${log.takeRight(4000)}")
    assert(Files.exists(Paths.get(marker)), "killer never fired — no executor was killed")
    assert(log.contains("ExecutorLostFailure") || log.contains("Lost executor") ||
      log.contains("exited with") || log.contains("WorkerLost"),
      s"no evidence of executor loss in driver log:\n${log.takeRight(4000)}")
    // exact-label check against the suite-shared session's clean run
    val got = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val clean = graft.queries.DedupQueries.d4DedupClusters(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(clean.nonEmpty)
    assert(got == clean,
      s"executor loss corrupted cluster labels: ${got.size} rows vs clean ${clean.size}")
  }

  test("l19 BPE train survives executor SIGKILL with reliable checkpoints; merges exact") {
    // l19's loop state is its per-round word-frequency snapshot — the
    // same lineage-truncation crack d4 had; the runner kills one
    // executor as soon as the first round snapshot lands, so the rest
    // of the train must run from the reliable checkpoint files
    val work = Files.createTempDirectory("chaos_l19").toString
    val marker = s"$work/killed"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    val sfDir = "/root/testdata/sf0.01"
    val mainClasses = Paths.get("target/scala-2.13/classes").toAbsolutePath.toString
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = Seq("/opt/spark/jars/*", mainClasses, testClasses).mkString(":")
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", cp, "graft.ChaosL19Runner",
      "local-cluster[2,1,1024]", s"$mainClasses:$testClasses", marker, sfDir, out, ckpt)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$work/driver.log"))
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val log = new String(Files.readAllBytes(Paths.get(s"$work/driver.log")))
    assert(finished, s"l19 chaos run timed out; driver log tail:\n${log.takeRight(4000)}")
    assert(p.exitValue() == 0,
      s"l19 chaos run exited ${p.exitValue()}; driver log tail:\n${log.takeRight(4000)}")
    assert(Files.exists(Paths.get(marker)), "killer never fired — no executor was killed")
    assert(log.contains("ExecutorLostFailure") || log.contains("Lost executor") ||
      log.contains("exited with") || log.contains("WorkerLost"),
      s"no evidence of executor loss in driver log:\n${log.takeRight(4000)}")
    val got = spark.read.parquet(out).orderBy("merge_round")
      .collect().map(_.toString).toSeq
    val clean = graft.queries.LlmQueries.l19BpeTrain(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(clean.nonEmpty)
    assert(got == clean,
      s"executor loss corrupted the merge table: $got vs clean $clean")
  }

  test("p3/p4/p5/p6/p7/p8 batch pipelines survive executor SIGKILL; manifests byte-equal") {
    // the composed BATCH pipelines (p3 curation, p4 release, p5/p6
    // refresh) are the artifacts a user ships, and unlike the
    // streaming family they carry no checkpoint — recovery is pure
    // task/stage retry + shuffle recompute. The runner kills one
    // executor while p3's own stages have in-flight tasks on it.
    val work = Files.createTempDirectory("chaos_p34").toString
    val marker = s"$work/killed"
    val outP3 = s"$work/out_p3"
    val outP4 = s"$work/out_p4"
    val outP5 = s"$work/out_p5"
    val outP6 = s"$work/out_p6"
    val outP7 = s"$work/out_p7"
    val outP8 = s"$work/out_p8"
    val sfDir = "/root/testdata/sf0.01"
    val mainClasses = Paths.get("target/scala-2.13/classes").toAbsolutePath.toString
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = Seq("/opt/spark/jars/*", mainClasses, testClasses).mkString(":")
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", cp, "graft.ChaosP34Runner",
      "local-cluster[2,1,1024]", s"$mainClasses:$testClasses", marker, sfDir, outP3, outP4, outP5, outP6, outP7, outP8)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$work/driver.log"))
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val log = new String(Files.readAllBytes(Paths.get(s"$work/driver.log")))
    assert(finished, s"p3/p4 chaos run timed out; driver log tail:\n${log.takeRight(4000)}")
    assert(p.exitValue() == 0,
      s"p3/p4 chaos run exited ${p.exitValue()}; driver log tail:\n${log.takeRight(4000)}")
    assert(Files.exists(Paths.get(marker)), "killer never fired — no executor was killed")
    assert(log.contains("ExecutorLostFailure") || log.contains("Lost executor") ||
      log.contains("exited with") || log.contains("WorkerLost"),
      s"no evidence of executor loss in driver log:\n${log.takeRight(4000)}")
    // byte-equal manifests vs the suite-shared session's clean runs
    val gotP3 = spark.read.parquet(outP3).collect().map(_.toString).toSeq.sorted
    val cleanP3 = graft.queries.PipelineQueries.p3CurationPipeline(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(cleanP3.nonEmpty)
    assert(gotP3 == cleanP3,
      s"executor loss corrupted p3 manifest: ${gotP3.size} rows vs clean ${cleanP3.size}")
    val gotP4 = spark.read.parquet(outP4).collect().map(_.toString).toSeq.sorted
    val cleanP4 = graft.queries.PipelineQueries.p4CorpusRelease(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(cleanP4.nonEmpty)
    assert(gotP4 == cleanP4,
      s"executor loss corrupted p4 manifest: ${gotP4.size} rows vs clean ${cleanP4.size}")
    val gotP5 = spark.read.parquet(outP5).collect().map(_.toString).toSeq.sorted
    val cleanP5 = graft.queries.PipelineQueries.p5RefreshPacks(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(cleanP5.nonEmpty)
    assert(gotP5 == cleanP5,
      s"executor loss corrupted p5 manifest: ${gotP5.size} rows vs clean ${cleanP5.size}")
    val gotP6 = spark.read.parquet(outP6).collect().map(_.toString).toSeq.sorted
    val cleanP6 = graft.queries.PipelineQueries.p6HybridIndex(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(cleanP6.nonEmpty)
    assert(gotP6 == cleanP6,
      s"executor loss corrupted p6 manifest: ${gotP6.size} rows vs clean ${cleanP6.size}")
    // p7 additionally carries the l19 training loop INSIDE the job —
    // its per-round vocab snapshots ride the same releasable-checkpoint
    // seam the dedicated l19 scenario SIGKILLs, and the apply+pack
    // stages are pure retry/recompute like p3–p6
    val gotP7 = spark.read.parquet(outP7).collect().map(_.toString).toSeq.sorted
    val cleanP7 = graft.queries.PipelineQueries.p7TokenizerRelease(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(cleanP7.nonEmpty)
    assert(gotP7 == cleanP7,
      s"executor loss corrupted p7 manifest: ${gotP7.size} rows vs clean ${cleanP7.size}")
    val gotP8 = spark.read.parquet(outP8).collect().map(_.toString).toSeq.sorted
    val cleanP8 = graft.queries.PipelineQueries.p8IndexRefresh(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(cleanP8.nonEmpty)
    assert(gotP8 == cleanP8,
      s"executor loss corrupted p8 manifest: ${gotP8.size} rows vs clean ${cleanP8.size}")
  }

  test("p2 pipeline survives executor SIGKILL on local-cluster; manifest exactly-once") {
    val work = Files.createTempDirectory("chaos_p2").toString
    val marker = s"$work/killed"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    val mainClasses = Paths.get("target/scala-2.13/classes").toAbsolutePath.toString
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = (Seq("/opt/spark/jars/*", mainClasses, testClasses)).mkString(":")
    // executors must see test-classes too: the chaos UDF's lambda
    // deserializes against graft.ChaosP2Runner, which lives there
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", cp, "graft.ChaosP2Runner",
      "local-cluster[2,1,1024]", s"$mainClasses:$testClasses", marker, p2Feed, out, ckpt)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$work/driver.log"))
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val log = new String(Files.readAllBytes(Paths.get(s"$work/driver.log")))
    assert(finished, s"p2 chaos run timed out; driver log tail:\n${log.takeRight(4000)}")
    assert(p.exitValue() == 0,
      s"p2 chaos run exited ${p.exitValue()}; driver log tail:\n${log.takeRight(4000)}")
    assert(Files.exists(Paths.get(marker)), "chaos UDF never fired — no executor was killed")
    assert(log.contains("ExecutorLostFailure") || log.contains("Lost executor") ||
      log.contains("exited with") || log.contains("WorkerLost"),
      s"no evidence of executor loss in driver log:\n${log.takeRight(4000)}")
    val got = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got == p2CleanManifest,
      s"executor loss broke exactly-once: ${got.size} rows vs clean ${p2CleanManifest.size}")
  }

  test("artifact publish race between two REAL JVMs: one whole build wins, both serve it, no debris") {
    // PersistLifecycleSpec drives the same race through two threads
    // with the JVM lock bypassed; this is the genuine article — two
    // separate processes (no shared buildLock at all) provably both
    // past the no-marker check (a file barrier gates both build
    // bodies), racing their atomic renames into the same key.
    val mainClasses = Paths.get("target/scala-2.13/classes").toAbsolutePath.toString
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = Seq("/opt/spark/jars/*", mainClasses, testClasses).mkString(":")
    val work = Files.createTempDirectory("chaos_art_race").toString
    val artDir = s"$work/artifacts"
    val syncDir = new java.io.File(work, "sync")
    require(syncDir.mkdirs(), "test setup: sync dir")
    def launch(tag: String): Process = {
      val cmd = Seq("java") ++ addOpens ++ Seq(
        "-Xmx2g", "-cp", cp, "graft.ChaosArtifactRaceRunner", artDir,
        syncDir.toString, tag)
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_HOME", "/opt/spark")
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File(s"$work/driver_$tag.log"))
      pb.start()
    }
    val pa = launch("A")
    val pb2 = launch("B")
    try {
      // both builders must announce before the barrier opens
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      def started() = Option(syncDir.listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("started_"))
      while (started() < 2 && pa.isAlive && pb2.isAlive &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(started() == 2,
        s"only ${started()} builders announced — no race to drive")
      assert(new java.io.File(syncDir, "barrier").createNewFile())
      assert(pa.waitFor(120, TimeUnit.SECONDS) && pa.exitValue() == 0,
        s"runner A failed: ${scala.io.Source.fromFile(s"$work/driver_A.log").mkString.takeRight(2000)}")
      assert(pb2.waitFor(120, TimeUnit.SECONDS) && pb2.exitValue() == 0,
        s"runner B failed: ${scala.io.Source.fromFile(s"$work/driver_B.log").mkString.takeRight(2000)}")
    } finally { pa.destroyForcibly(); pb2.destroyForcibly() }
    val servedFiles = Option(syncDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("served_")).toSeq
    assert(servedFiles.size == 2, s"expected 2 served reports, got $servedFiles")
    val reports = servedFiles.map { f =>
      val lines = scala.io.Source.fromFile(f).getLines().toSeq
      (lines.head, lines.tail)
    }
    reports.foreach { case (builds, rows) =>
      assert(builds == "builds=1", s"each process should build exactly once: $builds")
      assert(rows.size == 40 && rows.distinct.size == 1,
        s"served artifact interleaves builds: ${rows.distinct.sorted}")
    }
    assert(reports.map(_._2).distinct.size == 1,
      "the two processes served different artifacts")
    val art = new java.io.File(artDir, "race2_probe_v1_feedfacefeedface")
    assert(new java.io.File(art, "_graft_done").exists, "winner's marker missing")
    val tmps = Option(new java.io.File(artDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".tmp_"))
    assert(tmps.isEmpty, s"race left temp debris: ${tmps.map(_.getName).toSeq}")
  }

  test("artifact store survives a REAL SIGKILL mid-parquet-write; rebuild reproduces the manifest") {
    // PersistLifecycleSpec simulates the aftermath (marker deleted by
    // hand) and the cross-process publish race (two unlocked threads);
    // this drives the actual failure: a consumer JVM is SIGKILLed
    // DURING an artifact's parquet write — the moment data.parquet
    // appears inside the builder's process-unique `.tmp_` directory,
    // before the atomic rename can publish it — leaving half-written
    // debris that no reader ever resolves. The recovery contract: the
    // next consumer sees no marker at the FINAL path, rebuilds,
    // publishes atomically, prunes the dead builder's debris, and
    // reproduces the clean result bit-for-bit.
    val sfDir = "/root/testdata/sf0.001"
    val mainClasses = Paths.get("target/scala-2.13/classes").toAbsolutePath.toString
    val testClasses = Paths.get("target/scala-2.13/test-classes").toAbsolutePath.toString
    val cp = Seq("/opt/spark/jars/*", mainClasses, testClasses).mkString(":")
    var killedArt: java.io.File = null
    var artDir: String = null
    var attempts = 0
    while (killedArt == null && attempts < 5) {
      attempts += 1
      val work = Files.createTempDirectory("chaos_art").toString
      artDir = s"$work/artifacts"
      val cmd = Seq("java") ++ addOpens ++ Seq(
        "-Xmx2g", "-cp", cp, "graft.ChaosArtifactRunner", sfDir, artDir)
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_HOME", "/opt/spark")
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File(s"$work/driver.log"))
      val p = pb.start()
      // poll for the FIRST in-flight `.tmp_` build dir with data (the
      // kmeans_q history is written first, inside d8's build chain)
      // and kill instantly
      val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
      var target: java.io.File = null
      while (target == null && p.isAlive && System.nanoTime() < deadline) {
        val arts = Option(new java.io.File(artDir).listFiles()).getOrElse(Array.empty)
        target = arts.filter(_.getName.startsWith(".tmp_"))
          .map(d => new java.io.File(d, "data.parquet"))
          .find(_.exists()).map(_.getParentFile).orNull
        if (target == null) Thread.sleep(1)
      }
      if (target != null) p.destroyForcibly()
      p.waitFor(60, TimeUnit.SECONDS)
      // landed iff the kill froze the build before its atomic rename:
      // the tmp debris is still on disk and the final path is unmarked
      if (target != null && target.exists())
        killedArt = target
    }
    assert(killedArt != null,
      s"could not land a SIGKILL inside an artifact write window in $attempts attempts")
    // the debris names its intended final artifact: .tmp_<name>_<fp>_<pid>_<nonce>
    val tmpName = """^\.tmp_(.+_[0-9a-f]{16})_\d+_[0-9a-f]+$""".r
    val finalName = killedArt.getName match {
      case tmpName(nf) => nf
      case other => fail(s"unexpected tmp debris name: $other")
    }
    assert(!new java.io.File(new java.io.File(artDir, finalName), "_graft_done").exists(),
      "kill landed after publication — no recovery to exercise")
    // recovery on the SAME store: the half-written artifact must be
    // rebuilt (no marker -> build), and the result must equal a clean
    // run from a fresh store
    graft.queries.AnnQueries.clearTrainingMemo()
    spark.conf.set("spark.graft.artifacts.dir", artDir)
    try {
      val before = graft.queries.AnnQueries.kmeansArtifactBuilds.get() +
        graft.queries.AnnQueries.d8MinedBuilds.get()
      val recovered = graft.queries.AnnQueries.d8SemanticDedup(spark, sfDir)
        .collect().map(_.toString).toSeq
      assert(graft.queries.AnnQueries.kmeansArtifactBuilds.get() +
        graft.queries.AnnQueries.d8MinedBuilds.get() > before,
        "recovery run served the half-written artifact instead of rebuilding")
      assert(new java.io.File(new java.io.File(artDir, finalName), "_graft_done").exists(),
        "recovery did not publish the interrupted artifact")
      assert(!killedArt.exists(),
        "recovery did not prune the dead builder's tmp debris")
      graft.queries.AnnQueries.clearTrainingMemo()
      spark.conf.set("spark.graft.artifacts.dir",
        Files.createTempDirectory("chaos_art_clean").toString)
      val clean = graft.queries.AnnQueries.d8SemanticDedup(spark, sfDir)
        .collect().map(_.toString).toSeq
      assert(recovered == clean,
        s"rebuild over kill debris diverged: ${recovered.size} rows vs clean ${clean.size}")
    } finally {
      spark.conf.unset("spark.graft.artifacts.dir")
      graft.queries.AnnQueries.clearTrainingMemo()
    }
  }
}
