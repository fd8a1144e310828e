package graft

import org.apache.spark.sql.SparkSession

/** Shared scaffolding for the chaos driver mains below — ONE spelling
  * of the cluster session, the executor-pid harvest, and the
  * marker-guarded SIGKILL so a fix to the probe race or kill protocol
  * lands in every scenario at once. */
private[graft] object ChaosHarness {
  def session(master: String, execCp: String, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.executor.extraClassPath", execCp)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Pids of BOTH executor JVMs. The probe job can run entirely on
    * whichever executor registers first (standalone's
    * minRegisteredResourcesRatio defaults low and 16 trivial tasks
    * drain in ms) — retry until both have been observed, don't abort
    * the scenario on a launch race. */
  def harvestExecutorPids(spark: SparkSession): Array[Long] = {
    val driverPid = ProcessHandle.current().pid
    def probe(): Array[Long] = spark.sparkContext.parallelize(1 to 16, 16)
      .map(_ => ProcessHandle.current().pid)
      .collect().distinct.filter(_ != driverPid)
    var pids = probe()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (pids.length < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      pids = (pids ++ probe()).distinct
    }
    require(pids.length >= 2, s"expected 2 executor JVMs, saw ${pids.toSeq}")
    pids
  }

  /** Daemon thread that waits for `armed` then SIGKILLs `victim` —
    * exactly once across relaunches, guarded by the marker dir. */
  def killWhen(victim: Long, marker: String, tag: String)(armed: () => Boolean): Unit = {
    val killer = new Thread(() => {
      while (!armed()) Thread.sleep(5)
      if (new java.io.File(marker).mkdir()) {
        ProcessHandle.of(victim).ifPresent(_.destroyForcibly())
        System.err.println(s"[$tag] SIGKILLed executor pid $victim")
      }
    })
    killer.setDaemon(true)
    killer.start()
  }
}

/** Driver main for [[ChaosRecoverySpec]], launched in its OWN JVM so
  * the kill-an-executor run cannot touch the suite-shared local[4]
  * SparkContext. Runs a RainStorm streaming job (`exec:` UDx op1 →
  * `count:1` running aggregate) on a real multi-process cluster
  * (`local-cluster[2,1,1024]` — standalone master + 2 worker-launched
  * executor JVMs); the UDx is the chaos agent that SIGKILLs its own
  * executor on first invocation. */
object ChaosRunner {
  def main(args: Array[String]): Unit = {
    val Array(master, execCp, script, srcDir, dest, ckpt) = args
    val spark = ChaosHarness.session(master, execCp, "chaos_recovery")
    val q = graft.streaming.RainStormJob.runStreaming(
      spark, s"exec:$script", "count:1", srcDir, dest, ckpt)
    q.awaitTermination()
    spark.stop()
  }
}

/** Driver main for the d4 reliable-checkpoint chaos scenario: runs the
  * REAL [[graft.queries.DedupQueries.d4DedupClusters]] pipeline (d1
  * pair mining → connected-components loop) on `local-cluster[2,1,1024]`
  * with `spark.graft.checkpoint.reliable=true` + a fault-tolerant
  * checkpoint dir, and SIGKILLs one executor JVM as soon as the FIRST
  * round snapshot lands in the checkpoint dir — i.e. mid-CC-loop, when
  * the loop's working state lives in executor block storage. With local
  * checkpoints those blocks die with the executor and the job fails
  * (lineage is truncated — nothing to recompute from); the reliable
  * path must instead fall back to the checkpoint FILES and finish with
  * exact labels. */
object ChaosD4Runner {
  def main(args: Array[String]): Unit = {
    val Array(master, execCp, marker, sfDir, out, ckpt) = args
    val spark = ChaosHarness.session(master, execCp, "chaos_d4")
    val execPids = ChaosHarness.harvestExecutorPids(spark)
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    // fresh artifact store: the labels are a stored artifact since
    // round 11 — reading a prior run's parquet would skip the CC loop
    // this scenario exists to kill mid-flight
    spark.conf.set("spark.graft.artifacts.dir",
      java.nio.file.Files.createTempDirectory("chaos_d4_art").toString)
    // the checkpoint dir is being actively written (temp part files
    // renamed into place) — a file vanishing between list and stat
    // throws from Files.walk; treat any IO race as "not yet" instead
    // of letting the daemon thread die silently with no kill fired
    def roundSnapshotExists(): Boolean =
      try {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        try s.anyMatch(p => p.getFileName != null &&
          p.getFileName.toString.startsWith("rdd-"))
        finally s.close()
      } catch { case _: Exception => false }
    ChaosHarness.killWhen(execPids.head, marker, "chaos_d4")(() => roundSnapshotExists())
    graft.queries.DedupQueries.d4DedupClusters(spark, sfDir)
      .write.mode("overwrite").parquet(out)
    spark.stop()
  }
}

/** Driver main for the l19 reliable-checkpoint chaos scenario: the BPE
  * train loop's working state is its per-round word-frequency snapshot
  * — exactly the d4 crack, in a different loop. Same protocol: reliable
  * checkpoints on, SIGKILL one executor the moment the first round
  * snapshot lands, and the remaining rounds must finish from the
  * checkpoint FILES with the exact same merge table. */
object ChaosL19Runner {
  def main(args: Array[String]): Unit = {
    val Array(master, execCp, marker, sfDir, out, ckpt) = args
    val spark = ChaosHarness.session(master, execCp, "chaos_l19")
    val execPids = ChaosHarness.harvestExecutorPids(spark)
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    // fresh artifact store: the merge table is stored since round 11 —
    // a prior run's parquet would skip the training loop this scenario
    // exists to kill mid-flight
    spark.conf.set("spark.graft.artifacts.dir",
      java.nio.file.Files.createTempDirectory("chaos_l19_art").toString)
    def roundSnapshotExists(): Boolean =
      try {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        try s.anyMatch(p => p.getFileName != null &&
          p.getFileName.toString.startsWith("rdd-"))
        finally s.close()
      } catch { case _: Exception => false }
    ChaosHarness.killWhen(execPids.head, marker, "chaos_l19")(() => roundSnapshotExists())
    graft.queries.LlmQueries.l19BpeTrain(spark, sfDir)
      .write.mode("overwrite").parquet(out)
    spark.stop()
  }
}

/** Driver main for the p2 chaos scenario: runs the REAL
  * [[graft.streaming.StreamingQueries.p2Transform]] curation pipeline
  * over a document feed on `local-cluster[2,1,1024]`, writing the
  * manifest through the transactional parquet file sink. A chaos UDF on
  * the source side HALTS its executor JVM (hard death — no shutdown
  * hooks, mid-batch) the first time any task evaluates it; the global
  * marker dir makes it fire exactly once across executor relaunches. */
object ChaosP2Runner {
  def main(args: Array[String]): Unit = {
    val Array(master, execCp, marker, feed, out, ckpt) = args
    val spark = ChaosHarness.session(master, execCp, "chaos_p2")
    import org.apache.spark.sql.functions.{col, udf}
    val kill = udf { (_: Long) =>
      if (new java.io.File(marker).mkdir()) Runtime.getRuntime.halt(137)
      true
    }
    val schema = spark.read.parquet(feed).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .filter(kill(col("doc_id")))
    val q = graft.streaming.StreamingQueries.p2Transform(stream)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.stop()
  }
}

/** Driver main for the p3/p4/p5/p6 BATCH-pipeline chaos scenario: runs the
  * REAL composed curation (p3), release (p4) and refresh (p5)
  * pipelines — the artifacts a user actually ships — on
  * `local-cluster[2,1,1024]` and SIGKILLs one executor JVM as soon as
  * p3's first tasks are in flight. Unlike the d4 loop there is no
  * driver-side iterative state and no checkpoint: the pipelines are
  * fully declarative, so plain task/stage retry plus shuffle-output
  * recompute must deliver byte-identical manifests on their own. The
  * kill trigger is the task-start listener so the victim dies while
  * the pipeline's own stages hold in-flight tasks and freshly-written
  * shuffle files on it. */
object ChaosP34Runner {
  def main(args: Array[String]): Unit = {
    val Array(master, execCp, marker, sfDir, outP3, outP4, outP5, outP6, outP7, outP8) = args
    val spark = ChaosHarness.session(master, execCp, "chaos_p34")
    val execPids = ChaosHarness.harvestExecutorPids(spark)
    @volatile var tasksStarted = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(
          ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        tasksStarted += 1
    })
    val probeTasks = tasksStarted
    // wait until the PIPELINE's own tasks are running (a few past the
    // probe count so the victim holds live tasks + shuffle files)
    ChaosHarness.killWhen(execPids.head, marker, "chaos_p34")(
      () => tasksStarted >= probeTasks + 4)
    graft.queries.PipelineQueries.p3CurationPipeline(spark, sfDir)
      .write.mode("overwrite").parquet(outP3)
    graft.queries.PipelineQueries.p4CorpusRelease(spark, sfDir)
      .write.mode("overwrite").parquet(outP4)
    graft.queries.PipelineQueries.p5RefreshPacks(spark, sfDir)
      .write.mode("overwrite").parquet(outP5)
    graft.queries.PipelineQueries.p6HybridIndex(spark, sfDir)
      .write.mode("overwrite").parquet(outP6)
    graft.queries.PipelineQueries.p7TokenizerRelease(spark, sfDir)
      .write.mode("overwrite").parquet(outP7)
    graft.queries.PipelineQueries.p8IndexRefresh(spark, sfDir)
      .write.mode("overwrite").parquet(outP8)
    spark.stop()
  }
}

/** Driver main for the artifact-store kill-mid-write scenario: runs a
  * d8 consumer with `spark.graft.artifacts.dir` pointed at the given
  * dir; the PARENT process SIGKILLs this JVM the moment the first
  * artifact's `data.parquet` directory appears — i.e. DURING a parquet
  * write, before `_graft_done` can land — leaving a half-written
  * artifact on disk for the recovery assertion. */
object ChaosArtifactRunner {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, artDir) = args
    val spark = graft.core.GraftSession.local(4, "chaos_artifact")
    spark.conf.set("spark.graft.artifacts.dir", artDir)
    graft.queries.AnnQueries.d8SemanticDedup(spark, sfDir).collect()
    spark.stop()
  }
}

/** Two-JVM publish-race driver (round 12): each instance builds the
  * SAME artifact key with its own sentinel content. The build body
  * (a) announces readiness via a per-pid `started_` file, (b) blocks
  * on a shared `barrier` file the orchestrating test creates only
  * after BOTH processes have announced — so both JVMs are provably
  * past the no-marker check before either publishes (the exact
  * cross-process scenario the JVM build lock cannot cover), and
  * (c) returns 40 rows of this process's tag. What the process
  * ultimately SERVED (the winner's rows — possibly its own) plus its
  * build count is written to `served_<pid>.txt` for the parent's
  * atomicity assertions. */
object ChaosArtifactRaceRunner {
  def main(args: Array[String]): Unit = {
    val Array(artDir, syncDir, tag) = args
    val spark = graft.core.GraftSession.local(2, "chaos_artifact_race")
    spark.conf.set("spark.graft.artifacts.dir", artDir)
    import spark.implicits._
    val builds = new java.util.concurrent.atomic.AtomicLong(0)
    val pid = ProcessHandle.current().pid()
    val df = graft.core.ArtifactStore.getOrBuild(
        spark, "race2_probe_v1", "feedfacefeedface", "/root/testdata/sf0.001",
        builds) { _ =>
      require(new java.io.File(syncDir, s"started_$pid").createNewFile(),
        "could not announce build start")
      val barrier = new java.io.File(syncDir, "barrier")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!barrier.exists && System.nanoTime() < deadline) Thread.sleep(5)
      require(barrier.exists, "race barrier never arrived")
      Seq.fill(40)(tag).toDF("v")
    }
    val served = df.collect().map(_.getString(0)).toSeq
    java.nio.file.Files.write(
      new java.io.File(syncDir, s"served_$pid.txt").toPath,
      (s"builds=${builds.get}" +: served).mkString("\n").getBytes("UTF-8"))
    spark.stop()
  }
}
