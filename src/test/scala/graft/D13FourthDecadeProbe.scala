package graft

/** Test-scope instrument (like D13ScaleProbe, never shipped): the
  * FOURTH decade for the board's highest-exponent line. The in-suite
  * curve stops at sf10eq (100× the sf0.1 rows), where d13_containment
  * measures exponent 0.96 — near-linear, but the closest line to 1.0,
  * so it is exactly where a 100 TB skeptic asks whether the NEXT
  * decade bends. This probe builds an sf40eq documents slice (4
  * super-copies of the sf10eq slice — 2M docs, 400× the sf0.1 rows)
  * and times the d13 containment-pair BUILD on sf10eq → sf40eq:
  * +0.6 decades, expected wall ratio 4.0^0.96 ≈ 3.8 if the measured
  * exponent holds. (A full 10-copy sf100eq was attempted first and is
  * DISK-infeasible on this box: the d13 job's scratch — shingle-table
  * checkpoint blocks + the prefix⋈index shuffle — exceeded the ~58 GB
  * free at 5M docs; the 4-copy point needs ~40 % of that and fits
  * with margin. The evidence target is unchanged: does the curve BEND
  * past sf10eq, measured on the same structure-preserving slice
  * family.)
  *
  * Slice rule: the same structure-preserving token-tag construction as
  * ScalingCurveSpec's sf1eq/sf10eq — every token of super-copy c>0
  * gets a distinct "y<ccc>" suffix, so each copy's intra-copy shingle
  * structure (and therefore its containment-pair and doc-frequency
  * structure) replicates EXACTLY while cross-copy shingle spaces stay
  * disjoint: the shingle dictionary grows with the copy count, the df distribution
  * replicates, densities — the thing candidate cost follows — are
  * preserved. (No Levenshtein-≥3 requirement here: only d13 runs, and
  * it needs shingle disjointness, not edit-distance separation.)
  * doc_ids offset by c·10⁹ (sf10eq ids stay under 10⁹).
  *
  * Weather protocol: each timed arm prints its own /proc/stat steal
  * delta (the round-15 ScalingCurveSpec pattern), and arms above 1 %
  * steal are DISCARDED and re-run after a 3-minute cool-down (up to 2
  * retries; if every attempt is hot the last one is kept and marked
  * HOT — a manual instrument reports, it doesn't cancel). Two passes,
  * min per dir, on top. Artifact dir rotated per arm so every arm
  * pays the real mining job.
  *
  * Run: java <add-opens> -Xmx64g
  *        -cp "/opt/spark/jars/&#42;:classes:test-classes"
  *        graft.D13FourthDecadeProbe [cores]
  */
object D13FourthDecadeProbe {
  // the shared instrument (graft.core.Weather, ADVICE r15: one
  // definition across Bench/ScalingCurveSpec/this probe)
  private def stealTicks(): Long = graft.core.Weather.stealTicks()

  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(32)
    val spark = graft.core.GraftSession.local(cores, "d13probe4")
    import org.apache.spark.sql.functions._

    val src = new java.io.File("target/sf10eq").getAbsolutePath
    require(new java.io.File(s"$src/_done_v2").exists,
      "build target/sf10eq first (any ScalingCurveSpec decade-3 run)")
    val dir = new java.io.File("target/sf40eq").getAbsolutePath
    val done = new java.io.File(s"$dir/_done_v1")
    if (!done.exists) {
      System.err.println("[probe4] building sf40eq documents slice (4 super-copies of sf10eq)...")
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(s"$src/documents.parquet")
      (0 until 4).map { c =>
        if (c == 0) docs
        else docs.select(
          (col("doc_id") + lit(c * 1000000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"y$c$c$c"))), " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).repartition(64)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      done.createNewFile()
      System.err.println(f"[probe4] slice built in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    }

    // Stage-level attribution (solo modes): which stage carries the
    // superlinear growth, and is it run time, GC, or spill. Printed
    // per completed stage; compare per-stage ratios across decades.
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L)
        println(f"PROBESTAGE id=${si.stageId}%d tasks=${si.numTasks}%d wallMs=$wall%d " +
          f"runMs=${m.executorRunTime}%d gcMs=${m.jvmGCTime}%d " +
          f"shufRead=${m.shuffleReadMetrics.totalBytesRead / (1 << 20)}%dM " +
          f"shufWrite=${m.shuffleWriteMetrics.bytesWritten / (1 << 20)}%dM " +
          f"spillMem=${m.memoryBytesSpilled / (1 << 20)}%dM spillDisk=${m.diskBytesSpilled / (1 << 20)}%dM " +
          f"rdds=${si.rddInfos.map(_.name).distinct.mkString("|").take(120)}")
      }
    })

    val nCpu = Runtime.getRuntime.availableProcessors()
    // one live artifacts scratch at a time (ADVICE r15): arms rotate
    // the artifact dir so every arm pays the real mining job, but the
    // abandoned temp dirs accumulated across arms/retries — on the
    // disk-bound box that motivated capping this probe at sf40eq,
    // repeated arms could exhaust disk mid-run. Delete the previous
    // attempt's scratch before creating the next.
    var lastArtDir: java.nio.file.Path = null
    def rotateArtifactsDir(): Unit = {
      if (lastArtDir != null) {
        def rec(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rec)
          f.delete()
        }
        rec(lastArtDir.toFile)
      }
      lastArtDir = java.nio.file.Files.createTempDirectory("probe4_art")
      spark.conf.set("spark.graft.artifacts.dir", lastArtDir.toString)
    }
    // "shipped" arms run the SHIPPED d13 path — d13Containment →
    // containmentPairs → ArtifactStore.getOrBuild with d13BuildConf
    // (coalescing off + the 4×parallelism floor) — instead of the raw
    // containmentPairsPlan at this probe's own conf; the timed window
    // additionally contains the manifest parquet write + read-back
    // (102k id-width rows at sf40eq — noise next to the mining job)
    // JFR around the TIMED WINDOW only (round 16, VERDICT r15 #3 — the
    // open ~5× per-row residual needs a profile, not more wall arms):
    // set GRAFT_PROBE_JFR=/path/prefix to dump one profile-settings
    // recording per TIMED ATTEMPT as
    // <prefix>_<mode>_<corpusDir>_p<parts>_try<N>.jfr (ADVICE r16: a
    // bare armNN counter also recorded the warmup and made a
    // discarded-hot-retry profile indistinguishable from the kept
    // measurement — the name now carries mode, corpus and attempt, and
    // the WARMUP arm is never recorded at all, `jfrTag = None`).
    // Scoping the recording to the arm keeps warmup samples out of the
    // attribution; the ~1–2 % sampling overhead lands on BOTH compared
    // arms equally. Analyze with `jfr print --events jdk.ExecutionSample`.
    def armOnce(d: String, parts: Int, shipped: Boolean = false,
        jfrTag: Option[String] = None): (Double, Double) = {
      val abs = new java.io.File(d).getAbsolutePath
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      rotateArtifactsDir()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val jfr = jfrTag.flatMap(tag => sys.env.get("GRAFT_PROBE_JFR").map { prefix =>
        val r = new jdk.jfr.Recording(jdk.jfr.Configuration.getConfiguration("profile"))
        r.start(); (r, prefix, tag)
      })
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      val (n, joins) = if (shipped) {
        val b0 = graft.queries.DedupQueries.d13PairBuilds.get()
        val df = graft.queries.DedupQueries.d13Containment(spark, abs)
        val n = df.count()
        require(graft.queries.DedupQueries.d13PairBuilds.get() == b0 + 1,
          "shipped arm must pay a real build (artifact dir rotation failed?)")
        (n, "shipped-path")
      } else {
        val df = graft.queries.DedupQueries.containmentPairsPlan(spark, abs)
        val n = df.count()
        val plan = df.queryExecution.executedPlan.toString
        (n, "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|NestedLoop)".r
          .findAllIn(plan).toSeq.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }
          .toSeq.sorted.mkString(","))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val s1 = stealTicks()
      jfr.foreach { case (r, prefix, tag) =>
        r.stop()
        val p = java.nio.file.Paths.get(s"${prefix}_$tag.jfr")
        r.dump(p); r.close()
        println(s"PROBE jfr dumped: $p")
      }
      val ticks = if (s0 < 0 || s1 < 0) -1L else s1 - s0
      val pct = graft.core.Weather.stealPct(ticks, secs, nCpu)
      println(f"PROBE dir=$d parts=$parts%d pairs=$n%d secs=$secs%.2f steal=$ticks ($pct%.2f%%) joins=$joins")
      (secs, pct)
    }
    def arm(d: String, parts: Int, shipped: Boolean = false,
        label: String = ""): Double = {
      // every timed attempt gets its own self-describing JFR tag —
      // retries included, so a discarded-hot profile can never be
      // read as the kept measurement (ADVICE r16)
      def tag(attempt: Int) =
        Some(s"${label}_${new java.io.File(d).getName}_p${parts}_try$attempt")
      var attempt = 0
      var last = armOnce(d, parts, shipped, tag(attempt))
      while (last._2 > 1.0 && attempt < 2) {
        attempt += 1
        println(s"PROBE hot arm discarded (retry $attempt/2 after cool-down): $d")
        Thread.sleep(180000)
        last = armOnce(d, parts, shipped, tag(attempt))
      }
      if (last._2 > 1.0) println(s"PROBE WARNING: all attempts hot, keeping last (HOT): $d")
      last._1
    }

    // MODE "fixed" (default): both dirs at 32 shuffle partitions — the
    // fixed-resources scale-up a single box imposes. First finding
    // (round 15): exponent ~2.07 on the 3.5th decade — NOT a candidate
    // blowup (the verified pair count replicates exactly 4x by slice
    // construction) but the per-task sort/build working set crossing
    // execution memory: at 32 partitions the sf40eq SMJ/SHJ sides run
    // ~1 GB/task against ~1.2 GB/task of execution memory — the
    // multi-pass spill regime.
    // MODE "scaled": partitions sized to DATA (sf10eq@32 -> sf40eq@128,
    // constant rows/task — what any real deployment does; AQE coalesces
    // downward, never up, so the knob must come from the planner). If
    // the exponent returns to ~1, the bend is the fixed-partition
    // instrument, and the 100 TB rule it validates is: size shuffle
    // partitions to the data (bounded per-task working sets), not to
    // the core count.
    // MODE "solo40": ONE sf40eq arm (after warmup), for heap-size
    // bisection runs — the RAM-cliff attribution (see PLANS.md round
    // 15): rerun under different -Xmx and compare walls; page-cache
    // headroom (box RAM − heap − scratch) is the suspected variable,
    // and partition count (mode "scaled") is the ruled-out one.
    // MODE "nocoalesce40": the AQE-blindness experiment. "scaled"
    // showed 128 partitions changing NOTHING — because AQE coalesces
    // post-shuffle partitions from MAP-OUTPUT bytes (1.7 GB here),
    // blind to the candidate join's ~30x output amplification (54 GB
    // emitted from 2.3 GB read at sf40eq), so the join stage ran at
    // ~32 effective partitions regardless of the knob. This mode
    // disables coalescing and raises partitions so the amplifying
    // join ACTUALLY runs wide; if the wall collapses toward linear,
    // the bend is per-partition join working-set growth and the
    // deployment rule follows (see PLANS.md round 15).
    // MODE "shipped40" (round 16): ONE sf40eq arm through the SHIPPED
    // d13 path at the session's default 32 configured partitions —
    // d13BuildConf's coalescing opt-out + 4×parallelism floor (=128 at
    // local[32]) apply via ArtifactStore.getOrBuild, exactly as a user
    // query would run. Validates that the VERDICT-r15-#1 fix landed in
    // the product: expect ≈ the nocoalesce40 wall (~265 s quiet), not
    // the AQE-coalesced ~424 s.
    val mode = args.drop(1).headOption.getOrElse("fixed")
    val solo = mode.startsWith("solo") || mode == "nocoalesce40" || mode == "shipped40"
    if (mode == "nocoalesce40") {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    }
    val shipped = mode == "shipped40"
    val cells: Seq[(String, Int)] = mode match {
      case "scaled"       => Seq(src -> 32, dir -> 128)
      case "solo40"       => Seq(dir -> 32)
      case "nocoalesce40" => Seq(dir -> 128)
      case "shipped40"    => Seq(dir -> 32)
      case "solo10"       => Seq(src -> 32)
      case _              => Seq(src -> 32, dir -> 32)
    }
    // JIT warmup, untimed in the ratio — ONE plain attempt (ADVICE
    // r15: routing it through arm() applied hot-window cool-downs to a
    // measurement that is never used). jfrTag stays None: the warmup
    // is never profiled (ADVICE r16)
    armOnce("/root/testdata/sf0.1", 32, shipped)
    val walls = scala.collection.mutable.Map.empty[String, Double]
    val passes = if (solo) 1 else 2
    for (_ <- 1 to passes; (d, parts) <- cells) {
      val t = walls.get(d)
      val w = arm(d, parts, shipped, label = mode)
      walls(d) = t.fold(w)(math.min(_, w))
    }
    if (solo) { spark.stop(); return }
    val ratio = walls(dir) / walls(src)
    // exponent against the 4x data factor (log_4), comparable with the
    // per-decade exponents the suite reports
    println(f"PROBE decade4 mode=$mode sf10eq=${walls(src)}%.2f s sf40eq=${walls(dir)}%.2f s ratio=$ratio%.2f exponent=${(math.log10(math.max(ratio, 1e-9)) / math.log10(4.0))}%.2f (data 4x)")
    spark.stop()
  }
}
