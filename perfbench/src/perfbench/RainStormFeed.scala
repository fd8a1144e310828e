package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.RainStormJob

/** `rainstorm_feed`: the paper's own pipeline. One generator thread
  * writes seeded Traffic_Signs-shaped CSV files on a fixed schedule that
  * never waits for the engine (open loop), and the two reference apps
  * run through `RainStormJob.runStreaming` one after the other with
  * `Trigger.ProcessingTime(0)`, so latency measures the engine rather
  * than a configured trigger wait:
  *  - app1 `filter_field_eq:6:Punched Telespar` -> `project:2,3`
  *    (stateless, append-mode text sink);
  *  - app2 the same filter -> `count:8` (stateful, complete-mode rewrite).
  * Each app gets a warm-up, then a measured window. Event latency runs
  * from a file's creation stamp to the write of `commits/<batchId>` of
  * the micro-batch that consumed it. Afterwards a fixed pre-generated
  * backlog is drained once per app with `AvailableNow`: that phase is
  * bound by per-row work, the fixed-rate phase by the per-trigger floor.
  * Sinks are checked against an in-benchmark model of the feed. */
object RainStormFeed extends Workload {
  val name = "rainstorm_feed"

  val filterOp = "filter_field_eq:6:Punched Telespar"
  val apps: Seq[(String, String)] = Seq("app1" -> "project:2,3", "app2" -> "count:8")
  /** Share of the run's seconds each app's measured window gets: app2's
    * triggers cost about twice app1's, so it gets the longer window and
    * both apps see a similar number of micro-batches. */
  val windowShare = Map("app1" -> 0.3, "app2" -> 0.45)

  /** Open-loop rate: one file of `rowsPerFile` lines every `periodMs`. */
  val periodMs = 100
  val rowsPerFile = 100
  val warmupS = 2.0
  /** Drain backlog: `drainFiles` files of `drainRows` lines. */
  val drainFiles = 20
  val drainRows = 10000
  /** Load-shape guard: the run fails when a file is written later than
    * this after its due time, or when the unconsumed backlog grows by
    * more than one second of input across the measured window. */
  val maxLagMs = 250.0

  private val posts = Array("Punched Telespar", "Square Post", "U-Channel", "Round Post", "Wood Post")
  private val postWeights = Array(0.4, 0.2, 0.2, 0.1, 0.1)
  private val categories = Array("Warning", "Regulatory", "Stop", "Yield", "Guide", "School",
    "Parking", "Construction", "Recreation", "Other", "Speed", "Street Name")
  /** Uneven category keys: Zipf-like weights. */
  private val catWeights = categories.indices.map(i => 1.0 / (i + 1)).toArray

  private def pick(r: Random, xs: Array[String], ws: Array[Double]): String = {
    var u = r.nextDouble() * ws.sum
    var i = 0
    while (i < xs.length - 1 && u >= ws(i)) { u -= ws(i); i += 1 }
    xs(i)
  }

  /** The lines of one generated file, a pure function of its stream id. */
  def lines(seed: Long, stream: Long, rows: Int): Array[String] = {
    val r = new Random(seed * 7919L + stream)
    Array.tabulate(rows) { i =>
      val id = stream * 100000 + i
      f"-88.${r.nextInt(10000)}%04d,40.${r.nextInt(10000)}%04d,$id,Sign$id,${12 + r.nextInt(4) * 6}x${12 + r.nextInt(4) * 6}," +
        s"None,${pick(r, posts, postWeights)},${1990 + r.nextInt(30)},${pick(r, categories, catWeights)},note${r.nextInt(100)}"
    }
  }

  private def fields(l: String) = l.split(",", -1)
  private def kept(l: String): Boolean = { val f = fields(l); f.length > 6 && f(6) == "Punched Telespar" }
  def modelProject(ls: Iterable[String]): Seq[String] =
    ls.filter(kept).map { l => val f = fields(l); s"${f(2)},${f(3)}" }.toSeq.sorted
  def modelCount(ls: Iterable[String]): Map[String, Long] =
    ls.filter(kept).groupBy(l => fields(l)(8)).map { case (k, v) => k -> v.size.toLong }

  private def writeFile(dir: Path, name: String, ls: Array[String]): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, ls.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def sinkLines(dest: Path): Seq[String] =
    if (!Files.exists(dest)) Nil
    else Files.list(dest).iterator().asScala.toSeq
      .filter { p => val n = p.getFileName.toString; !n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(p) }
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala).filter(_.nonEmpty)

  /** Checks a sink against the model of the lines that went in. */
  private def check(ctx: Ctx, what: String, op2: String, input: Iterable[String], dest: Path): Boolean = {
    val got = sinkLines(dest)
    val ok =
      if (op2.startsWith("count")) {
        val m = got.map { l => val i = l.lastIndexOf(','); l.substring(0, i) -> l.substring(i + 1).toLong }.toMap
        m == modelCount(input)
      } else got.sorted == modelProject(input)
    if (!ok) ctx.failures += s"$what: sink does not match the model of its input"
    ok
  }

  private var drainDir: Path = _

  def prepare(ctx: Ctx, rep: Int): Unit = {
    drainDir = ctx.repDir(rep).resolve("drain_src")
    Files.createDirectories(drainDir)
    (0 until drainFiles).foreach(i => writeFile(drainDir, f"d$i%04d.csv", lines(ctx.seed, 900000L + i, drainRows)))
  }

  private def drainInput(ctx: Ctx): Iterable[String] =
    (0 until drainFiles).view.flatMap(i => lines(ctx.seed, 900000L + i, drainRows))

  private var runs = 0
  private def freshDir(ctx: Ctx, what: String): Path = {
    runs += 1
    val d = ctx.repDir(ctx.rep).resolve(s"feed$runs-$what")
    Files.createDirectories(d)
    d
  }

  /** Runs each app once over a quarter-size backlog, so the drain's
    * per-row code is compiled before the timed drain. */
  def warm(ctx: Ctx): Unit = apps.foreach { case (app, op2) =>
    val d = freshDir(ctx, s"warm-$app")
    val src = Files.createDirectories(d.resolve("src"))
    val input = (0 until drainFiles / 4).map { i =>
      val ls = lines(ctx.seed, 800000L + i, drainRows); writeFile(src, f"w$i%04d.csv", ls); ls }
    RainStormJob.runStreaming(ctx.spark, filterOp, op2, src.toString, d.resolve("dest").toString,
      d.resolve("ckpt").toString, Trigger.AvailableNow()).awaitTermination()
    check(ctx, s"warm $app", op2, input.flatten, d.resolve("dest"))
  }

  /** Batch id -> file paths it consumed, from the file source's log. */
  private def batchFiles(ckpt: Path): Map[Long, Seq[String]] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val entries = Files.list(dir).iterator().asScala.toSeq.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala.drop(1))
    val pathRe = "\"path\":\"([^\"]+)\"".r
    val batchRe = "\"batchId\":(\\d+)".r
    entries.flatMap { e =>
      for (p <- pathRe.findFirstMatchIn(e); b <- batchRe.findFirstMatchIn(e))
        yield b.group(1).toLong -> p.group(1).substring(p.group(1).lastIndexOf('/') + 1)
    }.distinct.groupBy(_._1).map { case (b, v) => b -> v.map(_._2) }
  }

  private def commitMs(ckpt: Path, batch: Long): Double = {
    val f = ckpt.resolve("commits").resolve(batch.toString)
    Files.getLastModifiedTime(f).toInstant match { case i => i.getEpochSecond * 1e3 + i.getNano / 1e6 }
  }

  private final case class AppRun(latencies: Seq[Double], lagMax: Double, backlogMax: Double,
                                  backlogGrowth: Double, inRows: Long, outRows: Long,
                                  start: Double, end: Double, batches: Set[Long])

  private def runApp(ctx: Ctx, app: String, op2: String, windowS: Double): AppRun = {
    val tr = ctx.tracer
    val d = freshDir(ctx, app)
    val src = Files.createDirectories(d.resolve("src"))
    val ckpt = d.resolve("ckpt")
    val q: StreamingQuery = RainStormJob.runStreaming(ctx.spark, filterOp, op2, src.toString,
      d.resolve("dest").toString, ckpt.toString, Trigger.ProcessingTime(0))
    val created = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val inputs = mutable.ArrayBuffer.empty[Array[String]]
    val backlog = mutable.ArrayBuffer.empty[(Double, Double)]
    var lagMax = 0.0
    val t0 = tr.now() + 100
    val measureFrom = t0 + warmupS * 1e3
    val stopAt = measureFrom + windowS * 1e3
    val stream = (if (app == "app1") 1L else 2L) * 1000000L
    val gen = new Thread(() => {
      var i = 0
      while (t0 + i * periodMs < stopAt) {
        val due = t0 + i * periodMs
        val ls = lines(ctx.seed, stream + i, rowsPerFile)
        val wait = due - tr.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val name = f"f$i%06d.csv"
        writeFile(src, name, ls)
        val at = tr.now()
        created.put(name, at)
        inputs += ls
        if (due >= measureFrom) {
          lagMax = math.max(lagMax, at - due)
          val consumed = q.recentProgress.map(_.numInputRows).sum / rowsPerFile
          backlog += ((at, (i + 1 - consumed).toDouble))
        }
        i += 1
      }
    }, "perfbench-feed-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    val files = batchFiles(ckpt)
    val lat = files.toSeq.flatMap { case (b, fs) =>
      val c = commitMs(ckpt, b)
      fs.flatMap(f => Option(created.get(f)).map(_.doubleValue))
        .filter(_ >= measureFrom).map(c - _)
    }
    val input = inputs.flatten
    val sink = sinkLines(d.resolve("dest"))
    val ok = check(ctx, app, op2, input, d.resolve("dest"))
    val consumedAll = files.values.flatten.toSet
    val missing = created.keySet.asScala.count(f => !consumedAll(f))
    if (missing > 0) ctx.failures += s"$app: $missing generated files never consumed"
    val thirds = backlog.size / 3
    val growth = if (thirds == 0) 0.0
      else backlog.takeRight(thirds).map(_._2).sum / thirds - backlog.take(thirds).map(_._2).sum / thirds
    val outRows = if (op2.startsWith("count")) sink.map(l => l.substring(l.lastIndexOf(',') + 1).toLong).sum
      else sink.size.toLong
    // every file's events count; a failed sink check fails all of them
    lat.foreach(_ => ctx.outcome(ok, s"$app event"))
    val batches = files.keySet.filter(b => files(b).exists(f => Option(created.get(f)).exists(_ >= measureFrom)))
    AppRun(if (ok) lat else lat.map(_ => Double.PositiveInfinity), lagMax,
      if (backlog.isEmpty) 0.0 else backlog.map(_._2).max, growth, input.size.toLong, outRows,
      measureFrom, tr.now(), batches)
  }

  /** Drains the fixed backlog once with AvailableNow; returns (ms, rows). */
  private def drain(ctx: Ctx, app: String, op2: String): (Double, Double, Double) = {
    val d = freshDir(ctx, s"drain-$app")
    val t0 = ctx.tracer.now()
    RainStormJob.runStreaming(ctx.spark, filterOp, op2, drainDir.toString, d.resolve("dest").toString,
      d.resolve("ckpt").toString, Trigger.AvailableNow()).awaitTermination()
    val t1 = ctx.tracer.now()
    val ok = check(ctx, s"drain $app", op2, drainInput(ctx), d.resolve("dest"))
    ctx.outcome(ok, s"drain $app")
    (t1 - t0, drainFiles.toDouble * drainRows, t0)
  }

  def measure(ctx: Ctx, seconds: Double, traced: Boolean): Window = {
    val tr = ctx.tracer
    val runsApps = apps.map { case (app, op2) => runApp(ctx, app, op2, seconds * windowShare(app)) }
    val lagMax = runsApps.map(_.lagMax).max
    val backlogMax = runsApps.map(_.backlogMax).max
    val growth = runsApps.map(_.backlogGrowth).max
    if (lagMax > maxLagMs) ctx.failures += f"generator fell behind schedule by $lagMax%.0f ms"
    if (growth > 1000.0 / periodMs)
      ctx.failures += f"backlog grew by $growth%.1f files across the window: rate unsustainable"
    val drains = apps.map { case (app, op2) => drain(ctx, app, op2) }
    val drainRate = drains.map(_._2).sum / (drains.map(_._1).sum / 1e3)
    // The two apps' latencies differ by about 2.5x, so a percentile over
    // their pooled samples would sit in the gap between them: each
    // figure is the mean of the two apps' own percentiles.
    val lat = runsApps.flatMap(_.latencies)
    val named = Map(
      "event_latency_p50_ms" -> runsApps.map(r => Stats.median(r.latencies)).sum / runsApps.size,
      "event_latency_p75_ms" -> runsApps.map(r => Stats.pct(r.latencies, Stats.tail)).sum / runsApps.size,
      "drain_records_per_s" -> drainRate,
      "drain_backlog_rows" -> drains.map(_._2).sum,
      "rate_rows_per_s" -> rowsPerFile * 1000.0 / periodMs) ++
      apps.zip(runsApps).flatMap { case ((app, _), r) => Seq(
        s"${app}_event_latency_p50_ms" -> Stats.median(r.latencies),
        s"${app}_batches" -> r.batches.size.toDouble) } ++
      apps.zip(drains).map { case ((app, _), d) => s"${app}_drain_ms" -> d._1 } ++
      Stats.supported("event_latency_p90_ms", runsApps.map(_.latencies), 0.9) ++
      Stats.supported("event_latency_p95_ms", runsApps.map(_.latencies), 0.95)
    val layer = if (!traced) Map.empty[String, Double] else {
      tr.quiesce()
      val trig = runsApps.map { r =>
        val ps = tr.progressSince(r.start).map(_.progress).filter(p => r.batches(p.batchId))
        val w = tr.workOfBatches(r.batches, r.start - 5000)
        val active = tr.jobActiveMs(w.jobs, r.start - 5000, r.end)
        val wall = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum
        (ps.size.toDouble, wall, active, w)
      }
      val nTrig = trig.map(_._1).sum
      val drainWork = drains.map { case (ms, _, t0) => tr.work(t0, t0 + ms) -> ms }
      val dw = OpWork(drainWork.flatMap(_._1.jobs), drainWork.flatMap(_._1.stages), drainWork.map(_._1.taskSkew).max)
      val drainMs = drainWork.map(_._2).sum
      val app1 = runsApps.head
      Map(
        "exec.op_wall_ms" -> trig.map(_._2).sum / nTrig,
        "exec.job_active_ms" -> trig.map(_._3).sum / nTrig,
        "exec.driver_only_ms" -> (trig.map(_._2).sum - trig.map(_._3).sum) / nTrig,
        "exec.jobs" -> trig.map(_._4.jobs.size).sum / nTrig,
        "exec.stages" -> trig.map(_._4.stages.size).sum / nTrig,
        "exec.tasks" -> trig.map(_._4.stageSum(_.tasks)).sum / nTrig,
        "exec.run_ms" -> dw.stageSum(_.runMs),
        "exec.cpu_ms" -> dw.stageSum(_.cpuMs),
        "exec.gc_ms" -> dw.stageSum(_.gcMs),
        "exec.core_util" -> dw.stageSum(_.runMs) / (drainMs * ctx.nproc),
        "exec.shuffle_read_bytes" -> dw.stageSum(_.shuffleRead.toDouble),
        "exec.shuffle_write_bytes" -> dw.stageSum(_.shuffleWrite.toDouble),
        "exec.spill_bytes" -> dw.stageSum(_.spill.toDouble),
        "exec.input_bytes" -> dw.stageSum(_.input.toDouble),
        "exec.task_skew" -> dw.taskSkew,
        "streaming.backlog_files_max" -> backlogMax,
        "streaming.generator_lag_ms" -> lagMax,
        "operators.selectivity" -> app1.outRows.toDouble / app1.inRows,
        "core.artifact_bytes" -> Main.treeBytes(ctx.artifactsDir).toDouble) ++
        Layers.streaming(runsApps.flatMap(r => tr.progressSince(r.start)
          .filter(p => r.batches(p.progress.batchId))), runsApps.size)
    }
    Window(named("event_latency_p50_ms"), named("event_latency_p75_ms"), drainRate, lat.size, named, layer)
  }

  /** The same drain on one core: the single-thread baseline. */
  override def traceExtras(ctx: Ctx): Map[String, Double] = {
    val (msN, rows, _) = drain(ctx, "app1", apps.head._2)
    ctx.stopSession()
    ctx.startSession(cores = 1)
    drain(ctx, "app1", apps.head._2) // first touch on the new session
    val (ms1, _, _) = drain(ctx, "app1", apps.head._2)
    Map("exec.drain_scaling" -> (rows / msN) / (rows / ms1))
  }
}
