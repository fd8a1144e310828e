package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What one measured window produced: the three end-to-end figures the
  * workload defines (`p50`, `tail` and `throughput`, see README.md for
  * each workload's meaning), how many operation samples they rest on,
  * the workload's own figures under descriptive names, and the
  * per-layer metrics (traced windows only). A failed operation counts
  * as an infinite latency wherever it is sampled. */
final case class Window(p50: Double, tail: Double, throughput: Double, samples: Int,
                        named: Map[String, Double], layer: Map[String, Double])

/** A benchmark workload: inputs made from the seed, an untimed warm-up
  * after each session start, and a measured window. */
trait Workload {
  def name: String
  /** Writes this set-up repetition's inputs under `ctx.repDir(rep)`. */
  def prepare(ctx: Ctx, rep: Int): Unit
  /** Untimed first touch after a session start (JIT, artifacts, feeds). */
  def warm(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double, traced: Boolean): Window
  /** Per-layer figures only a traced run collects after its window. */
  def traceExtras(ctx: Ctx): Map[String, Double] = Map.empty
}

/** State of one benchmark run: the session, private directories,
  * tracer and failure ledger. */
final class Ctx(val runDir: Path, val benchDir: Path, val seed: Long, val nproc: Int) {
  val tracer = new Tracer
  var spark: SparkSession = _
  var rep = 0
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def repDir(r: Int): Path = runDir.resolve(s"rep$r")
  def artifactsDir: Path = repDir(rep).resolve("artifacts")

  /** Records an operation outcome inside a measured window. */
  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  /** A failure outside any measured window (set-up, checks). */
  def fail(what: String): Unit = failures += what

  def startSession(cores: Int = nproc): Unit = {
    spark = GraftSession.local(cores, "perfbench")
    Files.createDirectories(artifactsDir)
    spark.conf.set("spark.graft.artifacts.dir", artifactsDir.toString)
  }

  def stopSession(): Unit = if (spark != null) {
    tracer.detach()
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
    spark = null
  }

  /** Drops everything an operation cached so the next one starts from
    * the same state whatever order the seed chose. */
  def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Main {
  val workloads: Map[String, Workload] = Seq[Workload](Inventory, RainStormFeed, HydfsStore)
    .map(w => w.name -> w).toMap

  /** Set-up repetitions per run; setup_s is their median. */
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("oracle-out")) dumpOracle(Paths.get(opt("oracle-out")))
    else if (opt.contains("fingerprint-dir")) fingerprintDir(Paths.get(opt("fingerprint-dir")), Paths.get(opt("out")))
    else System.exit(run(opt))
  }

  /** Writes the inventory's table scale, data seed and the DuckDB twin
    * of each of its keys, for derive_expected.py. */
  private def dumpOracle(out: Path): Unit = {
    val sql = graft.SparkEntry.oracleSql
    writeJson(out, Map("sf" -> Inventory.sf, "data_seed" -> Inventory.dataSeed,
      "sql" -> Inventory.keys.map(k => k -> sql(k)).toMap))
  }

  /** Fingerprints every `<key>.parquet` under `dir` (the DuckDB twins'
    * results that derive_expected.py wrote) into `{key: {rows, fp}}`. */
  private def fingerprintDir(dir: Path, out: Path): Unit = {
    val spark = GraftSession.local(2, "perfbench-derive")
    try {
      val files = Option(dir.toFile.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      writeJson(out, files.map { f =>
        val df = spark.read.parquet(f.getPath)
        val (rows, fp) = Fingerprint.of(df.schema.fieldNames.toSeq, df.collect())
        f.getName.stripSuffix(".parquet") -> Map("rows" -> rows.toString, "fp" -> fp)
      }.toMap)
    } finally spark.stop()
  }

  /** Writes `v` (maps, sequences and scalars) as JSON. A non-finite
    * number has no JSON form: NaN becomes null and an infinite latency
    * (a failed operation) the largest double. */
  def writeJson(out: Path, v: Any): Unit = {
    def finite(x: Any): Any = x match {
      case d: Double if d.isNaN => null
      case d: Double if d.isInfinite => math.signum(d) * Double.MaxValue
      case m: Map[_, _] => m.map { case (k, y) => k.toString -> finite(y) }
      case s: Seq[_] => s.map(finite)
      case other => other
    }
    val text = org.json4s.jackson.Serialization.write(finite(v).asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
    Files.write(out, text.getBytes(StandardCharsets.UTF_8))
  }

  private def run(opt: Map[String, String]): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w = workloads(opt("workload"))
    val ctx = new Ctx(Paths.get(opt("run-dir")), Paths.get(opt("bench-dir")),
      opt("seed").toLong, opt("nproc").toInt)
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    val steal0 = graft.core.Weather.stealTicks()
    val wall0 = System.nanoTime()

    // setup_s covers the JVM start too: its share (JVM start to here) is
    // added to every repetition, so the median keeps it
    val jvmStartS = math.max(System.currentTimeMillis() - jvmStartMs, 0L) / 1e3
    val setupS = mutable.ArrayBuffer.empty[Double]
    var result: Option[Map[String, Any]] = None
    try {
      for (r <- 1 to setupReps) {
        val t0 = System.nanoTime()
        ctx.stopSession()
        if (r > 1) deleteTree(ctx.repDir(r - 1))
        ctx.rep = r
        w.prepare(ctx, r)
        ctx.startSession()
        w.warm(ctx)
        setupS += jvmStartS + (System.nanoTime() - t0) / 1e9
      }
      ctx.failures.headOption.foreach(f => throw new IllegalStateException(s"set-up failed: $f"))

      val (main, overhead) =
        if (!traced) (w.measure(ctx, seconds, traced = false), None)
        else {
          // the same window untraced then traced: the ratio of their
          // median latencies is the tracing overhead
          val plain = w.measure(ctx, seconds / 2, traced = false)
          ctx.tracer.attach(ctx.spark)
          val t = w.measure(ctx, seconds / 2, traced = true)
          ctx.tracer.detach()
          val self = ctx.tracer.selfPerOp()
          (t.copy(layer = t.layer ++ self), Some(100.0 * (t.p50 / plain.p50 - 1)))
        }
      val extras = if (traced) {
        ctx.tracer.attach(ctx.spark)
        try w.traceExtras(ctx) finally ctx.tracer.detach()
      } else Map.empty[String, Double]

      val rssMb = peakRssMb()
      val e2e = Seq(
        "setup_s" -> Stats.median(setupS.toSeq),
        "latency_p50_ms" -> main.p50,
        "latency_tail_ms" -> main.tail,
        "throughput_per_s" -> main.throughput,
        "peak_rss_mb" -> rssMb)
      val layer = main.layer ++ extras ++
        overhead.map(o => "trace.overhead_pct" -> o) ++
        Seq("trace.spans" -> ctx.tracer.spans.size.toDouble)
      if (traced) writeTrace(ctx, Paths.get(opt("trace-file")))

      val steal1 = graft.core.Weather.stealTicks()
      val wallS = (System.nanoTime() - wall0) / 1e9
      val stealPct = if (steal0 < 0 || steal1 < 0) -1.0
        else graft.core.Weather.stealPct(steal1 - steal0, wallS, Runtime.getRuntime.availableProcessors())
      val stamp = Seq(
        "workload" -> w.name, "seed" -> ctx.seed, "seconds" -> seconds, "nproc" -> ctx.nproc,
        "git_sha" -> opt.getOrElse("git-sha", "unknown"),
        "spark_version" -> ctx.spark.version,
        "jvm_version" -> System.getProperty("java.vm.version"),
        "steal_pct" -> stealPct, "steal_tick_hz" -> graft.core.Weather.stealTickHz,
        "samples" -> main.samples,
        "jvm_start_s" -> jvmStartS,
        "setup_reps_s" -> setupS.toSeq)
      if (ctx.attempted == 0) ctx.fail("no operation completed inside the window")
      result = Some(Map(
        "correct" -> (ctx.failures.isEmpty && ctx.failed == 0),
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "e2e" -> e2e.toMap,
        "layer" -> layer,
        "named" -> (main.named ++ Seq("peak_rss_mb" -> rssMb, "setup_s" -> Stats.median(setupS.toSeq),
          "failed_frac" -> (if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted))),
        "stamp" -> stamp.toMap,
        "failures" -> ctx.failures.take(20).toSeq))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"run aborted: $e")
    } finally {
      try ctx.stopSession() catch { case _: Throwable => () }
    }
    result.foreach(writeJson(out, _))
    if (result.isDefined && ctx.failures.isEmpty && ctx.failed == 0) 0 else 1
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def writeTrace(ctx: Ctx, file: Path): Unit = {
    Files.createDirectories(file.getParent)
    writeJson(file, ctx.tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val f = p.toFile
    def rm(x: File): Unit = {
      if (x.isDirectory && !Files.isSymbolicLink(x.toPath)) Option(x.listFiles).foreach(_.foreach(rm))
      x.delete()
    }
    rm(f)
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def entries(p: Path): Int = Option(p.toFile.list()).map(_.length).getOrElse(0)
}
