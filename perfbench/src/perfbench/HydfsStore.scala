package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.AppendLogStore

/** `hydfs_append_read`: one `AppendLogStore` table of (ts, content),
  * modelled on the reference's exp2 append experiment (a run of appends,
  * then a merge). `create` writes a seeded base; then one closed-loop
  * client runs whole cycles: `compactEvery` small seeded appends with
  * rising ts, a fully materialized merge-on-read `read` after every
  * `readEvery`th, and a `compact` at the end. Reads therefore see 4, 8,
  * ..., 40 log segments in every cycle; read cost grows with the number
  * of segments and falls after a compact, so a change that trades read
  * cost against write cost or space shows here. Every read is compared
  * with the ts-ordered rows the benchmark appended, after its timed
  * span. The only workload that writes. */
object HydfsStore extends Workload {
  val name = "hydfs_append_read"

  val baseRows = 2000
  val appendRows = 50
  /** A compact every 40 appends lets reads see up to 40 log segments,
    * over which a read's cost grows by about half (about 0.45 s over 4
    * segments, 0.55–0.75 s over 40, on 4 cores). A read after every 4th
    * append gives 10 reads per cycle, and a cycle (about 8.5 s) fits a
    * 10-second window. */
  val readEvery = 4
  val compactEvery = 40

  private val schema = StructType(Seq(StructField("ts", LongType), StructField("content", StringType)))
  private val words = Array("append", "read", "merge", "replica", "ring", "node", "leader", "log",
    "segment", "compact", "file", "block", "stream", "batch", "commit", "ts")

  private def content(r: Random): String =
    Seq.fill(3 + r.nextInt(6))(words(r.nextInt(words.length))).mkString(" ")

  /** Seeded rows with ts in [from, from + n). */
  private def rows(seed: Long, from: Long, n: Int): Seq[Row] = {
    val r = new Random(seed * 31L + from)
    (0 until n).map(i => Row(from + i, content(r)))
  }

  private def userBytes(rs: Seq[Row]): Long =
    rs.map(r => 8L + r.getString(1).getBytes("UTF-8").length).sum

  private var stores = 0
  private def freshRoot(ctx: Ctx): Path = {
    stores += 1
    ctx.repDir(ctx.rep).resolve(s"store$stores")
  }

  def prepare(ctx: Ctx, rep: Int): Unit = Files.createDirectories(ctx.repDir(rep))

  def warm(ctx: Ctx): Unit = {
    val s = new AppendLogStore(ctx.spark, freshRoot(ctx).toString)
    val base = rows(ctx.seed + 1, 0, baseRows)
    s.create(ctx.spark.createDataFrame(java.util.Arrays.asList(base: _*), schema))
    var model = base
    (1 to readEvery * 2).foreach { i =>
      val a = rows(ctx.seed + 1, baseRows + (i - 1) * appendRows, appendRows)
      s.append(ctx.spark.createDataFrame(java.util.Arrays.asList(a: _*), schema))
      model = model ++ a
      if (i % readEvery == 0 && s.read(Seq("content")).collect().toSeq != model)
        ctx.fail("warm read does not match the appended rows")
    }
    s.compact(Seq("content"))
  }

  private final case class Op(kind: String, ms: Double, layer: Map[String, Double])

  def measure(ctx: Ctx, seconds: Double, traced: Boolean): Window = {
    val tr = ctx.tracer
    val root = freshRoot(ctx)
    val store = new AppendLogStore(ctx.spark, root.toString)
    val base = rows(ctx.seed, 0, baseRows)
    store.create(ctx.spark.createDataFrame(java.util.Arrays.asList(base: _*), schema))
    val model = mutable.ArrayBuffer.empty[Row] ++= base
    var appended = userBytes(base)
    val ops = mutable.ArrayBuffer.empty[Op]
    val space = mutable.ArrayBuffer.empty[Double]
    val segmentsAtRead = mutable.ArrayBuffer.empty[Double]
    val filesOnDisk = mutable.ArrayBuffer.empty[Double]
    val rewrite = mutable.ArrayBuffer.empty[Double]
    var appendedRows = 0L

    /** Times `body` as one `kind` op. `check` runs after the timed span;
      * an op that throws or fails its check is an infinite latency. */
    def timed(kind: String)(body: => Unit)(check: => Boolean): Unit = {
      val s0 = tr.now()
      val ran = try { tr.span(s"sources.$kind")(body); true } catch {
        case e: Throwable => ctx.failures += s"$kind: $e"; false
      }
      val s1 = tr.now()
      val ok = ran && check
      ctx.outcome(ok, s"$kind failed")
      val layer = if (!traced) Map.empty[String, Double] else {
        tr.quiesce()
        val w = tr.work(s0, s1)
        tr.addJobSpans(tr.spans.last, w.jobs)
        val active = tr.jobActiveMs(w.jobs, s0, s1)
        Map("jobs" -> w.jobs.size.toDouble, "stages" -> w.stages.size.toDouble,
          "tasks" -> w.stageSum(_.tasks).toDouble, "wall" -> (s1 - s0), "active" -> active,
          "driver" -> (s1 - s0 - active),
          "run" -> w.stageSum(_.runMs), "cpu" -> w.stageSum(_.cpuMs), "gc" -> w.stageSum(_.gcMs),
          "input" -> w.stageSum(_.input.toDouble), "shuffle_read" -> w.stageSum(_.shuffleRead.toDouble),
          "shuffle_write" -> w.stageSum(_.shuffleWrite.toDouble), "spill" -> w.stageSum(_.spill.toDouble),
          "skew" -> w.taskSkew)
      }
      ops += Op(kind, if (ok) s1 - s0 else Double.PositiveInfinity, layer)
    }

    // whole cycles only, so every window sees the same spread of
    // segment counts; no cycle starts that would overrun the window by
    // more than half a cycle
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var lastCycleS = 0.0
    var i = 0
    while (i == 0 || elapsedS + 0.5 * lastCycleS < seconds) {
      val c0 = elapsedS
      (1 to compactEvery).foreach { _ =>
        i += 1
        val a = rows(ctx.seed, baseRows.toLong + (i - 1) * appendRows, appendRows)
        val df = ctx.spark.createDataFrame(java.util.Arrays.asList(a: _*), schema)
        timed("append")(store.append(df))(true)
        model ++= a
        appended += userBytes(a)
        appendedRows += appendRows
        if (i % readEvery == 0) {
          segmentsAtRead += Main.entries(root.resolve("log")).toDouble
          var got: Seq[Row] = Nil
          timed("read") { got = store.read(Seq("content")).collect().toSeq } {
            got == model || {
              ctx.failures += s"read after append $i differs from the ${model.size} ts-ordered rows appended"
              false
            }
          }
        }
      }
      space += Main.treeBytes(root).toDouble / appended
      filesOnDisk += countFiles(root).toDouble
      timed("compact")(store.compact(Seq("content")))(true)
      rewrite += Main.treeBytes(root.resolve("base")).toDouble
      lastCycleS = elapsedS - c0
    }
    val storeMs = ops.map(_.ms).sum
    def lat(kind: String) = ops.filter(_.kind == kind).map(_.ms).toSeq
    val named = Map(
      "append_p50_ms" -> Stats.median(lat("append")),
      "append_p75_ms" -> Stats.pct(lat("append"), Stats.tail),
      "read_p50_ms" -> Stats.median(lat("read")),
      "read_p75_ms" -> Stats.pct(lat("read"), Stats.tail),
      "compact_ms" -> Stats.median(lat("compact")),
      "bytes_per_user_byte" -> Stats.median(space.toSeq),
      "appends" -> lat("append").size.toDouble,
      "reads" -> lat("read").size.toDouble,
      "compacts" -> lat("compact").size.toDouble) ++
      Stats.supported("append_p95_ms", Seq(lat("append")), 0.95) ++
      Stats.supported("read_p90_ms", Seq(lat("read")), 0.9)
    val layer = if (!traced) Map.empty[String, Double] else {
      def med(kind: Option[String], k: String): Double =
        Stats.median(ops.filter(o => kind.forall(_ == o.kind)).map(_.layer.getOrElse(k, 0.0)).toSeq)
      // means, not medians, for the split, so active + driver-only = wall
      def mean(k: String): Double = ops.map(_.layer.getOrElse(k, 0.0)).sum / ops.size
      Map(
        "sources.append_ms" -> named("append_p50_ms"),
        "sources.read_ms" -> named("read_p50_ms"),
        "sources.compact_ms" -> named("compact_ms"),
        "sources.bytes_per_user_byte" -> named("bytes_per_user_byte"),
        "sources.log_segments_at_read" -> Stats.median(segmentsAtRead.toSeq),
        "sources.read_input_bytes" -> med(Some("read"), "input"),
        "sources.read_shuffle_bytes" -> med(Some("read"), "shuffle_read"),
        "sources.append_jobs" -> med(Some("append"), "jobs"),
        "sources.read_jobs" -> med(Some("read"), "jobs"),
        "sources.compact_rewrite_bytes" -> Stats.median(rewrite.toSeq),
        "sources.files_on_disk" -> Stats.median(filesOnDisk.toSeq),
        "exec.op_wall_ms" -> mean("wall"),
        "exec.job_active_ms" -> mean("active"),
        "exec.driver_only_ms" -> mean("driver"),
        "exec.jobs" -> med(None, "jobs"),
        "exec.stages" -> med(None, "stages"),
        "exec.tasks" -> med(None, "tasks"),
        "exec.run_ms" -> med(None, "run"),
        "exec.cpu_ms" -> med(None, "cpu"),
        "exec.gc_ms" -> med(None, "gc"),
        "exec.core_util" -> ops.map(_.layer.getOrElse("run", 0.0)).sum / (storeMs * ctx.nproc),
        "exec.shuffle_read_bytes" -> med(None, "shuffle_read"),
        "exec.shuffle_write_bytes" -> med(None, "shuffle_write"),
        "exec.spill_bytes" -> med(None, "spill"),
        "exec.input_bytes" -> med(None, "input"),
        "exec.task_skew" -> med(None, "skew"),
        "core.artifact_bytes" -> Main.treeBytes(ctx.artifactsDir).toDouble)
    }
    Window(named("read_p50_ms"), named("read_p75_ms"), appendedRows / (storeMs / 1e3),
      lat("read").size, named, layer)
  }

  private def countFiles(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).count() finally s.close()
  }
}
