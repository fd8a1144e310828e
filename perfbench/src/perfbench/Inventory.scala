package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

import graft.SparkEntry

/** `inventory`: a fixed mix of declared keys from every query family,
  * called through `SparkEntry.queries` on tables generated at a small
  * scale, one closed-loop client, each pass in a seed-shuffled order.
  * Fixed per-query cost dominates at this scale (job scheduling,
  * DataFrame construction, planning, micro-batch triggers), with a few
  * kernel-heavy keys so `functions` work shows too. Every result is
  * checked against the DuckDB-derived row count and fingerprint in
  * expected.json. */
object Inventory extends Workload {
  val name = "inventory"

  /** The keys, with why each is in the mix. */
  val keys: Seq[String] = Seq(
    "r5_group_count",     // scan -> aggregate -> sort, the reference's grouped count
    "t2_quality_score",   // one-job text scoring: the per-query driver floor
    "d2_simhash",         // simhash30 kernel + candidate-pair join
    "x42_recursive_cte",  // iterative unroll, 22 small jobs
    "d13_containment")    // artifact-backed: built in set-up, read when timed

  /** Generated table scale and data seed; expected.json is derived from
    * exactly these (derive_expected.py). */
  val sf = "0.002"
  val dataSeed = "42"


  private var dataDir: String = _
  private lazy val expected: Map[String, (Long, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val fmt: Formats = DefaultFormats
    val j = parse(new String(Files.readAllBytes(benchDir.resolve("expected.json")), "UTF-8"))
    require((j \ "sf").extract[String] == sf && (j \ "data_seed").extract[String] == dataSeed,
      "expected.json was derived for another table scale or data seed")
    (j \ "keys").extract[Map[String, Map[String, String]]].map { case (k, v) =>
      k -> (v("rows").toLong, v("fp"))
    }
  }
  private var benchDir: Path = _

  def prepare(ctx: Ctx, rep: Int): Unit = {
    benchDir = ctx.benchDir
    val dir = ctx.repDir(rep).resolve("tables")
    val p = new ProcessBuilder("python3", benchDir.resolve("gen_tables.py").toString,
      dir.toString, "--sf", sf, "--seed", dataSeed).inheritIO().start()
    if (p.waitFor() != 0) throw new IllegalStateException("table generation failed")
    dataDir = dir.toString
  }

  def warm(ctx: Ctx): Unit = {
    expected // parsed during set-up, not inside the window
    keys.foreach { k =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(k)(ctx.spark, dataDir).collect()
      catch { case e: Throwable => ctx.fail(s"warm $k: $e") }
      System.err.println(f"[perfbench] warm ${ctx.rep}%d $k%-22s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
      ctx.releaseCaches()
    }
  }

  /** One timed call: build the DataFrame and collect its rows. */
  private final case class Op(key: String, ms: Double, ok: Boolean, layer: Map[String, Double])

  private def runOp(ctx: Ctx, key: String, traced: Boolean): Op = {
    val tr = ctx.tracer
    val fn = SparkEntry.queries(key)
    var rows: Array[Row] = null
    var df: DataFrame = null
    val t0 = System.nanoTime()
    val err = try {
      tr.span(s"op.$key") {
        df = tr.span("queries.build")(fn(ctx.spark, dataDir))
        if (traced) {
          tr.span("plans.optimize")(df.queryExecution.optimizedPlan)
          tr.span("plans.physical")(df.queryExecution.executedPlan)
        }
        rows = tr.span("exec.collect")(df.collect())
      }
      None
    } catch { case e: Throwable => Some(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = err.isEmpty && {
      val got = Fingerprint.of(df.schema.fieldNames.toSeq, rows)
      val want = expected(key)
      if (got != want) { ctx.failures += s"$key: got rows=${got._1} fp=${got._2}, expected rows=${want._1} fp=${want._2}"; false }
      else true
    }
    err.foreach(e => ctx.failures += s"$key: $e")
    val layer = if (!traced || !ok) Map.empty[String, Double] else {
      tr.quiesce()
      val opSpan = tr.spans.last
      val part = tr.spans.filter(_.parent == opSpan.id).map(p => p.name -> p).toMap
      val build = part("queries.build")
      val w = tr.work(opSpan.start, opSpan.end)
      tr.addJobSpans(opSpan, w.jobs)
      val active = tr.jobActiveMs(w.jobs, opSpan.start, opSpan.end)
      val nodes = mutable.ArrayBuffer.empty[SparkPlan]
      walk(df.queryExecution.executedPlan, nodes)
      Map(
        "queries.build_ms" -> build.ms,
        "queries.build_jobs" -> w.jobs.count(j => j.start >= build.start - 1 && j.start <= build.end).toDouble,
        "plans.optimize_ms" -> part("plans.optimize").ms,
        "plans.physical_ms" -> part("plans.physical").ms,
        "plans.nodes" -> nodes.size.toDouble,
        "plans.exchanges" -> nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] ||
          n.isInstanceOf[BroadcastExchangeLike]).toDouble,
        "exec.op_wall_ms" -> opSpan.ms,
        "exec.job_active_ms" -> active,
        "exec.driver_only_ms" -> (opSpan.ms - active),
        "exec.jobs" -> w.jobs.size.toDouble,
        "exec.stages" -> w.stages.size.toDouble,
        "exec.tasks" -> w.stageSum(_.tasks).toDouble,
        "exec.run_ms" -> w.stageSum(_.runMs),
        "exec.cpu_ms" -> w.stageSum(_.cpuMs),
        "exec.gc_ms" -> w.stageSum(_.gcMs),
        "exec.shuffle_read_bytes" -> w.stageSum(_.shuffleRead.toDouble),
        "exec.shuffle_write_bytes" -> w.stageSum(_.shuffleWrite.toDouble),
        "exec.spill_bytes" -> w.stageSum(_.spill.toDouble),
        "exec.input_bytes" -> w.stageSum(_.input.toDouble),
        "exec.task_skew" -> w.taskSkew)
    }
    ctx.releaseCaches()
    Op(key, if (ok) ms else Double.PositiveInfinity, ok, layer)
  }

  /** Every node of the final plan, through AQE stages and subqueries. */
  private def walk(p: SparkPlan, acc: mutable.ArrayBuffer[SparkPlan]): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, acc)
    case q: QueryStageExec => walk(q.plan, acc)
    case r: ReusedExchangeExec => acc += r
    case other =>
      acc += other
      other.children.foreach(walk(_, acc))
      other.subqueries.foreach(walk(_, acc))
  }

  def measure(ctx: Ctx, seconds: Double, traced: Boolean): Window = {
    val art = ctx.artifactsDir
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val artBefore = Main.entries(art)
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Seq[Op]]
    val leftTmp = mutable.ArrayBuffer.empty[Double]
    val leftTables = mutable.ArrayBuffer.empty[Double]
    val streamAt = ctx.tracer.now()
    val t0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - t0) / 1e6
    var pass = 0
    // whole passes only; no pass starts that would overrun the window
    // by more than half a pass
    var lastPassMs = 0.0
    while (passes.isEmpty || elapsedMs + 0.5 * lastPassMs < seconds * 1e3) {
      val p0 = elapsedMs
      val tmp0 = Main.entries(tmp)
      val tables0 = ctx.spark.catalog.listTables().count()
      val order = new Random(ctx.seed * 1000003L + pass).shuffle(keys)
      val p = order.map { k =>
        val op = runOp(ctx, k, traced)
        System.err.println(f"[perfbench] pass $pass%d $k%-22s ${op.ms}%9.1f ms")
        ctx.outcome(op.ok, s"$k failed")
        op
      }
      lastPassMs = elapsedMs - p0
      passes += p
      ops ++= p
      leftTmp += (Main.entries(tmp) - tmp0).toDouble
      leftTables += (ctx.spark.catalog.listTables().count() - tables0).toDouble
      pass += 1
    }
    val passMs = passes.map(_.map(_.ms).sum).toSeq
    // Latencies of a fixed key mix are not independent samples: a
    // percentile over them jumps across the gaps between keys. So each
    // figure is taken per key and averaged over the keys.
    val perKey = ops.groupBy(_.key).values.map(_.map(_.ms).toSeq).toSeq
    val named = Map(
      "pass_s" -> Stats.median(passMs) / 1e3,
      "query_p50_ms" -> perKey.map(Stats.median).sum / perKey.size,
      "query_p75_ms" -> perKey.map(Stats.pct(_, Stats.tail)).sum / perKey.size,
      "passes" -> passes.size.toDouble) ++ Stats.supported("query_p90_ms", perKey, 0.9)
    val layer = if (!traced) Map.empty[String, Double] else {
      // the additive figures of the pass with the median op wall, all
      // from that one pass so that active + driver-only = op wall holds
      val byWall = passes.sortBy(_.map(_.layer.getOrElse("exec.op_wall_ms", 0.0)).sum)
      val mid = byWall((byWall.size - 1) / 2)
      val additive = mid.flatMap(_.layer.keySet).toSet - "exec.task_skew"
      val perPass = additive.toSeq.map(m => m -> mid.map(_.layer.getOrElse(m, 0.0)).sum).toMap
      val wall = perPass.getOrElse("exec.op_wall_ms", Double.NaN)
      perPass ++ Map(
        "exec.task_skew" -> Stats.median(ops.flatMap(_.layer.get("exec.task_skew")).toSeq),
        "exec.core_util" -> perPass.getOrElse("exec.run_ms", 0.0) / (wall * ctx.nproc),
        "core.artifact_builds" -> (Main.entries(art) - artBefore).toDouble,
        "core.artifact_bytes" -> Main.treeBytes(art).toDouble,
        "core.tmp_dirs_left" -> Stats.median(leftTmp.toSeq),
        "core.catalog_tables_left" -> Stats.median(leftTables.toSeq)) ++
        Layers.streaming(ctx.tracer.progressSince(streamAt), passes.size)
    }
    Window(named("query_p50_ms"), named("query_p75_ms"),
      keys.size / named("pass_s"), ops.size, named, layer)
  }

  /** Kernel cost per row: each registered kernel alone in a noop-forced
    * projection over fixed cached input columns, minus the same
    * projection of its input column. `text` is the documents' text,
    * `w` its lower-cased words, `ids` their shingle ids, `name` its first
    * 24 characters (the short strings the fuzzy join hashes). */
  val kernels: Seq[(String, String, String)] = Seq(
    ("simhash30", "simhash30(ids)", "ids"),
    ("minhash16", "minhash16(ids)", "ids"),
    ("shingle_hashes", "shingle_hashes(w)", "w"),
    ("gram_hashes", "gram_hashes(w, 5)", "w"),
    ("repeat_stats", "repeat_stats(w)", "w"),
    ("char_trigrams", "char_trigrams(text)", "text"),
    ("char_stats", "char_stats(text)", "text"),
    ("subword_count", "subword_count(text)", "text"),
    ("nfc_normalize", "nfc_normalize(text)", "text"),
    ("poly_hash", "poly_hash(text)", "text"),
    ("deletion_nbh_hashes", "deletion_nbh_hashes(name)", "name"),
    ("cosine_similarity", "cosine_similarity(embedding, embedding)", "embedding"),
    ("int8_quant_stats", "int8_quant_stats(embedding)", "embedding"))

  override def traceExtras(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    graft.functions.GraftFunctions.register(spark)
    val t0 = System.nanoTime()
    graft.core.Tables.names.foreach(t => graft.core.Tables.load(spark, dataDir, t).count())
    val loadMs = (System.nanoTime() - t0) / 1e6
    val copies = 10
    def replicated(t: String, cols: String*) = graft.core.Tables.load(spark, dataDir, t)
      .selectExpr(cols: _*).crossJoin(spark.range(copies).toDF("copy")).drop("copy")
    val text = replicated("documents", "text").selectExpr("text", "split(lower(text), ' ') AS w",
      "substring(text, 1, 24) AS name").selectExpr("*", "shingle_hashes(w) AS ids").cache()
    val vec = replicated("embeddings", "embedding").cache()
    text.createOrReplaceTempView("perfbench_text")
    vec.createOrReplaceTempView("perfbench_vec")
    val rows = Map("perfbench_text" -> text.count().toDouble, "perfbench_vec" -> vec.count().toDouble)
    def bestNs(sql: String): Double = (1 to 3).map { _ =>
      val s = System.nanoTime()
      spark.sql(sql).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s).toDouble
    }.min
    val perKernel = kernels.flatMap { case (k, e, input) =>
      val view = if (input == "embedding") "perfbench_vec" else "perfbench_text"
      try {
        val ns = bestNs(s"SELECT $e AS k FROM $view") - bestNs(s"SELECT $input AS k FROM $view")
        Some(s"functions.$k.ns_per_row" -> math.max(ns, 0.0) / rows(view))
      } catch { case e: Throwable => ctx.fail(s"kernel $k: $e"); None }
    }
    spark.catalog.dropTempView("perfbench_text")
    spark.catalog.dropTempView("perfbench_vec")
    ctx.releaseCaches()
    perKernel.toMap + ("core.tables_load_ms" -> loadMs)
  }
}
