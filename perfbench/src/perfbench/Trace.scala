package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval: a benchmark call into a layer, or a Spark job
  * attributed to the op that caused it. Times are epoch milliseconds
  * with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, start: Double, var end: Double, stages: Seq[Int],
                        batchId: Option[Long])

final case class StageRec(id: Int, runMs: Double, cpuMs: Double, gcMs: Double,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          input: Long, tasks: Int, wallMs: Double)

/** Work attributed to one op: its jobs and their completed stages. */
final case class OpWork(jobs: Seq[JobRec], stages: Seq[StageRec], taskSkew: Double) {
  def stageSum(f: StageRec => Double): Double = stages.map(f).sum
}

/** Spans kept in memory, plus the Spark and streaming listener events
  * that become child spans or counts of the op that caused them. Only
  * public listener APIs are used; the listener is attached to a session
  * while tracing is on and detached otherwise, so untraced windows pay
  * nothing for it. */
final class Tracer {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  /** Open spans, innermost first: (span id, op id). */
  private val open = mutable.Stack.empty[(Int, Int)]

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  @volatile private var lastEvent = now()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, e.stageIds, batch)
      lastEvent = now()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      lastEvent = now()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        val wall = (si.completionTime, si.submissionTime) match {
          case (Some(c), Some(s)) => (c - s).toDouble
          case _ => 0.0
        }
        stages(si.stageId) = StageRec(si.stageId, m.executorRunTime.toDouble,
          m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          si.numTasks, wall)
      }
      lastEvent = now()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached: Option[SparkSession] = None

  def attach(spark: SparkSession): Unit = {
    detach()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = Some(spark)
  }

  def detach(): Unit = {
    attached.foreach { s =>
      s.sparkContext.removeSparkListener(sparkListener)
      s.streams.removeListener(streamListener)
    }
    attached = None
  }

  def tracing: Boolean = attached.isDefined

  /** Runs `body` as a span named `name`, child of the innermost open
    * span, sharing its op id (a new op id when there is none). */
  def span[T](name: String)(body: => T): T = if (!tracing) body else {
    val id = nextId; nextId += 1
    val (parent, op) = open.headOption.getOrElse((0, id))
    val start = now()
    open.push((id, op))
    try body
    finally {
      open.pop()
      spans += Span(id, parent, op, name, start, now())
    }
  }

  /** Blocks until the listener bus has delivered the end of every job
    * it announced and has been quiet briefly, so that an op's jobs and
    * stages are all recorded before they are attributed. */
  def quiesce(maxMs: Double = 3000): Unit = {
    val deadline = now() + maxMs
    def settled = synchronized {
      jobs.valuesIterator.forall(j => !j.end.isNaN) && now() - lastEvent > 15
    }
    while (!settled && now() < deadline) Thread.sleep(2)
  }

  /** Jobs that started inside [start, end], with their stages. */
  def work(start: Double, end: Double): OpWork = synchronized {
    val js = jobs.valuesIterator.filter(j => j.start >= start - 1 && j.start <= end).toSeq
    workOf(js)
  }

  def workOfBatches(batchIds: Set[Long], since: Double): OpWork = synchronized {
    workOf(jobs.valuesIterator.filter(j => j.start >= since && j.batchId.exists(batchIds)).toSeq)
  }

  private def workOf(js: Seq[JobRec]): OpWork = {
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val longest = if (ss.isEmpty) None else Some(ss.maxBy(_.wallMs))
    val skew = longest.flatMap(s => taskMs.get(s.id)).filter(_.nonEmpty).map { ts =>
      val med = Stats.median(ts.toSeq)
      if (med > 0) ts.max / med else 1.0
    }.getOrElse(1.0)
    OpWork(js, ss, skew)
  }

  /** Length of the union of job intervals clipped to [start, end]. */
  def jobActiveMs(js: Seq[JobRec], start: Double, end: Double): Double = {
    val iv = js.map(j => (math.max(j.start, start), math.min(if (j.end.isNaN) end else j.end, end)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Records `js` as `exec.job.<id>` spans under op span `op`, each
    * parented to the op's direct child span that was open when the job
    * started (the op itself when none was). */
  def addJobSpans(op: Span, js: Seq[JobRec]): Unit = {
    val kids = spans.filter(_.parent == op.id).toSeq
    spans ++= js.map { j =>
      val parent = kids.find(k => j.start >= k.start - 1 && j.start <= k.end).map(_.id).getOrElse(op.id)
      Span(-j.id - 1, parent, op.op, s"exec.job.${j.id}", j.start, if (j.end.isNaN) j.start else j.end)
    }
  }

  /** `<layer>.self_ms` per op over the recorded spans (see [[selfTimes]]). */
  def selfPerOp(): Map[String, Double] = {
    val ops = spans.count(_.parent == 0)
    selfTimes(spans.toSeq).collect { case (layer, ms) if layer != "op" && ops > 0 =>
      s"$layer.self_ms" -> ms / ops }
  }

  def progressSince(since: Double): Seq[StreamingQueryListener.QueryProgressEvent] = synchronized {
    progress.filter(p => java.time.Instant.parse(p.progress.timestamp).toEpochMilli >= since - 1).toSeq
  }

  /** Self time per layer (a span name's first component): each span's
    * duration minus the part of its interval its direct children cover,
    * summed over the layer's spans. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => JobRec(0, c.start, c.end, Nil, None))
        s.ms - jobActiveMs(cs, s.start, s.end)
      }.sum
    }
  }

  private def layerOf(name: String): String = name.takeWhile(_ != '.')
}

object Stats {
  /** Percentile by linear interpolation between closest ranks, the
    * `statistics.quantiles(method="inclusive")` convention. Infinite
    * samples (failed operations) sort last. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    val frac = pos - lo
    if (frac == 0 || s(lo).isInfinite) s(lo)
    else if (s(hi).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * frac
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The percentile `latency_tail_ms` reports. A 10-second window gives
    * about 4 latencies per inventory key, 30 and 45 per feed app and 10
    * to 20 reads on the store, too few for a p90: it would rest on one
    * or two samples. */
  val tail = 0.75

  /** `name` -> the mean over `groups` of each group's `p`th percentile,
    * or nothing unless every group has at least 10 samples beyond it. */
  def supported(name: String, groups: Seq[Seq[Double]], p: Double): Map[String, Double] =
    if (groups.isEmpty || groups.exists(_.size * (1 - p) < 10)) Map.empty
    else Map(name -> groups.map(pct(_, p)).sum / groups.size)
}

object Layers {
  import StreamingQueryListener.QueryProgressEvent

  /** streaming.* from the trigger progress events of a window: batch
    * count per unit of work, and per-trigger medians of the progress
    * duration components and state-store figures. */
  def streaming(ps: Seq[QueryProgressEvent], units: Int): Map[String, Double] = {
    val prog = ps.map(_.progress).filter(_.durationMs.containsKey("triggerExecution"))
      .filter(_.numInputRows > 0)
    def dur(k: String): Double =
      Stats.median(prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      Stats.median(prog.map(_.stateOperators.map(f).sum.toDouble))
    if (prog.isEmpty) Map("streaming.batches" -> 0.0)
    else Map(
      "streaming.batches" -> prog.size.toDouble / math.max(units, 1),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.rows_per_batch" -> Stats.median(prog.map(_.numInputRows.toDouble)),
      "streaming.state_rows" -> state(_.numRowsTotal),
      "streaming.state_memory_bytes" -> state(_.memoryUsedBytes),
      "streaming.state_commit_ms" -> state(_.commitTimeMs))
  }
}
