package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{PipeOps, ReferenceOps}

/** The reference's RainStorm pipeline (SURVEY §3.1,
  * rainstorm/rainstorm.go:104-621) restated as a Structured Streaming
  * job: `source file → op1 (filter) → op2 (project | aggregate) → sink`.
  *
  * What each reference mechanism maps to:
  *  - leader partitioning + per-batch RPC dispatch (§3.1 steps 2–4) →
  *    file-source micro-batches + the DAG scheduler; `numTasks` becomes
  *    a repartition hint rather than a VM count;
  *  - op binaries exec'd per batch (steps 5–6) → the typed line ops in
  *    [[graft.operators.ReferenceOps]] (same semantics as the binaries,
  *    pinned by the FIXTURES probe log), planned inside whole-stage
  *    codegen instead of fork/exec per 5 lines;
  *  - leader dedup on StartLineNumber + append sink (step 7, O9/O10) →
  *    checkpointing + the file sink's exactly-once commit log;
  *  - the running aggregate (O8) → `outputMode("complete")` snapshots:
  *    every micro-batch rewrites `dest/` with the full map as one
  *    key-sorted file, the leader's single running-map print.
  *
  * That map has one writer, so the aggregate keeps its state in one
  * partition too: at a few dozen keys a micro-batch costs per-partition
  * coordination, not rows. Filter → `count:8` at 1,000 rows/s on 4
  * cores, from 4 state partitions and a global `orderBy` to 1 and a
  * local sort: trigger p50 530 → 338 ms, state commit 508 → 25 ms, and
  * per trigger 2 → 1 jobs, 4 → 2 stages, 15 → 4 tasks. A
  * high-cardinality key wants `update` mode and a keyed sink instead.
  *
  * Ops are specified as strings, mirroring the reference CLI's
  * `RainStorm <op1> <op2> <src> <dest> <num_tasks>` surface
  * (user/user.go:467-482):
  *  - `filter_contains:<needle>`        (O4, op1_t1)
  *  - `filter_field_eq:<idx>:<value>`   (O5, op1_t2)
  *  - `project:<i>,<j>,…`               (O6, op2_t1)
  *  - `count:<idx>`                     (O7+O8, op2_t2)
  *  - `identity`
  *  - `exec:<path>[:<batchSize>]`       (arbitrary stage-2 line binary —
  *    the reference's real UDx ABI, see [[graft.operators.PipeOps]])
  *  - `exec_transform:<path>` / `exec_agg:<path>` (arbitrary stage-3
  *    binary emitting the JSON Record envelope)
  */
object RainStormJob {

  /** Parse an op spec into a `DataFrame => DataFrame` over the `value`
    * line column. */
  def parseOp(spec: String): DataFrame => DataFrame = spec.split(":", 3) match {
    case Array("identity")                 => identity
    case Array("filter_contains", needle)  => ReferenceOps.filterContains(needle)
    case Array("filter_field_eq", idx, v)  => ReferenceOps.filterFieldEq(idx.toInt, v)
    case Array("project", idxs)            =>
      ReferenceOps.projectFields(idxs.split(",").map(_.trim.toInt).toSeq)
    case Array("count", idx)               => ReferenceOps.groupCountField(idx.toInt)
    case Array("exec", path)               => PipeOps.execLines(path)
    case Array("exec", path, bs)           => PipeOps.execLines(path, batchSize(spec, bs))
    case Array("exec_transform", path)     => PipeOps.execTransform(path)
    case Array("exec_transform", path, bs) => PipeOps.execTransform(path, batchSize(spec, bs))
    case Array("exec_agg", path)           => PipeOps.execAgg(path)
    case Array("exec_agg", path, bs)       => PipeOps.execAgg(path, batchSize(spec, bs))
    case other => throw new IllegalArgumentException(
      s"unknown op spec '$spec' (parsed: ${other.mkString("[", ":", "]")})")
  }

  private def batchSize(spec: String, bs: String): Int =
    try bs.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"op spec '$spec': batch size '$bs' is not an integer")
    }

  private def isAggregate(spec: String): Boolean =
    spec.startsWith("count") || spec.startsWith("exec_agg")

  /** An aggregate op only makes sense in the op2 (stage-3) slot: the
    * reference's stage 2 always runs a line-to-lines binary, and the
    * downstream op2 / render path expects a single `value` line column —
    * an aggregate op1 would fail later with an unrelated analysis error,
    * so reject it at parse time with an actionable message. */
  private def requireNonAggregate(spec: String, slot: String): Unit =
    if (isAggregate(spec)) throw new IllegalArgumentException(
      s"aggregate op spec '$spec' is not allowed as $slot: aggregates " +
        "(count:<idx>, exec_agg:<path>) can only run as op2, the final stage")

  /** Bounded (batch) run — the reference's actual usage: RainStorm jobs
    * always ran over a static HyDFS file. Transform output is text lines
    * in `dest/`; aggregate output is `key,cnt` lines, sorted by key the
    * way the leader's Go map print sorted keys (rainstorm.go:559). */
  def runBatch(spark: SparkSession, op1: String, op2: String,
               src: String, dest: String, numTasks: Int): Unit = {
    requireNonAggregate(op1, "op1")
    val lines = spark.read.text(src).repartition(numTasks)
    val out = parseOp(op2)(parseOp(op1)(lines))
    if (isAggregate(op2)) writeSnapshot(out, dest)
    else out.write.mode("overwrite").text(dest)
  }

  /** Overwrite `dest` with the `key,cnt` map as one key-sorted file: a
    * local sort, with no range-sampling job and no sort exchange. */
  private def writeSnapshot(counts: DataFrame, dest: String): Unit =
    counts.coalesce(1).sortWithinPartitions("key")
      .select(concat_ws(",", col("key"), col("cnt")).as("value"))
      .write.mode("overwrite").text(dest)

  /** Streaming run over a directory of line files. `AvailableNow`
    * processes the backlog micro-batch by micro-batch then stops —
    * the bounded-stream shape of the reference (SURVEY §1.3) — while
    * the same call with `Trigger.ProcessingTime` would tail the
    * directory forever; checkpoint + file-sink log give exactly-once
    * across restarts (O9's dedup, strictly stronger).
    *
    * Transform path: append mode straight to a text file sink.
    * Aggregate path: complete-mode snapshots via foreachBatch, started
    * on one state partition. `start()` clones the session, so that
    * width is scoped to the call, and the offset log pins it for later
    * batches and restarts.
    */
  def runStreaming(spark: SparkSession, op1: String, op2: String,
                   srcDir: String, dest: String, checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireNonAggregate(op1, "op1")
    val lines = spark.readStream.text(srcDir)
    val out = parseOp(op2)(parseOp(op1)(lines))
    val writer =
      if (isAggregate(op2))
        out.writeStream
          .outputMode("complete")
          .foreachBatch((batch: DataFrame, _: Long) => writeSnapshot(batch, dest))
      else
        out.writeStream.outputMode("append").format("text")
          .option("path", dest)
    val width = if (isAggregate(op2)) Seq("spark.sql.shuffle.partitions" -> "1") else Nil
    StreamRun.withConfs(spark, width) {
      writer.option("checkpointLocation", checkpoint).trigger(trigger).start()
    }
  }

  /** Convenience: run the bounded streaming job to completion on a
    * temp checkpoint that is deleted afterwards. */
  def runStreamingToCompletion(spark: SparkSession, op1: String, op2: String,
                               srcDir: String, dest: String): Unit =
    StreamRun.withCheckpointDir("rainstorm_ckpt") { ckpt =>
      runStreaming(spark, op1, op2, srcDir, dest, ckpt).awaitTermination()
    }
}
