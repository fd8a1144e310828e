package graft.streaming

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The one run harness for the memory-sink streaming members of the
  * inventory: every key hands it a streaming DataFrame and gets back
  * the drained sink plus the query's progress. The harness owns the
  * whole lifecycle — conf scope, temp checkpoint dir, UUID-named memory
  * sink started with `AvailableNow` and awaited — and its `finally`
  * stops the query, drops the sink view, deletes the checkpoint dir and
  * restores the session confs, so a call leaves nothing behind
  * (StreamRunLeakSpec pins it). */
object StreamRun {

  /** The state-store confs every run applies. The provider choice is
    * scale-deliberate: RocksDB with changelog checkpointing. The
    * default HDFS-backed provider keeps every key of every state
    * partition in executor heap memory and snapshots whole maps per
    * commit — at 100 TB ingest (stream-stream join buffers, dedup key
    * sets, session state for every active user) that heap residency is
    * THE streaming scale ceiling; RocksDB keeps state off-heap with
    * disk spill, and changelog checkpointing uploads only each batch's
    * delta instead of a full snapshot, making commit cost follow the
    * CHANGE rate, not the state size. The provider's demo-feed price
    * is ATTRIBUTED, not just accepted (RocksDbStateSpec instruments
    * the x31 shape): per batch, the dominant term is the CHANGELOG
    * COMMIT FILE-SYNC — one fsync'd file per state store per batch
    * (x31/x32 run FOUR stores per partition), plus a one-time ~18 ms
    * open per store and 100–400 ms of per-trigger query re-planning.
    * That fsync term is exactly the component that inflates under a
    * loaded IO subsystem, which is why the round-5 driver bench (heavy
    * co-tenant IO) measured these lines at 2–3× their quiet values
    * while the non-streaming board stayed flat. Round-6 mitigations,
    * measured quiet at sf0.1 (min of two passes, 8-query subset
    * 19.5 → 17.0 s): checkpoint checksum SIDECAR files off, RocksDB
    * put-path read-before-write off, and demo feeds sized to 4 state
    * partitions (x31 2.95 s, x32 3.87 s, x27 2.55 s, x33 1.96 s; 2
    * partitions was tried and is SLOWER quiet — per-store fsyncs run in
    * parallel across tasks, so halving partitions serializes them). At
    * demo scale the HDFS provider's in-memory maps remain unbeatable;
    * at production state sizes they are the thing that falls over
    * first. */
  val stateStoreConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // skip the read-before-write RocksDB does per put to keep an
    // exact key count (a METRICS nicety, not a semantics one):
    // numRowsTotal reports -1 instead and every put saves a get
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    // 4.1 writes a checksum SIDECAR next to every checkpoint file
    // (default on) — for a RocksDB changelog commit that means 2x the
    // file creates/renames/syncs per store per batch, and
    // RocksDbStateSpec measured the changelog file-sync as THE dominant
    // per-batch fixed cost. Integrity checking of throwaway demo
    // checkpoints buys nothing; deployments pointing checkpoints at an
    // object store can re-enable it per query
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** A drained run: `rows` is the memory sink's contents as an
    * already-analyzed plan (it does not resolve through the catalog, so
    * it stays valid after the sink view is dropped), `progress` the
    * query's `recentProgress`. */
  final case class Drained(rows: DataFrame, progress: Seq[StreamingQueryProgress])

  /** Run `body` with a fresh temp checkpoint dir `<prefix>*` that is
    * deleted afterwards, whether `body` returns or throws. */
  def withCheckpointDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Drain `stream` into a memory sink with `AvailableNow`. The state
    * partition count is `partitions`: a streaming aggregation's state
    * store width is pinned from `spark.sql.shuffle.partitions` at query
    * start, and every micro-batch commits one delta file per state
    * partition — at the session's 32, commit overhead dwarfs these
    * bounded demo feeds (measured at sf0.1: x27 6.9 s → 3.2 s, r9
    * 2.5 s → 1.4 s when sized to 8). `stream` is built inside the conf
    * scope, so feed builds and schema reads see the same confs as the
    * run. `label` names the checkpoint dir (`graft_<label>*`) and the
    * sink view. */
  def apply(spark: SparkSession, label: String, partitions: Int, outputMode: String)
      (stream: => DataFrame): Drained =
    withConfs(spark, ("spark.sql.shuffle.partitions" -> partitions.toString) +: stateStoreConf) {
      withCheckpointDir(s"graft_$label") { ckpt =>
        val view = s"${label}_state_" + UUID.randomUUID().toString.replace("-", "")
        val q = stream.writeStream
          .outputMode(outputMode)
          .format("memory")
          .queryName(view)
          .option("checkpointLocation", s"$ckpt/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        try {
          q.awaitTermination()
          Drained(spark.table(view), q.recentProgress.toSeq)
        } finally {
          q.stop()
          spark.catalog.dropTempView(view)
        }
      }
    }

  /** Set `pairs` around `body`, then put back exactly what was set
    * before: `getAll` lists only explicitly set keys, where `getOption`
    * would report a registered conf's default and the restore would
    * then pin it explicitly. Two users: [[apply]] around a whole run,
    * and [[RainStormJob.runStreaming]] around an aggregate's `start()`. */
  private[streaming] def withConfs[T](spark: SparkSession, pairs: Seq[(String, String)])(body: => T): T = {
    val set = spark.conf.getAll
    val old = pairs.map { case (k, _) => k -> set.get(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
