package graft

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The stream-stream JOIN throughput row (round 12): x51 gives the
  * keyed-dedup state path a real rows/s number and the retired
  * streaming-floor probe (PLANS.md) pinned the per-trigger fixed cost,
  * but the join state path (x31/x32) had only floor-dominated demo
  * feeds. This drives x31's EXACT join
  * definition over the 10× two-source feed — every view loads into
  * buffered join state in batch 1, every purchase streams through it
  * in batch 2 — so wall time is dominated by rows through the four
  * join state stores, not trigger planning. The measured rows/s line
  * lands in PLANS.md; the assertion here is (a) exactness against the
  * batch twin on the identical replicated relation and (b) a
  * deliberately conservative throughput tripwire (the measured band is
  * an order of magnitude above it — the assert exists to catch a
  * state-store pathology, not to pin the band against machine noise). */
class StreamJoinThroughputSpec extends AnyFunSuite with SparkSuite {

  test("x31's join sustains row-dominated throughput on the 10x feed; output exact vs the batch twin") {
    val dir = "/root/testdata/sf0.1"
    val feed = graft.streaming.StreamingQueries.joinThroughputFeedFor(spark, dir)
    val vPath = s"$feed/views"
    val pPath = s"$feed/purchases"
    val vRows = spark.read.parquet(vPath).count()
    val pRows = spark.read.parquet(pPath).count()
    assert(vRows > 100000L, s"feed too small to be row-dominated: $vRows views")
    withConfs("spark.sql.shuffle.partitions" -> "4") {
      val schema = spark.read.parquet(vPath).schema
      val views = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(vPath)
      val purchases = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(pPath)
      val qname = "x31tp_" + UUID.randomUUID().toString.replace("-", "")
      val tmp = Files.createTempDirectory("graft_x31tp").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingQueries.x31Join(views, purchases)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val rowsPerSec = (vRows + pRows) / wall
      info(f"x31 join 10x feed: ${vRows + pRows}%,d input rows in $wall%.2f s = $rowsPerSec%,.0f rows/s (4 state partitions)")

      // exactness: the batch inner join with the same predicate over
      // the identical replicated relation is an exact oracle (nothing
      // in the feed is late)
      val bv = spark.read.parquet(vPath).select(
        col("event_id").as("view_id"), col("user_id").as("v_uid"),
        col("ts").as("v_ts"))
      val bp = spark.read.parquet(pPath).select(
        col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val want = bp.join(bv,
          col("user_id") === col("v_uid") &&
            expr("v_ts BETWEEN p_ts - INTERVAL 1 DAY AND p_ts"))
        .select(col("user_id"), col("purchase_id"), col("view_id"))
      val got = spark.table(qname)
      val wantN = want.count()
      assert(got.count() == wantN, "streamed join match count diverged from the batch twin")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "streamed join matches diverged from the batch twin")
      assert(wantN > 0, "feed produced no matches — the instrument measured nothing")
      // per-replica isolation: ids were offset per replica, so matches
      // must be exactly 10x the single-replica join, never a cross-
      // replica product
      val oneReplica = want.filter(col("purchase_id") < 1000000000L).count()
      assert(wantN == 10 * oneReplica,
        s"replica offsets leaked: $wantN total vs $oneReplica per replica")
      assert(rowsPerSec > 10000.0,
        f"stream-stream join throughput collapsed: $rowsPerSec%.0f rows/s")
    }
  }
}
