package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ArtifactStore, Tables}
import graft.queries.FunctionQueries

/** Streaming members of the declared inventory (SURVEY §2.4).
  *
  * R9 is a real Structured Streaming run that happens to be driveable
  * from the batch Verify harness: the events table is fed in ts-ordered
  * chunks through a file-source stream, aggregated in complete mode, and
  * the final state is returned as a DataFrame. Its oracle is the plain
  * batch GROUP BY — the reference's own convergence property (test_MP4
  * analogue: running aggregate's final snapshot == batch answer).
  */
object StreamingQueries {

  /** Feed builds in this JVM — every feed is an [[ArtifactStore]]
    * directory artifact, and this is its build counter. */
  private[graft] val feedBuilds = new AtomicLong

  /** Get-or-build the feed `<key>_feed` derived from `<dir>/<table>`:
    * an [[ArtifactStore]] directory artifact under
    * `spark.graft.artifacts.dir`, keyed by the source table's files
    * plus `<key>_feed_<version>`, so a regenerated table or a bumped
    * version rebuilds it and retention prunes the old one. `build`
    * writes the feed's files into the directory it is given. Returns
    * the absolute path, since chaos subprocesses read feeds from
    * another working directory. */
  private def feed(spark: SparkSession, dir: String, key: String, table: String,
      version: String)(build: java.io.File => Unit): String = {
    val fp = ArtifactStore.fingerprint(dir, Seq(s"$table.parquet"), Seq(s"${key}_feed_$version"))
    ArtifactStore.getOrBuildDir(spark, s"${key}_feed", fp, dir, feedBuilds) { out =>
      build(out)
      Nil
    }.toString
  }

  /** The r9 feed (4 ts-range parquet files) is a pure function of the
    * source table, so it is written ONCE per SF dir and reused by every
    * later run in the container (Verify then Bench both pay it
    * otherwise — ~2 s of range-shuffle + write that measures the
    * harness, not the streaming semantics). */
  private[graft] def feedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "r9", "events", "v2") { out =>
      Tables.load(spark, dir, "events")
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(new java.io.File(out, "feed").toString)
    } + "/feed"

  /** R9 — running aggregate (O8, rainstorm.go:551-566): feed events in
    * ts-ordered chunks (repartitionByRange preserves global ts order
    * across files), `groupBy(event_type).count()` in complete mode;
    * return the final snapshot. */
  def r9StreamingAgg(spark: SparkSession, dir: String): DataFrame =
    StreamRun(spark, "r9", 4, "complete") {
      // 4 ts-range files fed 2 per trigger -> 2 genuine micro-batches:
      // the minimum that still exercises cross-batch state merge (the
      // semantics under test); per-trigger fixed cost (~1 s
      // planning+commit each) is the whole runtime of this query, so
      // batch count is the knob that matters.
      fileStream(spark, feedFor(spark, dir), 2)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
    }.rows.orderBy("event_type")

  /** A file-source stream over the parquet `feed`, `maxFiles` files
    * per trigger, with the schema read from the feed itself. */
  private def fileStream(spark: SparkSession, feed: String, maxFiles: Int): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", maxFiles.toString)
      .parquet(feed)

  /** Write `df` as ONE flat parquet file `<name>.parquet` in `out`
    * with an explicit mtime — FileStreamSource orders by (mtime, path),
    * so this pins the batch order of a multi-file feed. */
  private def writeOne(out: java.io.File)(df: DataFrame, name: String, mtime: Long): Unit = {
    val part = new java.io.File(out, s"build_$name")
    df.coalesce(1).write.mode("overwrite").parquet(part.toString)
    val f = part.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(out, s"$name.parquet")
    require(f.renameTo(dst) && dst.setLastModified(mtime), s"feed commit failed for $name")
    org.apache.commons.io.FileUtils.deleteDirectory(part)
  }

  /** x27's feed: three flat parquet files with explicit modification
    * times so FileStreamSource's (mtime, path) ordering is pinned —
    * `a` = the on-time ¾ of events (event_id % 4 ≠ 0), `b` = an EMPTY
    * bridge batch, `c` = the straggler ¼ PLUS one flush sentinel 10
    * minutes past the global max ts. The bridge matters: since
    * SPARK-40925 (3.4), stateful operators filter late input against
    * the PREVIOUS batch's watermark and evict/emit against the current
    * one — a straggler in the batch right after `a` would be admitted
    * (late watermark still 1970) and instantly flushed; one empty
    * batch later the late-event watermark has caught up to
    * max(a.ts) − 30 s and the defined-late drop actually happens.
    *
    * The sentinel rides IN the straggler file (round 18, guide §2 —
    * the per-trigger commit floor is this query's whole wall): batch 3
    * still filters the stragglers against the bridge-aged watermark
    * (late filter = PREVIOUS batch's watermark, unaffected by what
    * batch 3 itself carries), the sentinel advances the watermark at
    * the end of batch 3, and the engine's no-data batch (which the v3
    * four-file layout already relied on to flush after its sentinel
    * batch — its checkpoints show 5 committed batches) emits every
    * closed window. 4 micro-batches instead of 5; admitted/dropped
    * sets and emission batch-relative timing identical by
    * construction. Built once per SF dir, like the r9 feed. The mtime
    * base is an arbitrary fixed epoch — only the ORDER matters. */
  private def watermarkFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x27", "events", "v4") { out =>
      val events = Tables.load(spark, dir, "events").select(col("event_id"), col("ts"))
      val w = writeOne(out) _
      val t0 = 1600000000000L
      w(events.filter(col("event_id") % 4 =!= 0), "a", t0)
      w(events.filter(lit(false)), "b", t0 + 60000L)
      w(events.filter(col("event_id") % 4 === 0)
        .unionByName(events.agg(lit(-1L).as("event_id"),
          (max(col("ts")) + expr("INTERVAL 10 MINUTES")).as("ts"))), "c", t0 + 120000L)
    }

  /** x29's feed: the on-time batch, an empty bridge, then a batch that
    * RE-SENDS a third of the on-time rows verbatim (same event_id, same
    * ts — the at-least-once re-delivery a real ingest pipeline sees).
    * No flush sentinel: streaming dedup emits first arrivals
    * immediately, nothing waits on a window close. */
  private def dedupFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x29", "events", "v2") { out =>
      writeRedeliveries(out, Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type")))
    }

  /** x29/x51's batches: the on-time rows (event_id % 4 ≠ 0), an empty
    * bridge, then a third of the on-time rows re-sent verbatim. */
  private def writeRedeliveries(out: java.io.File, events: DataFrame): Unit = {
    val onTime = events.filter(col("event_id") % 4 =!= 0)
    val w = writeOne(out) _
    val t0 = 1600000000000L
    w(onTime, "a", t0)
    w(events.filter(lit(false)), "b", t0 + 60000L)
    w(onTime.filter(col("event_id") % 3 === 0), "c", t0 + 120000L)
  }

  /** x29 — streaming DEDUPLICATION with bounded state:
    * `dropDuplicatesWithinWatermark(event_id)` under a 30 s watermark.
    * Every re-delivered row is eliminated by one of the two mechanisms
    * the operator composes — recent keys hit live dedup state, old keys
    * are dropped by the late-event filter after their state expired —
    * and the two regimes tile the ts axis with no gap (state for key k
    * lives while k.ts ≥ watermark − delay; the late filter drops
    * ts < watermark), so the appended output is exactly the distinct
    * first deliveries. That state-expiry-plus-late-filter pairing is
    * what makes exactly-once ingest AFFORDABLE at 100 TB: state holds
    * only the last watermark-window of keys, not every key ever seen
    * (plain dropDuplicates would). The oracle is the batch distinct
    * over the same on-time set. */
  def x29StreamDedup(spark: SparkSession, dir: String): DataFrame =
    StreamRun(spark, "x29", 4, "append") {
      fileStream(spark, dedupFeedFor(spark, dir), 1)
        .withWatermark("ts", "30 seconds")
        .dropDuplicatesWithinWatermark("event_id")
    }.rows.orderBy("event_id")

  /** x27 — event-time WATERMARK semantics, oracle-checked: 1-minute
    * tumbling-window counts in append mode with a 30 s watermark over
    * the 4-batch feed above (maxFilesPerTrigger = 1 → the on-time
    * batch, the empty bridge, the stragglers, the flush sentinel).
    * When the stragglers arrive, the late-event watermark stands at
    * max(on-time ts) − 30 s, so every straggler whose window already
    * closed against it (window end ≤ watermark) is DROPPED —
    * exactly the defined-late set the oracle reconstructs in SQL. The
    * sentinel advances the final watermark past every real window so
    * append mode emits them all; its own window stays open and is
    * never emitted. This is the semantics a 100 TB streaming ingest
    * relies on to bound state: without the watermark, every window
    * ever seen stays resident. */
  def x27StreamWatermark(spark: SparkSession, dir: String): DataFrame =
    StreamRun(spark, "x27", 4, "append") {
      fileStream(spark, watermarkFeedFor(spark, dir), 1)
        .withWatermark("ts", "30 seconds")
        .groupBy(window(col("ts"), "1 minute"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("wstart"), col("cnt"))
    }.rows.orderBy("wstart")

  /** x31's feed: TWO file-source directories so the join's inputs are
    * separate streams — `views/a` (every view event) arrives in batch 1;
    * `purchases/` serves an EMPTY file first, then `purchases/b` (every
    * purchase event) in batch 2. Sequencing matters: the purchases
    * stream is silent while the views load, so its watermark (and with
    * min-policy, the GLOBAL watermark) stays at epoch and none of the
    * view-side join state can be evicted before the purchases arrive —
    * the join is exercised ACROSS batches (buffered state, not a
    * single-batch co-join) yet stays deterministic: every match is
    * emitted, and the batch inner join is an exact oracle. */
  private[graft] def joinFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x31", "events", "v2") { out =>
      writeViewsThenPurchases(out, Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type")))
    }

  /** A join feed's two file-source dirs under `out`: the views land
    * first (with an empty purchases batch), the purchases one trigger
    * later. */
  private def writeViewsThenPurchases(out: java.io.File, events: DataFrame): Unit = {
    val (vDir, pDir) = viewsAndPurchases(out)
    val t0 = 1600000000000L
    writeOne(vDir)(events.filter(col("event_type") === "view"), "a", t0)
    writeOne(pDir)(events.filter(lit(false)), "e", t0)
    writeOne(pDir)(events.filter(col("event_type") === "purchase"), "b", t0 + 60000L)
  }

  /** The two file-source dirs of a join feed, created under `out`. */
  private def viewsAndPurchases(out: java.io.File): (java.io.File, java.io.File) = {
    val vDir = new java.io.File(out, "views")
    val pDir = new java.io.File(out, "purchases")
    require(vDir.mkdirs() && pDir.mkdirs(), s"cannot create feed dirs under $out")
    (vDir, pDir)
  }

  /** x31's feed at 10× volume — the stream-stream JOIN sibling of
    * [[throughputFeedFor]] (round 12): events replicated 10 ways with
    * BOTH ids offset per replica (event_id AND user_id + r·10⁹), so
    * the join graph replicates exactly — each replica's purchases
    * match only that replica's views (matches ×10, never the ×100
    * cross-product a shared user space would manufacture). Same
    * two-source layout and sequencing as [[joinFeedFor]]: the views
    * load into join state first, then the purchases stream through
    * the buffered state. Serves StreamJoinThroughputSpec — the
    * 4-batch demo feeds measure the per-trigger fixed-cost floor
    * (PLANS.md, "Retired probe mains"), x51 measures keyed-dedup state
    * throughput, and this feed completes the streaming cost model
    * with rows/s through the FOUR join state stores. */
  private[graft] def joinThroughputFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x31tp", "events", "v1") { out =>
      val base = Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      // the r·10⁹ replica offset assumes every base id fits below it; on
      // a larger corpus silent id collisions would merge replicas' user
      // spaces and manufacture exactly the cross-replica matches the
      // design excludes — fail loudly instead (ADVICE r12)
      val maxId = base.agg(greatest(max(col("event_id")), max(col("user_id"))))
        .head.getLong(0)
      require(maxId < 1000000000L,
        s"joinThroughputFeedFor: max base id $maxId >= 1e9 — the per-replica " +
          "offset would collide across replicas and change the join graph; " +
          "widen the offset before trusting the throughput number")
      writeViewsThenPurchases(out, base
        .crossJoin(broadcast(spark.range(10).toDF("r")))
        .select((col("event_id") + col("r") * 1000000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("r") * 1000000000L).as("user_id"),
          col("event_type")))
    }

  /** x31 — STREAM-STREAM inner join, the canonical hard streaming
    * operator: purchases joined to the same user's views from the
    * preceding day, both sides watermarked, with the event-time range
    * condition Spark needs to bound join state (view rows are held
    * only until the global watermark passes v_ts + 1 day + 30 s — at
    * 100 TB ingest, state is one day-plus-slack of views, not the
    * stream's history). The two-batch feed above forces the matches to
    * come out of BUFFERED state: batch 1 loads every view into the
    * join state store, batch 2 streams the purchases through it. Inner
    * join in append mode emits each match as soon as both sides exist,
    * and since nothing here is late, the batch inner join with the
    * same predicate is an exact oracle. */
  /** The x31 join over any (views, purchases) streams — factored so the
    * chaos-recovery spec can drive this exact definition through a
    * restartable file sink (the memory-sink variant below is the
    * oracle-checked one). Expects the raw feed schema on both inputs. */
  def x31Join(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_uid"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "30 seconds")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 seconds")
    p.join(v,
        col("user_id") === col("v_uid") &&
          expr("v_ts BETWEEN p_ts - INTERVAL 1 DAY AND p_ts"))
      .select(col("user_id"), col("purchase_id"), col("view_id"))
  }

  def x31StreamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    // 4, not 8: a stream-stream join runs FOUR state stores per
    // partition (keyToNumValues + keyWithIndexToValue, each side) and
    // commits every one per micro-batch — partition count is 4x the
    // commit lever it is for a plain stateful agg
    StreamRun(spark, "x31", 4, "append") {
      val feed = joinFeedFor(spark, dir)
      x31Join(fileStream(spark, s"$feed/views", 1), fileStream(spark, s"$feed/purchases", 1))
    }.rows.orderBy("purchase_id", "view_id")

  /** x32's feed: x31's two-source layout plus one far-future SENTINEL
    * row per source (user_id = -1, ts = max + 10 min — matches nothing).
    * The sentinels exist because LEFT OUTER emission is watermark-
    * driven: an unmatched purchase may only be emitted null-padded once
    * the GLOBAL watermark (min across inputs) proves no matching view
    * can still arrive, so BOTH sources must advance past every real
    * event time before the join state flushes.
    *
    * Batch layout (round 18, guide §2 — the per-trigger commit floor is
    * this query's whole wall, so batch COUNT is the lever): the
    * sentinels ride IN the data files instead of being their own
    * micro-batches. With maxFilesPerTrigger = 1 and mtime-pinned order
    * this yields THREE batches — (views a+sentinel | purchases empty),
    * (purchases b+sentinel), (purchases empty tail) — where the v3
    * layout took four. Emission timing is unchanged by construction:
    * the purchases stay silent in batch 1 while the views load into
    * join state (the buffered-state semantics x31 documents); every
    * match still emits in batch 2 out of buffered state; the input
    * watermarks advance at the END of the batch carrying each sentinel,
    * so eviction still happens one batch later — the empty TAIL batch
    * is still where the sentinel-advanced global watermark null-emits
    * the unmatched purchases from join state, exactly as before (a
    * watermark takes effect one batch after the data that moves it).
    * The sentinels themselves still cannot reach the sink: their own
    * emission would need the watermark to pass their ts, which the 30 s
    * delay forbids. Measured quiet at sf0.1 (isolated, min of two):
    * see OPTIMIZATION_r18.md. */
  private def outerJoinFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x32", "events", "v4") { out =>
      val (vDir, pDir) = viewsAndPurchases(out)
      val events = Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val sentinel = events.agg(lit(-1L).as("event_id"),
        (max(col("ts")) + expr("INTERVAL 10 MINUTES")).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"))
      val t0 = 1600000000000L
      writeOne(vDir)(events.filter(col("event_type") === "view")
        .unionByName(sentinel), "a", t0)
      writeOne(pDir)(events.filter(lit(false)), "e", t0)
      writeOne(pDir)(events.filter(col("event_type") === "purchase")
        .unionByName(sentinel), "b", t0 + 60000L)
      writeOne(pDir)(events.filter(lit(false)), "z", t0 + 120000L)
    }

  /** x32 — stream-stream LEFT OUTER join: x31's purchases⋈views with
    * the unmatched purchases KEPT, null-padded. The semantics under
    * test is watermark-driven emission: a match emits as soon as both
    * rows exist (inner path), but an unmatched purchase can only emit
    * once the global watermark passes the latest event time a matching
    * view could still carry (p_ts, since v_ts ≤ p_ts) — before that,
    * "unmatched" is indistinguishable from "match not yet arrived".
    * The far-future sentinels push both input watermarks (and so the
    * min-policy global watermark) past every real purchase, flushing
    * the join state; the sentinels' own rows are filtered out after
    * the join (stateless filter, exact). At 100 TB this is the ingest
    * join that still emits every fact exactly once when the dimension
    * stream is lossy — state stays bounded by the range condition and
    * the unmatched rows surface with bounded delay instead of leaking
    * state or being dropped. Oracle: the batch LEFT JOIN. */
  def x32StreamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    StreamRun(spark, "x32", 4, "append") {
      val feed = outerJoinFeedFor(spark, dir)
      val views = fileStream(spark, s"$feed/views", 1)
        .select(col("event_id").as("view_id"), col("user_id").as("v_uid"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "30 seconds")
      val purchases = fileStream(spark, s"$feed/purchases", 1)
        .select(col("event_id").as("purchase_id"), col("user_id").as("user_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "30 seconds")
      // NO sentinel filter inside the streaming plan: Catalyst pushes a
      // left-column filter through the left join all the way into the
      // purchases SCAN, where parquet row-group pruning drops the
      // sentinel file before the watermark operator ever sees it — the
      // purchases watermark then never advances and the final purchase
      // is never flushed. The sentinel cannot reach the sink anyway (its
      // own emission would need the watermark to pass its ts, which the
      // 30 s delay forbids); the batch-side filter below is a guard.
      purchases.join(views,
          col("user_id") === col("v_uid") &&
            expr("v_ts BETWEEN p_ts - INTERVAL 1 DAY AND p_ts"),
          "left_outer")
        .select(col("user_id"), col("purchase_id"), col("view_id"))
    }.rows
      .filter(col("user_id") =!= -1L)
      // NULLS LAST to match DuckDB's ASC default (Spark defaults first)
      .orderBy(col("purchase_id"), col("view_id").asc_nulls_last)

  /** x33's feed: the events stream in TWO ts-ordered halves (split at
    * the time-range midpoint — batch 2 never delivers an event older
    * than batch 1's max, so cross-batch session state only ever extends
    * forward), the far-future SENTINEL (user −1, max ts + 100 min)
    * riding IN the second half's file, and an empty TAIL batch. The
    * sentinel exists because `flatMapGroupsWithState` with an
    * event-time timeout only CLOSES a still-open session when the
    * watermark passes `last + gap`; with a 1 h watermark delay the
    * sentinel pushes the final watermark to max + 40 min > every
    * possible `last + 30 min`, and since a watermark takes effect one
    * batch after the data that moves it, the tail batch is where the
    * timeouts actually fire. (The 1 h delay ≥ the 30 min gap also
    * guarantees no session closes EARLY across the batch boundary: any
    * batch-2 event that could merge with an open session implies
    * `last > mid − 30 min`, putting the session's timeout safely above
    * the mid − 1 h watermark — the sentinel cannot change that, since
    * timeouts inside batch 2 still fire against the watermark set by
    * batch 1.) Round 18 (guide §2 — batch count is this query's whole
    * wall): the sentinel shares the second half's file instead of
    * being its own micro-batch, 3 batches instead of 4; the session
    * merge/close schedule is unchanged by construction because the
    * watermark the sentinel moves still only takes effect in the tail
    * batch, exactly as when it arrived one batch earlier. The
    * sentinel's own session never emits (its timeout sits past the
    * final watermark). */
  private[graft] def sessionFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x33", "events", "v3") { out =>
      val events = Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      // midpoint as a broadcast 1-row join, not a driver collect
      val mid = events.agg(expr(
        "timestamp_micros((unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2)").as("mid"))
      val withMid = events.crossJoin(broadcast(mid))
      val sentinel = events.agg(lit(-1L).as("user_id"),
        (max(col("ts")) + expr("INTERVAL 100 MINUTES")).as("ts"),
        lit("sentinel").as("event_type"))
      val w = writeOne(out) _
      val t0 = 1600000000000L
      w(withMid.filter(col("ts") <= col("mid")).drop("mid"), "a", t0)
      w(withMid.filter(col("ts") > col("mid")).drop("mid")
        .unionByName(sentinel), "b", t0 + 60000L)
      w(events.filter(lit(false)), "z", t0 + 120000L)
    }

  /** x33 — ARBITRARY per-key streaming state via
    * `flatMapGroupsWithState` ([[Sessionize]]): gap-based sessionization
    * of the events stream, the general-state primitive none of the
    * built-in stateful operators (agg / dedup / session_window / join)
    * covers — user code owns the per-key state record, its merge rule
    * and its event-time expiry. State is ONE open session per user
    * (start, last, n) — O(users), not O(events) — and the timeout
    * mechanism is the same watermark machinery that bounds every other
    * stateful operator, so the 100 TB posture matches x27/x29.
    * Session boundaries depend only on event times, so the batch
    * gaps-and-islands SQL is an exact oracle (break when the inactivity
    * gap exceeds 30 min; session end = last event, not last + gap —
    * [[Sessionize]]'s rule, deliberately distinct from x28's
    * `session_window` convention, and the oracle pins WHICH rule the
    * operator implements). */
  def x33StatefulSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    StreamRun(spark, "x33", 4, "append") {
      val stream = fileStream(spark, sessionFeedFor(spark, dir), 1)
      Sessionize.sessions(spark, stream.as[Sessionize.Event], gapMinutes = 30).toDF()
    }.rows
      // sentinel guard on the BATCH side (a filter inside the streaming
      // plan could be pushed into the scan and starve the watermark —
      // the x32 lesson); the sentinel's own session never emits anyway
      // (its timeout sits past the final watermark)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("start").as("session_start"),
        col("end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** x51's feed: x29's at-least-once dedup feed at 10× the volume —
    * the events table replicated 10 ways with disjoint id ranges
    * (event_id + r·10⁹; the offset is ≡ 0 mod 4, so the on-time/
    * straggler split applies identically per replica), same 3-batch
    * structure (on-time, empty bridge, verbatim re-delivery of a
    * third). Exists so the bench carries a THROUGHPUT number for the
    * stateful path, not just the per-trigger fixed-cost floor the
    * 4-batch demo feeds measure (VERDICT r5 task 6). */
  private[graft] def throughputFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "x51", "events", "v1") { out =>
      writeRedeliveries(out, Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
        .crossJoin(broadcast(spark.range(10).toDF("r")))
        .select((col("event_id") + col("r") * 1000000000L).as("event_id"),
          col("ts"), col("event_type")))
    }

  /** x51 — streaming-dedup THROUGHPUT: x29's operator and watermark on
    * the 10× feed, with the sink aggregated to per-type counts so the
    * artifact stays small and deterministic. The demo-feed streaming
    * lines measure almost pure per-trigger fixed cost (planning +
    * per-store changelog commit); this line's wall time is dominated by
    * actual keyed-state work (~1 M rows through RocksDB dedup state at
    * sf0.1), so the bench carries BOTH points of the streaming cost
    * model: x29 ≈ the fixed-cost floor, x51 ≈ floor + rows/throughput.
    * The measured rows/s is printed to stderr for PLANS.md attribution;
    * the returned result is exactly the distinct on-time per-type
    * counts, which the batch oracle restates. */
  /** x60 — SKETCH STATE in streaming: the Misra–Gries heavy-hitter
    * aggregate ([[graft.functions.MisraGries]], x45's batch sketch)
    * run as a complete-mode streaming aggregation — the sketch buffer
    * itself is the state-store value, merged across micro-batches.
    * This is the streaming-analytics shape that makes sketches matter
    * at 100 TB ingest: per-key exact counting holds every key ever
    * seen in state (unbounded), while the MG buffer is a FIXED 64
    * entries no matter how many distinct keys stream past. After the
    * stream drains, the candidate set is recounted EXACTLY against the
    * corpus (x45's broadcast-recount shape) and thresholded at
    * freq > n/20 — and because an MG(64) survivor set always contains
    * every key with freq > n/64 REGARDLESS of the order partials were
    * merged in, the emitted set is deterministic and micro-batch
    * boundaries can never change the answer (that containment is
    * exactly what the shared oracle with x45's HAVING spelling gates). */
  /** x60's key projection — shared by the stream side, the exact
    * recount, and the chaos spec. */
  def x60Keyed(df: DataFrame): DataFrame = df.select(
    when(col("event_id") % 10 < 7, col("event_id") % 5)
      .otherwise(col("user_id") + 1000L).cast("long").as("k"))

  /** x60's streaming sketch aggregation (complete mode) — factored so
    * the chaos spec can kill/restart this exact definition. */
  def x60Sketch(stream: DataFrame): DataFrame =
    x60Keyed(stream)
      .agg(graft.functions.MisraGries(col("k"), 64).as("ks"),
        count(lit(1)).as("n"))

  /** x60's exact-recount gate over the drained sketch snapshot. */
  def x60Recount(spark: SparkSession, dir: String, cand: DataFrame): DataFrame =
    x60Keyed(Tables.load(spark, dir, "events"))
      .join(broadcast(cand), array_contains(col("ks"), col("k")))
      .groupBy("k", "n").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 20 > col("n"))
      .select(col("k"), col("cnt"))
      .orderBy("k")

  def x60StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    x60Recount(spark, dir, StreamRun(spark, "x60", 4, "complete") {
      x60Sketch(fileStream(spark, feedFor(spark, dir), 2))
    }.rows)

  /** x66's stream transform — factored like [[p2Transform]] so the
    * semantics/chaos specs drive this exact definition. Hourly
    * event-time windows, 30 s watermark, and the [[graft.functions
    * .KmvDistinct]] sketch as the STATE VALUE: the per-window state is
    * the k=64 smallest key hashes (a fixed ≤ 64 longs however many
    * distinct users the window sees), merged across micro-batches by
    * the sketch's associative merge. `n` (row count) rides along both
    * as the dashboard's denominator and as the UPDATE-mode version
    * stamp — it strictly grows every time a window re-emits, so the
    * final snapshot is max_by(n) per window. */
  def x66Transform(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "30 seconds")
      .selectExpr("ts", FunctionQueries.kmvHashSpark("user_id") + " AS h")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.KmvDistinct(col("h"), 64).as("est_users"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("est_users"), col("n"))

  /** x66 — ROLLING DISTINCT-PER-WINDOW, live: the dashboard query
    * ("distinct users per hour, updating as events arrive") in UPDATE
    * mode — each micro-batch re-emits only the windows it touched,
    * which is the sink contract a live dashboard upserts from. The
    * 100 TB state story is the whole point: per-window EXACT distinct
    * holds every user id ever seen in state (unbounded, the x16
    * shape), while the KMV buffer is ≤ 64 hashes per window AND the
    * watermark closes windows behind the event-time frontier — state
    * = live windows × a fixed sketch, regardless of corpus or
    * cardinality. The final per-window estimates equal the batch
    * x20-style KMV over the same rows because the sketch is
    * merge-order independent (the mergeable-summaries rule), which is
    * exactly what the batch-restated oracle gates; the estimate's
    * ±1/√(k−1) error is against TRUE cardinality, not against the
    * oracle — both engines compute the identical estimator. */
  def x66StreamRollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val run = StreamRun(spark, "x66", 4, "update") {
      x66Transform(fileStream(spark, feedFor(spark, dir), 2))
    }
    // incremental-update attribution for PLANS.md: state rows UPDATED
    // per batch = windows the batch touched (numRowsTotal is
    // unavailable — this session's RocksDB stores run with
    // trackTotalNumberOfRows off, the round-5 latency fix). With the
    // ts-ordered feed each batch touches only its own ts range's
    // windows — the update-mode dashboard contract the semantics spec
    // asserts on the sink itself.
    val stateRows = run.progress
      .flatMap(p => p.stateOperators.headOption.map(s =>
        s"b${p.batchId}=${s.numRowsUpdated}"))
    System.err.println(s"[x66] state rows updated per batch: ${stateRows.mkString(" ")}")
    run.rows
      .groupBy("wstart")
      .agg(max_by(col("est_users"), col("n")).as("est_users"), max(col("n")).as("n"))
      .orderBy("wstart")
  }

  /** x68's skewed key projection WITH the event time — x60's key rule
    * (70 % of events on 5 hot keys, the rest on a per-user long tail)
    * kept alongside ts so it can window. Shared by the stream side
    * and the exact batch recount. */
  def x68Keyed(df: DataFrame): DataFrame = df.select(col("ts"),
    when(col("event_id") % 10 < 7, col("event_id") % 5)
      .otherwise(col("user_id") + 1000L).cast("long").as("k"))

  /** x68's streaming transform — hourly event-time windows, 30 s
    * watermark, and the Misra–Gries sketch as the PER-WINDOW state
    * value (x60 holds one global sketch; here state = live windows ×
    * a fixed 64-entry buffer, and the watermark evicts closed
    * windows). `n` rides along as denominator + UPDATE-mode version
    * stamp, the x66 pattern. */
  def x68Sketch(stream: DataFrame): DataFrame =
    x68Keyed(stream).withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.MisraGries(col("k"), 64).as("ks"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("ks"), col("n"))

  /** x68 — APPROXIMATE TOP-K PER WINDOW, live: "top event keys per
    * hour, updating as events arrive" — x60's sketch-state story made
    * WINDOWED. The 100 TB state argument compounds: exact per-window
    * top-k holds every (window, key) pair in state (unbounded in the
    * key cardinality), while here each live window holds a fixed
    * MG(64) buffer and the watermark closes windows behind the
    * event-time frontier. After the drain, the per-window candidate
    * sets are recounted EXACTLY against the corpus (broadcast of
    * windows×≤64 candidate pairs — x45/x60's recount shape),
    * thresholded at cnt > n/20 and ranked top-3. Deterministic by the
    * same containment argument as x60, now per window: an MG(64)
    * survivor set always contains every key with freq > n/64
    * regardless of merge order, and every key passing the n/20 gate
    * clears n/64 — so micro-batch boundaries can never change the
    * emitted set, which is exactly what the batch-restated oracle
    * gates. The final rank is a row_number over the recounted
    * manifest (windows × ≤64 rows — the ANSWER, not the corpus). */
  def x68ApproxTopkStream(spark: SparkSession, dir: String): DataFrame =
    x68Finalize(spark, dir, StreamRun(spark, "x68", 4, "update") {
      x68Sketch(fileStream(spark, feedFor(spark, dir), 2))
    }.rows)

  /** x68's post-drain step over the raw UPDATE-mode emission rows —
    * factored so the chaos spec can drive the identical finalize over
    * rows appended across a kill/restart boundary: per-window final
    * snapshot (max_by n), exact broadcast recount of the sketch
    * candidates, n/20 gate, top-3 rank over the answer. */
  def x68Finalize(spark: SparkSession, dir: String, emitted: DataFrame): DataFrame = {
    val snap = emitted.groupBy("wstart")
      .agg(max_by(col("ks"), col("n")).as("ks"), max(col("n")).as("n"))
    val cand = snap.select(col("wstart"), col("n"), explode(col("ks")).as("k"))
    val rec = x68Keyed(Tables.load(spark, dir, "events"))
      .select(date_trunc("hour", col("ts")).as("wstart"), col("k"))
      .join(broadcast(cand), Seq("wstart", "k"))
      .groupBy("wstart", "n", "k").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 20 > col("n"))
    rec.select(col("wstart"),
        row_number().over(Window.partitionBy("wstart").orderBy(col("cnt").desc, col("k")))
          .cast("bigint").as("rk"),
        col("k"), col("cnt"))
      .where(col("rk") <= 3)
      .orderBy("wstart", "rk")
  }

  /** x51's watermark-bounded dedup transform — factored like
    * [[p2Transform]] so the chaos spec can drive this exact
    * definition through a restartable parquet sink. */
  def x51Transform(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "30 seconds")
      .dropDuplicatesWithinWatermark("event_id")

  /** State-partition width for the THROUGHPUT feeds (x51's 10× volume):
    * the demo feeds keep 4 because their wall time is per-trigger
    * commit fixed cost and fewer stores = fewer changelog fsyncs
    * (round 6's measurement), but x51's wall time is keyed-state WORK —
    * ~1M rows through RocksDB dedup state — and at 4 partitions only 4
    * of the session's cores ever touch state. Width follows volume, the
    * same scale rule a production ingest applies (state partitions ∝
    * rows/trigger): min(cores, 16) spreads the state work across the
    * box while the extra per-store commit cost stays amortized by the
    * big batches; conf-overridable for deployments
    * (`spark.graft.streaming.throughputPartitions`). Partition count
    * cannot change the result — keyed dedup is partition-independent
    * and the sink aggregates per type. Measured quiet at sf0.1
    * (isolated bench line, min of two passes): 4-wide 4.95 s at
    * 155–214 k rows/s through the dedup state → 16-wide 3.54–3.76 s at
    * 372–423 k rows/s (trigger time 4.7 → 2.4 s; the residual line is
    * the feed-build + per-trigger floor the demo feeds measure). */
  private def throughputPartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.streaming.throughputPartitions") match {
      case Some(v) =>
        val n = v.toIntOption.getOrElse(sys.error(
          s"spark.graft.streaming.throughputPartitions must be a positive int, got '$v'"))
        require(n > 0,
          s"spark.graft.streaming.throughputPartitions must be > 0, got $n")
        n
      case None => math.min(16, spark.sparkContext.defaultParallelism)
    }

  def x51StreamThroughput(spark: SparkSession, dir: String): DataFrame = {
    val run = StreamRun(spark, "x51", throughputPartitions(spark), "append") {
      x51Transform(fileStream(spark, throughputFeedFor(spark, dir), 1))
    }
    val progs = run.progress
    val rows = progs.map(_.numInputRows).sum
    val ms = progs.map { p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) }.sum
    if (ms > 0) System.err.println(
      f"[x51] $rows rows through dropDuplicatesWithinWatermark in $ms ms = ${rows * 1000.0 / ms}%.0f rows/s")
    run.rows.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  /** p2's feed: documents with a synthetic event time (epoch +
    * doc_id seconds — deterministic, monotone in doc_id), the on-time
    * ¾, an empty bridge, then a re-delivery of a third of them — the
    * at-least-once document source a streaming curation job ingests. */
  private[graft] def docFeedFor(spark: SparkSession, dir: String): String =
    feed(spark, dir, "p2", "documents", "v2") { out =>
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"),
          expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)")
            .as("ts"))
      val onTime = docs.filter(col("doc_id") % 4 =!= 0)
      val w = writeOne(out) _
      val t0 = 1600000000000L
      w(onTime, "a", t0)
      w(docs.filter(lit(false)), "b", t0 + 60000L)
      w(onTime.filter(col("doc_id") % 3 === 0), "c", t0 + 120000L)
    }

  /** p2 — p1's curation pipeline as a STREAMING ingest job: documents
    * arrive at-least-once (the feed re-delivers a third of them),
    * `dropDuplicatesWithinWatermark(doc_id)` eliminates re-deliveries
    * with bounded state (x29's tiling argument), then quality scoring,
    * language ID and fingerprinting run as per-row codegen expressions
    * INSIDE the stream, appending the curated manifest incrementally.
    * This is the always-on shape of a pretraining data job — the batch
    * p1 recomputes the corpus, p2 keeps it current — and every stage
    * except the keyed dedup is stateless, so throughput scales with
    * executors. p1's cross-document exact dedup (min doc_id per text)
    * is deliberately NOT here: global grouping doesn't stream; a real
    * deployment runs it as the periodic batch compaction (p1/d4). */
  /** p2's TRANSFORM over any document stream — the watermark-bounded
    * dedup plus the stateless codegen curation stages. Factored out so
    * the chaos-recovery spec can drive this exact definition through a
    * restartable file sink (the memory-sink variant below is the
    * oracle-checked one). Callers must have [[graft.functions
    * .GraftFunctions.register]]ed on the session (poly_hash,
    * stop_hits). */
  def p2Transform(stream: DataFrame): DataFrame = {
    import graft.functions.TextPrimitives._
    val w = "split(text, ' ')"
    stream.withWatermark("ts", "30 seconds")
      .dropDuplicatesWithinWatermark("doc_id")
      .filter(expr(s"size($w) > 0"))
      .selectExpr(
        "doc_id",
        s"CAST(size($w) AS BIGINT) AS n_tokens",
        s"""round(0.5 * CAST(${stopHitsSpark(w, stopwords("en"))} AS DOUBLE) / size($w)
            + 0.3 * least(1.0, size($w) / 100.0)
            + 0.2 * (1.0 - CAST(char_length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS DOUBLE)
                           / CAST(n_chars AS DOUBLE)), 6) AS score""",
        s"CASE WHEN ${stopHitsSpark(w, stopwords("en"))} > 0 THEN 'en' ELSE 'unknown' END AS pred_lang",
        s"${rollingHashSpark("text")} AS fp")
      .filter(col("score") >= 0.5)
  }

  def p2StreamPipeline(spark: SparkSession, dir: String): DataFrame =
    StreamRun(spark, "p2", 4, "append") {
      p2Transform(fileStream(spark, docFeedFor(spark, dir), 1))
    }.rows.orderBy("doc_id")

  /** x36's TRANSFORM over any events stream: the two-hop dimension
    * enrichment (customer, then nation) as plain broadcast hash joins
    * inside the streaming plan. Factored so the spec can drive this
    * exact definition and assert statelessness on the live query. */
  def x36Transform(stream: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    stream
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("n_name"))

  /** x36 — STREAM-STATIC enrichment join, the most common production
    * streaming shape of all: every arriving fact is decorated from
    * dimension tables (customer → nation, a two-hop star lookup)
    * before it lands. The dimensions are BATCH DataFrames joined into
    * the streaming plan — Spark plans a broadcast hash join per
    * micro-batch, so the operator is completely STATELESS: no state
    * store, no watermark, no commit cost, and throughput scales with
    * executors exactly like a batch scan (the spec asserts
    * `lastProgress.stateOperators` is empty on the live query). That
    * statelessness is the 100 TB contrast with x31/x32: enrichment
    * against a slowly-changing dimension needs NO stream-stream
    * machinery, and re-planning per batch means a refreshed dimension
    * snapshot is picked up at the next trigger without restarting the
    * query. Every event's user_id resolves (user ids ⊂ customer keys),
    * so the batch inner join over the same tables is an exact oracle. */
  def x36StreamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    StreamRun(spark, "x36", 8, "append") {
      x36Transform(fileStream(spark, feedFor(spark, dir), 2),
        Tables.load(spark, dir, "customer"), Tables.load(spark, dir, "nation"))
    }.rows.orderBy("event_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r9_streaming_agg" -> (r9StreamingAgg _),
    "x36_stream_static_join" -> (x36StreamStaticJoin _),
    "x27_stream_watermark" -> (x27StreamWatermark _),
    "x29_stream_dedup" -> (x29StreamDedup _),
    "x31_stream_stream_join" -> (x31StreamStreamJoin _),
    "x32_stream_outer_join" -> (x32StreamOuterJoin _),
    "x33_stateful_sessions" -> (x33StatefulSessions _),
    "x51_stream_throughput" -> (x51StreamThroughput _),
    "x60_stream_heavy_hitters" -> (x60StreamHeavyHitters _),
    "x66_stream_rolling_distinct" -> (x66StreamRollingDistinct _),
    "x68_approx_topk_stream" -> (x68ApproxTopkStream _),
    "p2_stream_pipeline" -> (p2StreamPipeline _),
  )

  val oracleSql: Map[String, String] = Map(
    "r9_streaming_agg" ->
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    // x45's exact spelling: the emitted set is keys above n/20, which
    // the MG(64) streaming candidate set provably contains — the
    // oracle's independence from sketch internals IS the determinism
    // argument
    "x60_stream_heavy_hitters" ->
      """SELECT k, COUNT(*) AS cnt
      FROM (SELECT CASE WHEN event_id % 10 < 7 THEN event_id % 5
                        ELSE user_id + 1000 END AS k
            FROM events)
      GROUP BY k
      HAVING COUNT(*) * 20 > (SELECT COUNT(*) FROM events)
      ORDER BY k""",
    // the final UPDATE-mode snapshot equals the batch KMV per window:
    // the sketch is merge-order independent, so micro-batch boundaries
    // cannot change the answer — x20's estimator restated per hour
    "x66_stream_rolling_distinct" ->
      s"""SELECT date_trunc('hour', ts) AS wstart,
        CASE WHEN count(DISTINCT h) < 64 THEN count(DISTINCT h)
             ELSE CAST(63 AS BIGINT) * 1000000007 // list_sort(list(DISTINCT h))[64] END AS est_users,
        COUNT(*) AS n
      FROM (SELECT ts, ${FunctionQueries.kmvHashDuck("user_id")} AS h FROM events)
      GROUP BY wstart ORDER BY wstart""",
    // per-window exact counts thresholded at n/20 and ranked — the
    // sketch never appears: the MG(64) candidate set provably contains
    // every key above n/64 per window, so the emitted top-3 is
    // batch-restatable (x60's determinism argument, windowed)
    "x68_approx_topk_stream" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS wstart,
               CASE WHEN event_id % 10 < 7 THEN event_id % 5
                    ELSE user_id + 1000 END AS k
             FROM events),
      wn AS (SELECT wstart, COUNT(*) AS n FROM e GROUP BY wstart),
      cnt AS (SELECT wstart, k, COUNT(*) AS cnt FROM e GROUP BY wstart, k),
      top AS (SELECT c.wstart, c.k, c.cnt,
                ROW_NUMBER() OVER (PARTITION BY c.wstart
                  ORDER BY c.cnt DESC, c.k) AS rn
              FROM cnt c JOIN wn ON wn.wstart = c.wstart
              WHERE c.cnt * 20 > wn.n)
      SELECT wstart, CAST(rn AS BIGINT) AS rk, k, cnt FROM top
      WHERE rn <= 3
      ORDER BY wstart, rk""",
    // the enrichment is stateless, so the streaming output is exactly
    // the batch star join over the same tables
    "x36_stream_static_join" ->
      """SELECT e.event_id, e.user_id, c.c_name, n.n_name
      FROM events e
      JOIN customer c ON c.c_custkey = e.user_id
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      ORDER BY e.event_id""",
    // the watermark drop rule restated in SQL: batch-1 watermark
    // w1 = ms-floor(max on-time ts) − 30 s (Spark tracks event-time
    // stats in milliseconds); a straggler survives iff its window had
    // not closed: window_end > w1. The flush sentinel is not in
    // `events` and its window never emits, so it appears on neither
    // side.
    "x27_stream_watermark" ->
      """WITH f1 AS (SELECT ts FROM events WHERE event_id % 4 <> 0),
      f2 AS (SELECT ts FROM events WHERE event_id % 4 = 0),
      wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 30 SECOND AS w1 FROM f1),
      kept AS (
        SELECT ts FROM f1
        UNION ALL
        SELECT f2.ts FROM f2, wm
        WHERE date_trunc('minute', f2.ts) + INTERVAL 1 MINUTE > wm.w1)
      SELECT date_trunc('minute', ts) AS wstart, COUNT(*) AS cnt
      FROM kept GROUP BY wstart ORDER BY wstart""",
    // x29's dedup guarantee on the 10x feed, restated as the per-type
    // counts of the distinct on-time set (the replica offset is = 0
    // mod 4, so the on-time rule is replica-invariant)
    "x51_stream_throughput" ->
      """SELECT event_type, COUNT(*) AS cnt
      FROM (SELECT event_id + r * 1000000000 AS event_id, event_type
            FROM events CROSS JOIN (SELECT unnest(range(10)) AS r))
      WHERE event_id % 4 <> 0
      GROUP BY event_type ORDER BY event_type""",
    // every re-delivery is eliminated (live state or expired-state +
    // late filter — the regimes tile, see x29StreamDedup), so the
    // appended output is the distinct on-time set
    "x29_stream_dedup" ->
      """SELECT event_id, ts, event_type FROM events
      WHERE event_id % 4 <> 0 ORDER BY event_id""",
    // nothing in the two-batch feed is late, so the streaming inner
    // join emits exactly the batch inner join with the same predicate
    "x31_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
      FROM events p JOIN events v
        ON p.event_type = 'purchase' AND v.event_type = 'view'
       AND p.user_id = v.user_id
       AND v.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
      ORDER BY purchase_id, view_id""",
    // matches emit on arrival, unmatched purchases emit null-padded
    // once the sentinel-advanced global watermark proves no matching
    // view can still arrive — together exactly the batch LEFT JOIN
    "x32_stream_outer_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
      FROM events p LEFT JOIN events v
        ON v.event_type = 'view'
       AND p.user_id = v.user_id
       AND v.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
      WHERE p.event_type = 'purchase'
      ORDER BY purchase_id, view_id""",
    // session boundaries depend only on event times, so gaps-and-islands
    // over the batch table is exact: break where the inactivity gap
    // EXCEEDS 30 min (Sessionize merges gap <= 30 min — the complement
    // of x28's session_window rule, which breaks at >= 30 min);
    // session_end = last event's ts (no +gap), n_events counts rows
    "x33_stateful_sessions" ->
      """WITH e AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      g AS (
        SELECT user_id, ts,
          SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM e)
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM g GROUP BY user_id, grp
      ORDER BY user_id, session_start""",
    // p1's scoring arithmetic over the on-time subset; re-deliveries
    // contribute nothing (every duplicate is deduped or late-dropped)
    "p2_stream_pipeline" -> {
      import graft.functions.TextPrimitives._
      val w = "string_split(text, ' ')"
      s"""WITH scored AS (SELECT doc_id, text, n_chars,
          CAST(length($w) AS BIGINT) AS n_tokens,
          round(0.5 * CAST(${stopHitsDuck(w, stopwords("en"))} AS DOUBLE) / length($w)
              + 0.3 * least(1.0, length($w) / 100.0)
              + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                             / CAST(n_chars AS DOUBLE)), 6) AS score
        FROM documents WHERE doc_id % 4 <> 0 AND length($w) > 0)
      SELECT doc_id, n_tokens, score,
        CASE WHEN ${stopHitsDuck(w, stopwords("en"))} > 0
             THEN 'en' ELSE 'unknown' END AS pred_lang,
        ${rollingHashDuck("text")} AS fp
      FROM scored WHERE score >= 0.5 ORDER BY doc_id"""
    },
  )
}
