package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Declarative SQL-surface batch 6 (x40–x44): UNPIVOT, LATERAL
  * subqueries, recursive CTEs, the MAP type surface and ordered string
  * aggregation (LISTAGG) — the remaining
  * relational spellings a user migrating a SQL workload onto the engine
  * would reach for. The reference has no SQL at all (SURVEY §2.3); these
  * continue the x36–x39 arc of closing the declarative surface, each
  * with a DuckDB twin and a total deterministic ordering.
  */
object SqlSurfaceQueries {

  private def view(spark: SparkSession, dir: String, name: String): Unit =
    Tables.load(spark, dir, name).createOrReplaceTempView(name)

  // materialize-once handles for the multiply-referenced graph
  // relations — see [[Materialize]] for why persist+view cannot serve
  // a SQL-WITH consumer and why the swap releases superseded blocks
  private val x70OrientedHandle = Materialize.handle()
  private val x65EdgesHandle = Materialize.handle()
  private val x65DegHandle = Materialize.handle()

  /** x40 — UNPIVOT: lineitem's four measure columns melted to long form
    * (the inverse of x22's pivot). Plans as one Expand (4 rows per
    * input, same node CUBE/rollup use) — scan-shaped, no join, no
    * aggregate; the only exchange is the presentation sort. At 100 TB
    * melting wide telemetry into (entity, measure, value) triples is a
    * scan, never a shuffle. */
  def x40Unpivot(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    spark.sql("""
      SELECT l_orderkey, l_linenumber, measure, v
      FROM (SELECT l_orderkey, l_linenumber,
                   l_quantity, l_extendedprice, l_discount, l_tax
            FROM lineitem)
      UNPIVOT (v FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
      ORDER BY l_orderkey, l_linenumber, measure, v""")
  }

  /** x41 — LATERAL correlated subquery: per-customer order stats through
    * the SQL-standard lateral spelling. The point is DECORRELATION plus
    * the COUNT bug: Catalyst must rewrite the per-row subquery into ONE
    * aggregate + left outer join on c_custkey — never a re-execution per
    * outer row — while still producing n_orders = 0 (not NULL) for
    * customers with no orders (the classic decorrelation trap; the
    * oracle has rows for exactly those customers). PlansSpec pins the
    * no-nested-loop shape. */
  def x41Lateral(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "customer")
    view(spark, dir, "orders")
    spark.sql("""
      SELECT c.c_custkey, l.n_orders, l.max_price
      FROM customer c,
      LATERAL (SELECT COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
               FROM orders o WHERE o.o_custkey = c.c_custkey) l
      ORDER BY c.c_custkey""")
  }

  /** x42 — RECURSIVE CTE: iterate-to-fixpoint declaratively (digit-ladder
    * walk `k → k div 10` per order key, depth = walk length). Each
    * recursion step is a distributed job over the PREVIOUS step's frame
    * only, and rows leave the frame as they hit the guard — the frame
    * shrinks monotonically, so total work is rows × depth, not
    * rows × depth². This is the declarative twin of d4's imperative
    * connected-components loop: fine at bounded depth (here ≤ 8); for
    * O(log n)-round graph convergence the engine's ConnectedComponents
    * operator (large-star/small-star with checkpointed rounds) remains
    * the 100 TB path — a recursive CTE has no lineage truncation. */
  def x42RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql("""
      WITH RECURSIVE walk(o_orderkey, cur, depth) AS (
        SELECT o_orderkey, o_orderkey, CAST(0 AS BIGINT) FROM orders
        UNION ALL
        SELECT o_orderkey, cur DIV 10, depth + 1 FROM walk WHERE cur > 0
      )
      SELECT o_orderkey, MAX(depth) AS depth
      FROM walk GROUP BY o_orderkey ORDER BY o_orderkey""")
  }

  /** x43 — MAP type surface: per-user event_type → count as a real
    * MapType column (SURVEY §1.2's declared replacement for the
    * reference's `map[string]int` aggregate envelope,
    * rainstorm.go:34,551-559), then scalar lookups out of it. Built
    * with map_from_entries over the grouped counts; lookups via
    * try_element_at (ANSI-safe on missing keys). The map is an
    * intermediate — outputs are scalars, so the oracle states the same
    * semantics as conditional aggregation without needing DuckDB's map
    * dialect. One shuffle on (user, type), one on user. */
  def x43MapFuncs(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql("""
      WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
                 FROM events GROUP BY user_id, event_type),
      m AS (SELECT user_id,
              map_from_entries(collect_list(struct(event_type, cnt))) AS m
            FROM c GROUP BY user_id)
      SELECT user_id,
        CAST(size(m) AS BIGINT)                            AS n_types,
        CAST(coalesce(try_element_at(m, 'click'), 0) AS BIGINT)    AS clicks,
        CAST(coalesce(try_element_at(m, 'purchase'), 0) AS BIGINT) AS purchases,
        CAST(coalesce(try_element_at(m, 'error'), 0) AS BIGINT)    AS errors
      FROM m ORDER BY user_id""")
  }

  /** x44 — LISTAGG / ordered string aggregation: the SQL-standard
    * `LISTAGG(...) WITHIN GROUP (ORDER BY ...)` spelling (native in
    * Spark 4.x), deduplicated and fully ordered so the concatenated
    * string is deterministic — the report/export shape (one
    * delimiter-joined cell per group) every BI migration asks for.
    * Per nation: the sorted distinct market segments of its customers
    * plus the customer count. The dimension join broadcasts; the
    * aggregate is one shuffle on the group key, and because the
    * aggregated value set per group is bounded (5 segments), state per
    * group stays O(distinct values) at any corpus size. */
  def x44Listagg(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "customer")
    view(spark, dir, "nation")
    spark.sql("""
      SELECT n_name,
             listagg(DISTINCT c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment) AS segments,
             COUNT(*) AS n_cust
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")
  }

  /** x46 — CDC upsert / MERGE keep-latest semantics: events replayed as
    * a change stream for a keyed table (key = user_id; change order =
    * (ts, event_id), unique because event_id is; event_type 'error'
    * acts as the DELETE op). The final state is: per key, the
    * highest-versioned change wins, and a winning DELETE erases the
    * key — the nightly snapshot-from-changelog job every warehouse
    * ingest runs.
    *
    * Spelled as ONE aggregation with `max_by(payload, version)` rather
    * than the textbook row_number window: partial max_by composes
    * map-side, so each partition ships one (key, payload) pair per key
    * it saw — a single shuffle of keys, no sort, no full-row window
    * buffering. At 100 TB the window spelling sorts every partition's
    * full changelog; this shuffles O(distinct keys) structs. The DuckDB
    * oracle IS the row_number spelling, gating the equivalence. */
  def x46CdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql("""
      SELECT user_id,
             last.event_type                 AS last_type,
             round(last.value, 4)            AS last_value,
             last.ts                         AS last_ts
      FROM (SELECT user_id,
                   max_by(struct(event_type, value, ts),
                          struct(ts, event_id)) AS last
            FROM events GROUP BY user_id)
      WHERE last.event_type <> 'error'
      ORDER BY user_id""")
  }

  /** x47 — time-series gap fill + LOCF imputation: per-user hourly
    * event counts over day one, with MISSING hours materialized
    * (count 0) and a last-observation-carried-forward column — the
    * telemetry-regularization shape (sensors report sparsely, models
    * consume dense grids) that SQL alone can't express without a
    * calendar spine.
    *
    * Shape: the spine is `DISTINCT user_id × sequence(0, 23)` — an
    * explode of a 24-element literal per entity, so the grid costs
    * O(entities × cells), never a shuffle of the fact table; facts
    * arrive as one (user, hour) partial+final COUNT; the spine LEFT
    * JOINs the cells on the narrow composite key; LOCF is one window
    * per entity ordered by hour (`last_value(..., true)` = IGNORE
    * NULLS). At 100 TB each op shuffles keys or the entity-bounded
    * grid — the dense output is the biggest thing produced, and that
    * is the user's ask. */
  def x47GapFill(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql("""
      WITH ev AS (SELECT user_id, CAST(hour(ts) AS BIGINT) AS h
                  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'),
      cell AS (SELECT user_id, h, COUNT(*) AS cnt FROM ev GROUP BY user_id, h),
      grid AS (SELECT user_id, CAST(hh AS BIGINT) AS h
               FROM (SELECT DISTINCT user_id FROM ev)
               LATERAL VIEW explode(sequence(0, 23)) AS hh),
      j AS (SELECT g.user_id, g.h, cell.cnt
            FROM grid g LEFT JOIN cell ON cell.user_id = g.user_id AND cell.h = g.h)
      SELECT user_id, h,
             coalesce(cnt, 0) AS cnt,
             coalesce(last_value(cnt, true) OVER
               (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS locf_cnt
      FROM j ORDER BY user_id, h""")
  }

  /** x52 — SCD TYPE-2 history build: the changelog compacted into
    * validity INTERVALS — one row per (entity, value) RUN with
    * [valid_from, valid_to) bounds and NULL valid_to marking the
    * current version. x46 answers "what is the latest value"; this is
    * the other half every warehouse needs: "what was the value at time
    * T", buildable by interval containment. Consecutive updates
    * carrying the SAME value collapse into one interval (the
    * no-change-update case a naive lead() spelling gets wrong).
    *
    * Shape: change points via one lag() comparison per entity, run ids
    * via a running sum, one partial+final aggregate to interval bounds,
    * and a final per-entity lead() to close each interval with its
    * successor's start. Everything after the single user-key shuffle is
    * key-local (windows and aggregate share the partitioning, AQE
    * coalesces); the output IS the compacted history, so nothing larger
    * than the answer materializes. Ties within (user, ts) order by
    * event_id in BOTH dialects, keeping run boundaries deterministic. */
  def x52Scd2(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql(s"""
      WITH $scd2HistSql
      SELECT user_id, attr, valid_from, valid_to, n_updates
      FROM iv
      ORDER BY user_id, valid_from""")
  }

  /** The x52 history build as a reusable CTE body — x56 composes it,
    * and sharing the text keeps the two queries' run semantics
    * identical by construction. */
  private val scd2HistSql = """
      chg AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      runs AS (
        SELECT user_id, ts, event_type,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM chg),
      hist AS (
        SELECT user_id, event_type AS attr, MIN(ts) AS valid_from,
               COUNT(*) AS n_updates
        FROM runs GROUP BY user_id, run, event_type),
      iv AS (
        SELECT user_id, attr, valid_from,
               lead(valid_from) OVER
                 (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
               n_updates
        FROM hist)"""

  /** x56 — POINT-IN-TIME (time-travel) join: "what was every entity's
    * attribute at time T" answered from the x52 SCD2 validity-interval
    * history — the consumer that makes the history build useful
    * (training-data snapshot reconstruction, audit reads, ML feature
    * time-travel to prevent label leakage). Three probe instants × all
    * users; an interval-containment predicate `valid_from ≤ T <
    * valid_to` with NULL valid_to = current version; users whose first
    * version postdates T surface with a NULL attr (LEFT join — the
    * as-of read must distinguish "no entity" from "not yet born").
    *
    * Scale shape: the history is entity-keyed, so the containment join
    * is an EQUI join on user_id with the interval test as a residual
    * filter — one key shuffle (or none, if the history is bucketed by
    * entity as it would be in a real lakehouse); the probe-instant
    * grid is a 3-element explode of the distinct-entity set, never a
    * fan-out of the fact table. Each (user, T) matches AT MOST one
    * interval (intervals partition the timeline per entity by
    * construction), so no dedup pass is needed — the join IS the
    * answer. */
  def x56PitJoin(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql(s"""
      WITH $scd2HistSql,
      probes AS (
        SELECT user_id, t
        FROM (SELECT DISTINCT user_id FROM events)
        LATERAL VIEW explode(array(
          TIMESTAMP '2024-01-08 12:00:00',
          TIMESTAMP '2024-01-15 12:00:00',
          TIMESTAMP '2024-01-22 12:00:00')) AS t)
      SELECT p.user_id, p.t, iv.attr, iv.valid_from
      FROM probes p LEFT JOIN iv
        ON iv.user_id = p.user_id
        AND iv.valid_from <= p.t
        AND (iv.valid_to IS NULL OR p.t < iv.valid_to)
      ORDER BY p.user_id, p.t""")
  }

  /** x53 — GROUPING SETS + grouping_id: the third member of the
    * multi-grouping family (x9 = ROLLUP, x25 = CUBE), with an EXPLICIT
    * non-hierarchical set list — ((status, priority), (priority), ()) —
    * that neither ROLLUP nor CUBE can spell (it skips the (status)
    * marginal), plus the grouping-function disambiguation every report
    * consumer needs: `gid` tells a NULL-because-aggregated cell apart
    * from a NULL-valued key. Plans as ONE scan + Expand (3 rows per
    * input) + a single hash aggregate — the same node CUBE uses, so cost
    * is sets × scan, never one job per set; at 100 TB the alternative
    * (three GROUP BYs UNIONed) reads the corpus three times. `gid` is
    * spelled as grouping(a)·2 + grouping(b) because Spark's grouping_id
    * and DuckDB's GROUPING bit orders are engine-defined — composing it
    * from single-column grouping() flags is the dialect-stable form. */
  def x53GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS BIGINT) * 2
               + CAST(grouping(o_orderpriority) AS BIGINT) AS gid,
             COUNT(*) AS cnt,
             round(SUM(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderpriority), ())
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
  }

  /** x61 — SNAPSHOT DIFF / table reconciliation: two keyed snapshots
    * compacted from disjoint changelog halves (event_id parity — a
    * deterministic stand-in for "yesterday's table" vs "today's"),
    * FULL-outer joined on the key and classified `added` / `removed` /
    * `changed` with the `same` rows dropped — the validation report
    * every migration, backfill and replication pipeline runs to prove
    * two copies agree (including the one a user switching engines onto
    * THIS library would run). Each snapshot is x46's one-pass
    * `max_by` compaction; the diff is a single key-equi FULL join
    * (unbroadcastable by definition — both unmatched sides must
    * surface, x35's argument) and the output is only the disagreement
    * set, so nothing bigger than the discrepancies survives. The
    * DuckDB twin restates the snapshots through the row_number
    * spelling, gating the max_by equivalence per half. */
  def x61SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql("""
      WITH a AS (SELECT user_id, last.event_type AS t, round(last.value, 4) AS v
                 FROM (SELECT user_id,
                         max_by(struct(event_type, value), struct(ts, event_id)) AS last
                       FROM events WHERE event_id % 2 = 0 GROUP BY user_id)),
      b AS (SELECT user_id, last.event_type AS t, round(last.value, 4) AS v
            FROM (SELECT user_id,
                    max_by(struct(event_type, value), struct(ts, event_id)) AS last
                  FROM events WHERE event_id % 2 = 1 GROUP BY user_id))
      SELECT user_id, diff, type_old, type_new FROM (
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               CASE WHEN a.user_id IS NULL THEN 'added'
                    WHEN b.user_id IS NULL THEN 'removed'
                    WHEN a.t IS DISTINCT FROM b.t
                      OR a.v IS DISTINCT FROM b.v THEN 'changed'
                    ELSE 'same' END AS diff,
               a.t AS type_old, b.t AS type_new
        FROM a FULL OUTER JOIN b ON a.user_id = b.user_id)
      WHERE diff <> 'same'
      ORDER BY user_id""")
  }

  /** x69 — UPSERT APPLY (MERGE INTO semantics as a batch operator),
    * x61's sibling: x61 REPORTS how two snapshots differ; x69 APPLIES
    * a change set to a base snapshot and emits the post-merge table —
    * the CDC-apply step every warehouse sync, dimension refresh and
    * engine migration runs. Base = the even-changelog compaction,
    * changes = the odd half; per key the change row wins (`WHEN
    * MATCHED UPDATE` + `WHEN NOT MATCHED INSERT`), untouched base rows
    * survive, and each output row carries its provenance. Spark-native
    * spelling: since MERGE INTO needs a mutable table format, the
    * declarative form is ONE full-outer key join + coalesce — the
    * exact plan a format's merge executes underneath, minus the
    * transaction log. Unbroadcastable by definition (both unmatched
    * sides must surface); one key-equi shuffle each side. */
  def x69UpsertApply(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql("""
      WITH base AS (SELECT user_id, last.event_type AS t, round(last.value, 4) AS v
                    FROM (SELECT user_id,
                            max_by(struct(event_type, value), struct(ts, event_id)) AS last
                          FROM events WHERE event_id % 2 = 0 GROUP BY user_id)),
      chg AS (SELECT user_id, last.event_type AS t, round(last.value, 4) AS v
              FROM (SELECT user_id,
                      max_by(struct(event_type, value), struct(ts, event_id)) AS last
                    FROM events WHERE event_id % 2 = 1 GROUP BY user_id))
      SELECT coalesce(c.user_id, b.user_id) AS user_id,
             coalesce(c.t, b.t) AS t,
             coalesce(c.v, b.v) AS v,
             CASE WHEN b.user_id IS NULL THEN 'inserted'
                  WHEN c.user_id IS NULL THEN 'kept'
                  ELSE 'updated' END AS src
      FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
      ORDER BY user_id""")
  }

  /** x67 — WINDOW-DEDUP RANK / version-history trim: per
    * (user_id, event_type) keep only the NEWEST 2 versions (ts,
    * event_id recency order) with their recency rank — the retention
    * step a changelog/table-format compaction runs ("keep the last k
    * versions, expire the rest"), and the k>1 generalization of
    * x46/x61's max_by(latest) compaction. Spark-native spelling: the
    * trim runs through the custom TopKPerKey operator, whose map-side
    * partial pass cuts every partition to ≤ keys·k candidate rows
    * BEFORE the only exchange — never a row_number window sorting the
    * whole changelog. The rank column is then a window over the
    * TRIMMED manifest (keys × 2 rows — the ANSWER, not the corpus;
    * the s10 argument), so the corpus-sized work stays windowless.
    * The DuckDB twin is the classic row_number()-over-everything
    * spelling — gating the heap-trim's equivalence to it. */
  def x67WindowDedupRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    view(spark, dir, "events")
    val rows = spark.sql(
      "SELECT user_id, event_type, ts, event_id, round(value, 4) AS v FROM events")
    val trimmed = graft.plans.TopK.perKey(rows,
      Seq(col("user_id"), col("event_type")),
      Seq(col("ts").desc, col("event_id").desc), k = 2)
    trimmed.createOrReplaceTempView("x67_trimmed")
    spark.sql("""
      SELECT user_id, event_type,
             CAST(row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rk,
             event_id, v
      FROM x67_trimmed
      ORDER BY user_id, event_type, rk""")
  }

  /** The x70 edge list (deterministic synthetic unipartite graph over
    * lineitem — the x65 customer↔supplier graph is bipartite and
    * therefore triangle-free by construction): node space 0..19999,
    * canonical (a < b) distinct edges, self-loops dropped. One
    * spelling parameterized on the integer-division operator so both
    * engines derive the identical graph (~590 k edges, ~518 k
    * triangles at sf0.1). */
  private def triangleEdgesSql(idiv: String): String =
    s"""raw AS (SELECT DISTINCT
          least(l_partkey % 20000, (l_suppkey * 7919 + l_partkey $idiv 20000) % 20000) AS a,
          greatest(l_partkey % 20000, (l_suppkey * 7919 + l_partkey $idiv 20000) % 20000) AS b
        FROM lineitem
        WHERE l_partkey % 20000 <> (l_suppkey * 7919 + l_partkey $idiv 20000) % 20000)"""

  /** The x70 pipeline after the edge list, as three relation-
    * parameterized fragments so the algorithm has ONE spelling: the
    * oracle composes them as CTEs (DuckDB materializes reused CTEs),
    * the Spark query composes them over PERSISTED temp views — the
    * x65 lesson: Catalyst inlines CTEs per reference, so the distinct
    * edge build and the oriented list would otherwise re-execute for
    * every one of their 2–3 references. */
  private def triangleDegSql(raw: String): String =
    s"""SELECT node, COUNT(*) AS d FROM
          (SELECT a AS node FROM $raw UNION ALL SELECT b FROM $raw) n
        GROUP BY node"""

  private def triangleOrientSql(raw: String, deg: String): String =
    s"""SELECT
          CASE WHEN da.d < db.d OR (da.d = db.d AND r.a < r.b)
               THEN r.a ELSE r.b END AS u,
          CASE WHEN da.d < db.d OR (da.d = db.d AND r.a < r.b)
               THEN r.b ELSE r.a END AS v
        FROM $raw r JOIN $deg da ON da.node = r.a JOIN $deg db ON db.node = r.b"""

  /** `corners` is the dialect-specific lateral explode of (x, y, z) —
    * the one pass matters: a `UNION ALL of three SELECTs FROM tri`
    * would inline (and re-run) the wedge JOIN three times under
    * Catalyst's per-reference CTE expansion. */
  private def triangleTopSql(oriented: String, corners: String): String =
    s"""WITH tri AS (SELECT /*+ BROADCAST(e2), BROADCAST(e3) */
                e1.u AS x, e1.v AS y, e2.v AS z
            FROM $oriented e1
            JOIN $oriented e2 ON e2.u = e1.v
            JOIN $oriented e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT node, COUNT(*) AS n_tri FROM tri $corners
    GROUP BY node ORDER BY n_tri DESC, node LIMIT 100"""

  private val triangleCornersSpark = "LATERAL VIEW explode(array(x, y, z)) t AS node"
  private val triangleCornersDuck = ", unnest([x, y, z]) t(node)"

  /** x70 — TRIANGLE COUNTING (per-node participation, top-100): the
    * third graph-analytics operator next to d4's connected components
    * and x65's PageRank, and the canonical "joins explode if you're
    * naive" workload — clustering-coefficient / community-density
    * analytics over entity graphs. The plan is two hash equi-joins
    * over a DEGREE-ORIENTED edge list (Suri & Vassilvitskii's MapReduce
    * orientation): each edge points from its lower-(degree, id)
    * endpoint to the higher, making the graph a DAG where every
    * triangle is enumerated exactly once from its minimum-rank corner
    * — and, the 100 TB point, the join's intermediate (per-node
    * out-wedge count Σ outdeg²) is bounded by m^1.5 overall because
    * no node's OUT-degree exceeds √(2m): a hub's million neighbors
    * sit on its IN-side, so the naive Σ deg² blowup (hub² wedges)
    * never materializes. Everything shuffles on 8-byte node keys; the
    * top-100 is a TakeOrdered heap, never a global sort. Exact
    * integer counts; the DuckDB twin runs the identical shared SQL. */
  def x70TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    // ONE oriented-list materialization: the triangle join references
    // it 3 times, and re-deriving edges+degrees+orientation per
    // reference would run the fact-table scan and two aggregates 3×.
    // checkpointReleasable, NOT persist+view (round 13): the cache
    // manager never matched the WithCTE subtree against the view's
    // expansion inside the consuming query's own WITH — measured with
    // a plan probe, the "cached" plan re-derived the oriented list per
    // reference (15 parquet FileScans where the design says one pass).
    // A lineage-truncated checkpoint makes the reuse STRUCTURAL: the
    // view wraps a LogicalRDD leaf, so all 3 references share the
    // materialized blocks by construction — nothing for a cache
    // matcher to miss. The raw/deg stages inside the build stay INLINE
    // CTEs — measured at sf0.1 materializing each stage cost MORE than
    // the one redundant cheap re-derivation it saves.
    // Spread the oriented list to the session's width before the
    // checkpoint pins it: AQE coalesced the orientation join's output
    // exchange by BYTES (~1.4 MB → ONE partition), but that checkpoint
    // is e1 — the probe side of the wedge join — so the whole triangle
    // enumeration ran as a single task (StageProbe r18: 2.0–2.4 s in
    // one task with 31 cores idle). This is the d13 hazard class one
    // decade down: AQE is blind to a stage's downstream COMPUTE density
    // (Σ outdeg² wedge probes per row), so the width must follow the
    // consumer, not the producer's bytes. Hash on u: deterministic,
    // and the orientation bounds outdeg(u) ≤ √(2m), so no u can
    // dominate a partition.
    val oriented = Materialize.swap(x70OrientedHandle,
      spark.sql(
        s"""WITH ${triangleEdgesSql("DIV")},
        deg AS (${triangleDegSql("raw")})
        ${triangleOrientSql("raw", "deg")}""")
        .repartition(spark.sparkContext.defaultParallelism,
          org.apache.spark.sql.functions.col("u")))
    oriented.createOrReplaceTempView("x70_oriented")
    spark.sql(triangleTopSql("x70_oriented", triangleCornersSpark))
  }

  /** The x65 iteration chain, parameterized on the integer-division
    * operator (Spark `DIV`, DuckDB `//`) and the edge/degree relation
    * names — the damping arithmetic is shared text. Ranks live in
    * integer millionths and every step is integer (sum of per-edge
    * `rank DIV outdeg`, then `(85·Σ) DIV 100 + 150000`), so the two
    * engines agree exactly — no float mass accounting to luck out on. */
  /** `hint` is the Spark-side join-strategy hint (empty for the DuckDB
    * twin — the shared arithmetic text stays identical). The degree
    * relation is NODE-sized (bounded by the customer+supplier
    * dimension key spaces, never by the fact table) but a checkpoint
    * LogicalRDD carries no usable size estimate, so Catalyst planned
    * it into a SortMergeJoin — re-sorting the edge side once per
    * iteration (plans/r18/x65_pagerank_before.txt: 6 SMJ, 20
    * Exchanges). BROADCAST(d) turns the degree join of every iteration
    * into a BroadcastHashJoin built from ONE reused broadcast (the
    * three deg subtrees are identical, so exchange reuse shares the
    * build); measured quiet at sf0.1 (isolated bench, min of two):
    * 3.12 → 2.35 s.
    *
    * Two measured NEGATIVE results, kept out deliberately (guide §1 —
    * the empirical loop beats the first-principles plan at this SF):
    * BROADCAST(r) as well — the "leave the edge list completely
    * unshuffled" plan — costs 3.62 s, because each iteration's rank
    * broadcast is a distinct blocking build job (collect + relation
    * build, serialized on the driver) where the SMJ's rank exchange
    * pipelines with the reused edge sort; and hash-spreading the edge
    * checkpoint to the session width costs +0.4 s (an extra exchange
    * plus 32-task GC) without widening anything that was narrow. At
    * cluster scale the rank side grows with the node set anyway, so
    * the shipped shape (edges exchange reused across iterations, deg
    * broadcast) is also the scale-honest one. */
  private def pagerankIterSql(idiv: String, edges: String, deg: String,
      hint: String = ""): String = {
    val iter = (1 to 3).map { i =>
      s"""r$i AS (SELECT $hint e.dst AS node,
             CAST(150000 + (85 * SUM(r.rank $idiv d.outdeg)) $idiv 100 AS BIGINT) AS rank
           FROM $edges e
           JOIN r${i - 1} r ON r.node = e.src
           JOIN $deg d ON d.src = e.src
           GROUP BY e.dst)"""
    }.mkString(",\n      ")
    s"""r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM $deg),
      $iter
      SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 100"""
  }

  private val pagerankEdgesSql = """
      WITH fwd AS (SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
                   FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
      SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd"""

  /** x65 — PAGERANK (3 unrolled damped iterations) over the
    * customer↔supplier interaction graph (orders⋈lineitem edges,
    * symmetrized so every node has out-degree ≥ 1 — no dangling-mass
    * special case): the second graph-analytics operator next to d4's
    * connected components, and the canonical iterative-join workload
    * (influence/importance scoring over entity graphs). Each iteration
    * is ONE rank⋈edges equi join on the source key plus a partial+final
    * SUM by destination — the edge list is built once and reused, so
    * per-iteration cost at 100 TB is a keyed shuffle of (node, rank)
    * pairs against a static edge partitioning; bounded unrolling stays
    * declarative, and unbounded convergence belongs on the engine's
    * checkpointed ConnectedComponents-style loop (lineage truncation —
    * same argument as x42). Integer millionth-ranks make the result
    * exact, not approximately-reproducible. */
  def x65Pagerank(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    view(spark, dir, "lineitem")
    // Catalyst inlines CTEs, so an `edges` CTE would re-run the
    // orders⋈lineitem build once PER ITERATION (and `deg` with it) —
    // the iterations must reference a MATERIALIZED edge list, the real
    // iterative-workload contract (at 100 TB the rebuild is a full
    // fact-table join per iteration; the materialization is a one-time
    // cost amortized over every round). checkpointReleasable, NOT
    // persist+view (round 13): the cache manager never matched the
    // WithCTE edge plan against its expansion inside the iteration
    // query's own WITH chain — a plan probe showed the "cached" run
    // re-deriving the fact join per reference (28 parquet FileScans).
    // Lineage-truncated checkpoints make the reuse structural: both
    // views wrap LogicalRDD leaves every iteration shares by
    // construction.
    val edges = Materialize.swap(x65EdgesHandle,
      spark.sql(pagerankEdgesSql))
    edges.createOrReplaceTempView("pr_edges")
    val deg = Materialize.swap(x65DegHandle,
      spark.sql("SELECT src, COUNT(*) AS outdeg FROM pr_edges GROUP BY src"))
    deg.createOrReplaceTempView("pr_deg")
    spark.sql(s"WITH ${pagerankIterSql("DIV", "pr_edges", "pr_deg",
      "/*+ BROADCAST(d) */")}")
  }

  /** x72 — INCREMENTAL VIEW MAINTENANCE: merge a materialized
    * aggregate with a delta batch's PARTIAL aggregates instead of
    * recomputing from scratch — the algebra every streaming
    * materialized view and warehouse incremental model (dbt
    * incremental, Materialize, Spark's own partial aggregation)
    * rests on: (cnt, Σ, min, max) are mergeable, so
    * merge(agg(base), agg(delta)) ≡ agg(base ∪ delta). The query runs
    * both arms from the table (base = events before Jan 25, delta =
    * the rest) and emits the MERGED view; the oracle recomputes from
    * scratch, gating the merge algebra itself — a wrong merge (e.g.
    * max of counts, sum of mins) cannot pass.
    *
    * Determinism: sums quantize value to integer micro-units first
    * (the VectorSumAgg convention — double Σ is summation-order
    * dependent, integer Σ is exact and mergeable); min/max select
    * stored values bit-for-bit. At 100 TB this is THE pattern that
    * turns a daily full recompute into a delta-sized job: the base
    * side is k rows per group, only the delta scans. */
  def x72IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
    val cut = lit("2024-01-25").cast("timestamp")
    def arm(p: org.apache.spark.sql.Column) = ev.filter(p)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
    // the two arms must PARTITION the table — a bare ts >= cut would
    // silently drop NULL-timestamp rows that the full-recompute
    // oracle counts (none exist in the test data, but the IVM
    // algebra's whole point is agg(base ∪ delta), not agg(most of it)
    arm(col("ts") < cut).unionByName(arm(col("ts") >= cut || col("ts").isNull))
      .groupBy("event_type")
      .agg(sum("cnt").as("cnt"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))
      .orderBy("event_type")
  }

  /** x73 — incremental JOIN maintenance: maintain a materialized join
    * view under delta batches on BOTH sides by the classical delta
    * decomposition (DBSP / Materialize / differential-dataflow
    * algebra): (A₀∪ΔA)⋈(B₀∪ΔB) ≡ A₀⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈B₀ ∪ ΔA⋈ΔB —
    * the join complement of x72's mergeable-aggregate IVM (which
    * maintains agg state; this maintains the JOIN itself — the
    * enrichment views a warehouse refreshes nightly). Base/delta
    * splits are independent of the join key on both sides (orders by
    * o_orderkey mod 7, lineitem by l_linenumber ≥ 6), so all four
    * decomposition terms are non-empty and a wrong algebra — ΔA⋈B
    * instead of ΔA⋈B₀ (double-counts ΔA⋈ΔB), a dropped term, a
    * non-partitioning split — shifts the view's counts and
    * hash-fails against the from-scratch oracle.
    *
    * The view rows are rolled up per (priority, returnflag) to keep
    * the output bounded; revenue quantizes per row to integer cents
    * via floor(x·100 + 0.5) — positive values, so half-away rounding
    * with no round() tie-mode dependence, and the integer SUM is
    * summation-order independent (the x72/VectorSumAgg convention).
    *
    * Round 11 (VERDICT r10 "what's wrong" #1): the A₀⋈B₀ term is now
    * ACTUALLY the stored view — its per-(priority, returnflag)
    * aggregated partials are a fingerprint-keyed parquet artifact
    * ([[x73BasePartials]], the p8 discipline applied to the join
    * side), built once per input fingerprint and READ by every
    * refresh. Per-refresh cost is therefore exactly the three delta
    * terms — each joins one delta-sized (broadcastable) side against
    * the other side's scan — plus a partials-sized merge; the 86 % ×
    * 5/7 base join never recomputes. (cnt, Σcents) are mergeable, so
    * merge(agg(A₀⋈B₀), agg(Δ-terms)) ≡ agg(all four terms), and the
    * from-scratch oracle gates that identity end-to-end: a stale or
    * wrong stored base cannot hash-match. */
  def x73JoinIvm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = x73Orders(spark, dir)
    val l = x73Lineitem(spark, dir)
    val oBase = o.filter(col("o_orderkey") % 7 =!= 0)
    val oDelta = o.filter(col("o_orderkey") % 7 === 0)
    val lBase = l.filter(col("l_linenumber") < 6)
    val lDelta = l.filter(col("l_linenumber") >= 6)
    val deltaPartials = x73Term(oBase, lDelta)
      .unionByName(x73Term(oDelta, lBase))
      .unionByName(x73Term(oDelta, lDelta))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum("rev_c").as("rev_cents"))
    x73BasePartials(spark, dir)
      .unionByName(deltaPartials)
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(sum("cnt").as("cnt"), sum("rev_cents").as("rev_cents"))
      .orderBy("o_orderpriority", "l_returnflag")
  }

  private def x73Orders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
  }

  private def x73Lineitem(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)").as("rev_c"))
  }

  /** One decomposition term — shared by the delta arms and the stored
    * base build so the two sides cannot diverge (p8's p8TermAgg rule). */
  private def x73Term(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    a.join(b, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("l_returnflag"), col("rev_c"))
  }

  /** Build counter for the stored base-join partials (lifecycle pin). */
  private[graft] val x73BaseBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** The maintained A₀⋈B₀ term: its (priority, returnflag) →
    * (cnt, Σcents) aggregated partials, STORED as a fingerprint-keyed
    * parquet artifact. All cells are exact (strings + integers), so
    * the roundtrip is bit-exact; the fingerprint folds in both split
    * predicates — changing the base/delta partition re-keys the
    * artifact rather than serving a stale base. */
  private def x73BasePartials(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fp = graft.core.ArtifactStore.fingerprint(dir,
      Seq("orders.parquet", "lineitem.parquet"),
      Seq("x73base=v1:osplit=orderkey%7<>0:lsplit=linenumber<6"))
    graft.core.ArtifactStore.getOrBuild(spark, "x73_base_v1", fp, dir, x73BaseBuilds) { _ =>
      val oBase = x73Orders(spark, dir).filter(col("o_orderkey") % 7 =!= 0)
      val lBase = x73Lineitem(spark, dir).filter(col("l_linenumber") < 6)
      x73Term(oBase, lBase)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("cnt"), sum("rev_c").as("rev_cents"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x73_join_ivm" -> (x73JoinIvm _),
    "x72_incremental_agg" -> (x72IncrementalAgg _),
    "x65_pagerank"      -> (x65Pagerank _),
    "x61_snapshot_diff" -> (x61SnapshotDiff _),
    "x67_window_dedup_rank" -> (x67WindowDedupRank _),
    "x69_upsert_apply"  -> (x69UpsertApply _),
    "x70_triangle_count" -> (x70TriangleCount _),
    "x56_pit_join"      -> (x56PitJoin _),
    "x53_grouping_sets" -> (x53GroupingSets _),
    "x52_scd2"          -> (x52Scd2 _),
    "x47_gap_fill"      -> (x47GapFill _),
    "x46_cdc_upsert"    -> (x46CdcUpsert _),
    "x40_unpivot"       -> (x40Unpivot _),
    "x41_lateral"       -> (x41Lateral _),
    "x42_recursive_cte" -> (x42RecursiveCte _),
    "x43_map_funcs"     -> (x43MapFuncs _),
    "x44_listagg"       -> (x44Listagg _),
  )

  /** x61/x69's snapshot of one changelog half (event_id % 2 =
    * `parity`): each user's latest (event_type, value), as CTE `name`. */
  private def latestOfHalfDuck(name: String, parity: Int): String =
    s"""$name AS (SELECT user_id, event_type AS t, round(value, 4) AS v
            FROM (SELECT *, row_number() OVER
                    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events WHERE event_id % 2 = $parity)
            WHERE rn = 1)"""

  val oracleSql: Map[String, String] = Map(
    // x73's oracle is the from-scratch JOIN — a wrong delta
    // decomposition (double-counted ΔA⋈ΔB, a dropped term, a split
    // that isn't a partition) shifts cnt/rev and cannot hash-match.
    // floor(x*100 + 0.5) is the shared half-away spelling (no round()
    // tie-mode dependence); values are positive
    "x73_join_ivm" ->
      """SELECT o_orderpriority, l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority, l_returnflag
      ORDER BY o_orderpriority, l_returnflag""",
    // x72's oracle is the FULL recompute — if the merge algebra were
    // wrong in any slot, the merged view could not match it
    "x72_incremental_agg" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v,
        CAST(MIN(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS min_v,
        CAST(MAX(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS max_v
      FROM events GROUP BY event_type ORDER BY event_type""",
    // identical iteration text bar DuckDB's // integer division; the
    // oracle keeps edges/deg as CTEs (DuckDB materializes reused CTEs)
    "x65_pagerank" ->
      (s"""WITH fwd AS (SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
                   FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      edges AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      """ + pagerankIterSql("//", "edges", "deg")),
    // the identical shared algorithm fragments composed as CTEs (edge
    // derivation swaps DIV for //); exact integer counts
    "x70_triangle_count" ->
      (s"""WITH ${triangleEdgesSql("//")},
      deg AS (${triangleDegSql("raw")}),
      oriented AS (${triangleOrientSql("raw", "deg")}),
      """ + triangleTopSql("oriented", triangleCornersDuck).stripPrefix("WITH ")),
    // the classic row_number()-over-the-whole-changelog spelling the
    // heap-trim must equal: same recency order, same k=2 retention
    "x67_window_dedup_rank" ->
      """SELECT user_id, event_type, rk, event_id, v FROM (
        SELECT user_id, event_type,
               CAST(row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rk,
               event_id, round(value, 4) AS v
        FROM events) t
      WHERE rk <= 2
      ORDER BY user_id, event_type, rk""",
    // x61's row_number snapshot spelling per half, the same merge
    // rule: change row wins, base survives, provenance tagged
    "x69_upsert_apply" ->
      s"""WITH ${latestOfHalfDuck("base", 0)},
      ${latestOfHalfDuck("chg", 1)}
      SELECT coalesce(c.user_id, b.user_id) AS user_id,
             coalesce(c.t, b.t) AS t,
             coalesce(c.v, b.v) AS v,
             CASE WHEN b.user_id IS NULL THEN 'inserted'
                  WHEN c.user_id IS NULL THEN 'kept'
                  ELSE 'updated' END AS src
      FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
      ORDER BY user_id""",
    // snapshots restated through the row_number spelling (the x46
    // oracle pattern) per changelog half; same diff classification
    "x61_snapshot_diff" ->
      s"""WITH ${latestOfHalfDuck("a", 0)},
      ${latestOfHalfDuck("b", 1)}
      SELECT user_id, diff, type_old, type_new FROM (
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               CASE WHEN a.user_id IS NULL THEN 'added'
                    WHEN b.user_id IS NULL THEN 'removed'
                    WHEN a.t IS DISTINCT FROM b.t
                      OR a.v IS DISTINCT FROM b.v THEN 'changed'
                    ELSE 'same' END AS diff,
               a.t AS type_old, b.t AS type_new
        FROM a FULL OUTER JOIN b ON a.user_id = b.user_id)
      WHERE diff <> 'same'
      ORDER BY user_id""",
    // the same history CTEs + the same containment predicate; the
    // probe grid is DuckDB's unnest of the same three instants
    "x56_pit_join" ->
      s"""WITH $scd2HistSql,
      probes AS (
        SELECT user_id, unnest([
          TIMESTAMP '2024-01-08 12:00:00',
          TIMESTAMP '2024-01-15 12:00:00',
          TIMESTAMP '2024-01-22 12:00:00']) AS t
        FROM (SELECT DISTINCT user_id FROM events))
      SELECT p.user_id, p.t, iv.attr, iv.valid_from
      FROM probes p LEFT JOIN iv
        ON iv.user_id = p.user_id
        AND iv.valid_from <= p.t
        AND (iv.valid_to IS NULL OR p.t < iv.valid_to)
      ORDER BY p.user_id, p.t""",
    // same explicit set list; gid composed from per-column GROUPING
    // flags so the two engines' internal bit orders never matter
    "x53_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS BIGINT) * 2
               + CAST(grouping(o_orderpriority) AS BIGINT) AS gid,
             COUNT(*) AS cnt,
             round(SUM(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderpriority), ())
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    // identical run-detection arithmetic; (ts, event_id) tie order in
    // both dialects keeps run boundaries deterministic
    "x52_scd2" ->
      """WITH chg AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      runs AS (
        SELECT user_id, ts, event_type,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM chg),
      hist AS (
        SELECT user_id, event_type AS attr, MIN(ts) AS valid_from,
               COUNT(*) AS n_updates
        FROM runs GROUP BY user_id, run, event_type)
      SELECT user_id, attr, valid_from,
             lead(valid_from) OVER
               (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
             n_updates
      FROM hist
      ORDER BY user_id, valid_from""",
    // same spine/fill/LOCF semantics; DuckDB spells IGNORE NULLS inline
    "x47_gap_fill" ->
      """WITH ev AS (SELECT user_id, CAST(hour(ts) AS BIGINT) AS h
                  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'),
      cell AS (SELECT user_id, h, COUNT(*) AS cnt FROM ev GROUP BY user_id, h),
      grid AS (SELECT user_id, CAST(unnest(range(0, 24)) AS BIGINT) AS h
               FROM (SELECT DISTINCT user_id FROM ev)),
      j AS (SELECT g.user_id, g.h, cell.cnt
            FROM grid g LEFT JOIN cell ON cell.user_id = g.user_id AND cell.h = g.h)
      SELECT user_id, h,
             coalesce(cnt, 0) AS cnt,
             coalesce(last_value(cnt IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS locf_cnt
      FROM j ORDER BY user_id, h""",
    // the textbook row_number spelling the max_by aggregation must equal
    "x46_cdc_upsert" ->
      """SELECT user_id, event_type AS last_type,
             round(value, 4) AS last_value, ts AS last_ts
      FROM (SELECT *, row_number() OVER
              (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id""",
    // the same SQL-standard UNPIVOT clause; measure names are the
    // source column names on both engines
    "x40_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, v
      FROM (SELECT l_orderkey, l_linenumber,
                   l_quantity, l_extendedprice, l_discount, l_tax
            FROM lineitem)
      UNPIVOT (v FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
      ORDER BY l_orderkey, l_linenumber, measure, v""",
    // DuckDB decorrelates the same lateral aggregate; COUNT over the
    // empty group is 0 on both engines (the count-bug check)
    "x41_lateral" ->
      """SELECT c.c_custkey, l.n_orders, l.max_price
      FROM customer c,
      LATERAL (SELECT COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
               FROM orders o WHERE o.o_custkey = c.c_custkey) l
      ORDER BY c.c_custkey""",
    // same ladder, DuckDB's // integer division
    "x42_recursive_cte" ->
      """WITH RECURSIVE walk(o_orderkey, cur, depth) AS (
        SELECT o_orderkey, o_orderkey, CAST(0 AS BIGINT) FROM orders
        UNION ALL
        SELECT o_orderkey, cur // 10, depth + 1 FROM walk WHERE cur > 0
      )
      SELECT o_orderkey, MAX(depth) AS depth
      FROM walk GROUP BY o_orderkey ORDER BY o_orderkey""",
    // the map is a Spark-side intermediate; the semantics — distinct
    // type count + per-type counts with 0 default — restated as
    // conditional aggregation
    "x43_map_funcs" ->
      """SELECT user_id,
        COUNT(DISTINCT event_type)                                   AS n_types,
        CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT)    AS clicks,
        CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchases,
        CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT)    AS errors
      FROM events GROUP BY user_id ORDER BY user_id""",
    // DuckDB's ordered-aggregate spelling of the same LISTAGG: distinct
    // segments joined in ascending order, same delimiter
    "x44_listagg" ->
      """SELECT n_name,
        string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        COUNT(*) AS n_cust
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
  )
}
