package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Scalar-function library sampler (x13–x15): the reference has no
  * function library at all (SURVEY §2.3 — its only scalar ops were
  * substring containment and comma split); a drop-in replacement needs
  * the standard string/date/array surface. Each query exercises a
  * representative set with a DuckDB twin, with the usual dialect care:
  * 64-bit casts on integer-valued functions, identical aliases, total
  * ordering.
  */
object FunctionQueries {

  private def view(spark: SparkSession, dir: String, name: String): Unit =
    Tables.load(spark, dir, name).createOrReplaceTempView(name)

  /** x13 — string functions over orders. */
  def x13StringFuncs(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql("""
      SELECT o_orderkey,
        upper(o_orderpriority)                    AS up,
        lower(o_orderpriority)                    AS lo,
        CAST(length(o_orderpriority) AS BIGINT)   AS len,
        replace(o_orderpriority, '-', '_')        AS repl,
        lpad(o_orderstatus, 3, '.')               AS pad,
        trim(concat(' ', o_orderstatus, ' '))     AS trimmed,
        reverse(o_orderstatus)                    AS rev,
        CAST(instr(o_orderpriority, 'URGENT') AS BIGINT) AS pos
      FROM orders ORDER BY o_orderkey""")
  }

  /** x14 — date/time functions over orders (all integer parts cast to
    * BIGINT: Spark returns int32, DuckDB int64). */
  def x14DateFuncs(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql("""
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS BIGINT)       AS y,
        CAST(quarter(o_orderdate) AS BIGINT)    AS q,
        CAST(month(o_orderdate) AS BIGINT)      AS m,
        CAST(day(o_orderdate) AS BIGINT)        AS d,
        CAST(dayofyear(o_orderdate) AS BIGINT)  AS doy,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
      FROM orders ORDER BY o_orderkey""")
  }

  /** x15 — array functions over documents' token arrays. */
  def x15ArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "documents")
    spark.sql("""
      SELECT doc_id,
        CAST(size(split(text, ' ')) AS BIGINT)                    AS n,
        concat_ws(' ', slice(split(text, ' '), 1, 3))             AS first3,
        concat_ws(' ', array_sort(slice(split(text, ' '), 1, 5))) AS sorted5,
        array_contains(split(text, ' '), 'merge')                 AS has_merge,
        element_at(split(text, ' '), 1)                           AS first_tok
      FROM documents ORDER BY doc_id""")
  }

  /** x16 — distinct aggregation (SURVEY §2.3 gap): exact COUNT(DISTINCT)
    * alongside plain aggregates. Catalyst plans this as a two-level
    * aggregate (dedup on (group, distinct-key) then count) — one extra
    * shuffle, no driver involvement. */
  def x16DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    spark.sql("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_suppkey)  AS n_supp,
        COUNT(DISTINCT l_partkey)  AS n_part,
        COUNT(*)                   AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** x18 — exact percentiles (continuous interpolation): median and p90
    * of order value per status. Spark `percentile` and DuckDB
    * `quantile_cont` share the definition; results rounded to 4dp since
    * the interpolation arithmetic can differ in the last ulp. */
  def x18Percentile(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql("""
      SELECT o_orderstatus,
        round(percentile(o_totalprice, 0.5), 4) AS p50,
        round(percentile(o_totalprice, 0.9), 4) AS p90
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** x20 — approximate distinct counting through the CUSTOM
    * [[graft.functions.KmvDistinct]] sketch aggregate: distinct
    * l_orderkey per return flag via k=64 minimum hash values. The
    * query hashes the key with a literal LCG→xorshift→LCG mix (a plain
    * affine map `(a·x+b) mod P` never wraps for small keys, so its
    * values are NOT uniform over the space and the KMV estimate biases
    * high — same lattice lesson as the LSH planes); the DuckDB oracle
    * reproduces the exact estimate, making the sketch's determinism
    * part of the oracle gate, not just unit-tested. x16 is the exact
    * two-shuffle spelling; this is its one-shuffle, k-longs-per-group
    * scale twin. */
  def x20KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, dir, "lineitem")
      .selectExpr("l_returnflag",
        FunctionQueries.kmvHashSpark("l_orderkey") + " AS h")
    li.groupBy("l_returnflag")
      .agg(graft.functions.KmvDistinct(col("h"), 64).as("est_orders"))
      .orderBy("l_returnflag")
  }

  /** x71 — SKETCH SET ALGEBRA: estimate the overlap |A∩B| of two user
    * populations (high-value clickers vs high-value purchasers —
    * genuinely partial overlap, neither containing the other) from their KMV
    * sketches alone — the question a 100 TB pipeline answers WITHOUT
    * re-scanning either side, because k-minimum-values sketches are
    * mergeable and closed under union (Beyer et al., SIGMOD'07): the k
    * smallest of KMV(A) ∪ KMV(B) IS KMV(A∪B), and the match fraction
    * ρ = |{h ∈ KMV(A∪B) : h ∈ both sketches}| / |KMV(A∪B)| estimates
    * the Jaccard coefficient, so |A∩B| ≈ ρ · est|A∪B|. Each side is
    * one map-side-mergeable aggregate (k longs per partition — the x20
    * scale story); the set algebra then runs on two ≤64-entry arrays
    * in a broadcast 1-row×1-row join. All arithmetic is integer
    * (counts + the (k−1)·P div h_k estimate), so the DuckDB twin —
    * same hash, same sketches via ORDER BY h LIMIT k, same list
    * algebra — reproduces every output bit. When a side is
    * unsaturated (< k distinct) its sketch is the exact hash set and
    * the estimator degrades gracefully to exact values — sf0.001
    * exercises that branch, sf0.1 the saturated one. */
  def x71SketchIntersect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
    def sketch(pred: org.apache.spark.sql.Column, est: String, sk: String) = ev.filter(pred)
      .selectExpr(FunctionQueries.kmvHashSpark("user_id") + " AS h")
      .agg(graft.functions.KmvDistinct(col("h"), 64).as(est),
        graft.functions.KmvDistinct.values(col("h"), 64).as(sk))
    val a = sketch(col("event_type") === "click" && col("value") > 99, "est_a", "ska")
    val b = sketch(col("event_type") === "purchase" && col("value") > 99, "est_b", "skb")
    a.crossJoin(b)
      .selectExpr(
        "est_a", "est_b",
        "slice(array_sort(array_distinct(concat(ska, skb))), 1, 64) AS uk",
        "size(array_distinct(concat(ska, skb))) AS usz", "ska", "skb")
      .selectExpr(
        "est_a", "est_b",
        """CASE WHEN usz < 64 THEN CAST(usz AS BIGINT)
                ELSE CAST(63 AS BIGINT) * 1000000007 DIV element_at(uk, 64) END AS est_union""",
        """CAST(size(filter(uk, x -> array_contains(ska, x) AND array_contains(skb, x)))
           AS BIGINT) AS n_match""",
        // greatest(…, 1): both populations empty ⇒ usz = 0 and the
        // final division would be 0 DIV 0 (ANSI mode throws); the
        // same divisor clamp KmvDistinct.eval applies. n_match is 0
        // there, so the estimate is the correct 0.
        "CAST(greatest(least(usz, 64), 1) AS BIGINT) AS denom")
      .selectExpr("est_a", "est_b", "est_union", "n_match",
        "n_match * est_union DIV denom AS est_intersect")
  }

  /** The KMV input hash, Spark dialect (`^` = xor). */
  private[graft] def kmvHashSpark(x: String): String = {
    val h1 = s"((48271 * $x + 11) % 1000000007)"
    // shiftright(), not `>>`: Spark 4.1's lexer reads `>>` as two `>`
    // once an array(/map(/struct( call appears earlier in the same
    // statement (those keywords open a complex-type nesting level that
    // only a `>` closes), and this fragment is spliced into statements
    // it does not control
    s"(48271 * ($h1 ^ shiftright($h1, 16)) + 11) % 1000000007"
  }

  /** Same hash, DuckDB dialect (`^` is power there; xor() is the
    * function; literals forced BIGINT — DuckDB's INT32 multiplication
    * errors on overflow rather than widening). */
  private[graft] def kmvHashDuck(x: String): String = {
    val h1 = s"((CAST(48271 AS BIGINT) * $x + 11) % 1000000007)"
    s"(CAST(48271 AS BIGINT) * xor($h1, $h1 >> 16) + 11) % 1000000007"
  }

  /** x21 — skew-safe two-phase aggregation through [[graft.operators
    * .Salting]]: lineitem counted by return flag, a 3-distinct-value
    * key — the textbook hot-key regime where a plain groupBy lands each
    * giant group on one reducer. The salted rewrite spreads each key's
    * partials over 16 salt buckets and re-merges; the oracle gates the
    * rewrite's correctness (result must equal the plain GROUP BY). */
  def x21SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Salting.saltedGroupCount(Seq("l_returnflag"),
      saltBy = Seq("l_orderkey", "l_linenumber"))(
      Tables.load(spark, dir, "lineitem"))
      .orderBy("l_returnflag")

  /** x30 — skew-safe salted equi-join through [[graft.operators.Salting
    * .saltedJoin]] on a PLANTED zipfian-head key: every 5th event is
    * rerouted to user 0 (`event_id % 5 = 0`), so one key owns ~20 % of
    * the fact side — the hot-user regime where a plain shuffle join
    * lands a fifth of the table on one reducer. The fact joins a
    * per-user dimension derived from the same events table; the salted
    * rewrite spreads user 0 over 16 salt buckets and replicates the
    * 150-row dim 16×. The oracle gates the rewrite against the plain
    * inner join it must equal (join multiplicity checked by summing the
    * dim measure over joined rows). SkewSpec carries the other half of
    * the skew story: AQE's runtime skew-split on the same shape, plus
    * the wall-time envelope vs uniform data.
    */
  def x30SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
    val fact = ev.select(
      when(col("event_id") % 5 === 0, lit(0L)).otherwise(col("user_id")).as("uid"),
      col("event_type"), col("value"))
    val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
      .withColumnRenamed("user_id", "d_uid")
    graft.operators.Salting
      .saltedJoin(fact, dim, "uid", "d_uid", n = 16, saltBy = Seq("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("user_events").as("sum_user_events"))
      .orderBy("event_type")
  }

  /** x45 — EXACT heavy hitters in two bounded-memory scans through the
    * CUSTOM [[graft.functions.MisraGries]] sketch aggregate. The key
    * space plants a zipf head (70 % of events collapse onto keys 0–4 via
    * `event_id` arithmetic; the rest spread over ~150 user keys), and
    * the question is "which keys own more than 5 % of the table".
    *
    * Pass 1: one ungrouped Misra–Gries(64) aggregate — each partition
    * ships ≤64 (key, count) pairs, merged associatively; the result is a
    * ≤64-element candidate array GUARANTEED to contain every key with
    * frequency > n/65 (so a fortiori every key above n/20). Pass 2:
    * broadcast the 1-row candidate array back over the scan,
    * `array_contains` filter, exact COUNT per surviving key, threshold
    * `cnt * 20 > n`. Neither pass groups by the full key domain — at
    * 100 TB the aggregate state is 64 keys, not |keys|, and the only
    * full-width shuffle is the candidate-filtered recount (≤64 groups).
    * The sketch's merge-order nondeterminism never reaches the output:
    * candidates are recounted exactly, so the oracle is the plain
    * GROUP BY ... HAVING the user would write at test scale. */
  def x45HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val keyed = Tables.load(spark, dir, "events").select(
      when(col("event_id") % 10 < 7, col("event_id") % 5)
        .otherwise(col("user_id") + 1000L).cast("long").as("k"))
    val cand = keyed.agg(
      graft.functions.MisraGries(col("k"), 64).as("ks"),
      count(lit(1)).as("n"))
    keyed.join(broadcast(cand), array_contains(col("ks"), col("k")))
      .groupBy("k", "n").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 20 > col("n"))
      .select(col("k"), col("cnt"))
      .orderBy("k")
  }

  /** x48 — approximate median through a FIXED-WIDTH HISTOGRAM: the
    * mergeable, bounded-state quantile path. x18's exact `percentile`
    * buffers every value per group (sort-based, state ∝ rows); this
    * buckets o_totalprice into 600-unit bins (one partial+final
    * aggregate on (group, bucket) — state ∝ occupied buckets, ~1000
    * at most, at ANY row count), takes a cumulative count over the
    * tiny per-group histogram, and reads the bucket whose cumulative
    * share crosses 1/2; the estimate is the bucket midpoint, within
    * half a bin width of the true median by construction. Bin counts
    * merge associatively across partitions — the same
    * sketch-capability argument as x20/x45, here with plain integer
    * arithmetic both engines reproduce bit-for-bit. */
  def x48HistogramQuantile(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql("""
      WITH h AS (SELECT o_orderstatus, CAST(floor(o_totalprice / 600) AS BIGINT) AS b,
                        COUNT(*) AS c
                 FROM orders GROUP BY o_orderstatus, b),
      cum AS (SELECT o_orderstatus, b, c,
                     SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY b) AS cum,
                     SUM(c) OVER (PARTITION BY o_orderstatus) AS n
              FROM h)
      SELECT o_orderstatus, MIN(b) AS p50_bucket,
             round((MIN(b) + 0.5) * 600, 1) AS p50_est
      FROM cum WHERE cum * 2 >= n
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** x50 — windowed approximate distinct: unique users per event-time
    * day × event type through the KMV sketch — x20's mergeable-sketch
    * argument composed with x7's event-time windowing, which is the
    * shape streaming analytics actually runs ("rolling uniques"). One
    * partial+final aggregate on (window, type); each partition ships
    * ≤64 hashes per group instead of its user set, so state per
    * (window, type) is bounded at ANY traffic volume — the exact
    * spelling shuffles every distinct (window, type, user) triple.
    * Deterministic (same hash, same k-th order statistic), so the
    * DuckDB twin reproduces the estimates bit-for-bit. */
  def x50WindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        expr(FunctionQueries.kmvHashSpark("user_id")).as("h"))
    ev.groupBy("day", "event_type")
      .agg(graft.functions.KmvDistinct(col("h"), 64).as("est_users"))
      .orderBy("day", "event_type")
  }

  /** The moments formula over already-double power sums — ONE spelling
    * shared verbatim by the Spark query and the DuckDB twin, so the two
    * engines run the identical IEEE expression tree (neither dialect
    * reassociates) and 6dp rounding has nothing luck-based to hide. */
  private val momentsFormulaSql = """
      SELECT event_type, CAST(n AS BIGINT) AS n,
        round(mean, 6) AS mean,
        round(sqrt(v2), 6) AS stddev_pop,
        round((s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean)
              / (v2 * sqrt(v2)), 6) AS skewness,
        round((s4 / n - 4 * mean * (s3 / n) + 6 * mean * mean * (s2 / n)
               - 3 * mean * mean * mean * mean)
              / (v2 * v2) - 3.0, 6) AS excess_kurtosis
      FROM (SELECT event_type, n, s1 / n AS mean,
                   s2 / n - (s1 / n) * (s1 / n) AS v2, s2, s3, s4
            FROM (SELECT event_type,
                    CAST(cnt AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
                    CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
                    CAST(s4 AS DOUBLE) AS s4
                  FROM psums))
      ORDER BY event_type"""

  /** x55 — higher-moment statistics battery (mean, population stddev,
    * skewness, excess kurtosis) per event type, computed the
    * SINGLE-PASS way: one scan accumulates the four integer power sums
    * Σv..Σv⁴ (each a plain SUM — partial+final, map-side combinable,
    * 32 bytes of state per group at ANY corpus size), and the
    * statistics derive from the sums afterward. The textbook
    * `STDDEV/SKEWNESS/KURTOSIS` builtins exist on both engines but
    * disagree in definition (sample vs population corrections) and in
    * internal update order (Welford-style streams are
    * association-sensitive in FP) — spelling the moments from exact
    * integer sums makes the cross-engine equality arithmetic, not
    * luck, and shows the sums ARE the mergeable sketch (union of
    * partitions = elementwise sum). Values quantize to integer units
    * first (v = round(value), ≤ 561) so every power sum is an exact
    * integer: Σv⁴ ≤ 1e16 per group stays inside BIGINT (and inside
    * HUGEINT in the twin), and the one CAST to DOUBLE rounds the same
    * integer to the same double on both engines. */
  def x55Moments(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(s"""
      WITH psums AS (
        SELECT event_type, COUNT(*) AS cnt,
               SUM(v) AS s1, SUM(v * v) AS s2,
               SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
        FROM (SELECT event_type, CAST(round(value) AS BIGINT) AS v FROM events)
        GROUP BY event_type)
      $momentsFormulaSql""")
  }

  /** The x57 standardization SQL — ONE text shared verbatim by both
    * engines (same reasoning as [[momentsFormulaSql]]: identical IEEE
    * expression tree, and the keep decision compares the ROUNDED z so
    * the boundary is cross-engine stable by construction). */
  private val zscoreSql = """
      WITH psums AS (
        SELECT event_type, COUNT(*) AS cnt, SUM(v) AS s1, SUM(v * v) AS s2
        FROM (SELECT event_type, CAST(round(value) AS BIGINT) AS v FROM events)
        GROUP BY event_type),
      st AS (
        SELECT event_type, s1 / n AS mean,
               sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd
        FROM (SELECT event_type, CAST(cnt AS DOUBLE) AS n,
                     CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2
              FROM psums))
      SELECT event_id, event_type, v, z FROM (
        SELECT e.event_id, e.event_type,
               CAST(round(e.value) AS BIGINT) AS v,
               round((CAST(round(e.value) AS BIGINT) - st.mean) / st.sd, 6) AS z
        FROM events e JOIN st ON e.event_type = st.event_type)
      WHERE abs(z) > 2.5
      ORDER BY event_id"""

  /** x57 — two-pass standardization / anomaly gate: per-type z-scores
    * with the |z| > 2.5 outliers emitted — the feature-normalization +
    * outlier-quarantine stage every tabular training pipeline runs
    * (and the per-type version of what x55's moments are FOR). Pass 1
    * is x55's power-sum aggregate restricted to Σv, Σv² — a 5-row
    * stats table from a (event_type, value)-only columnar read; pass 2
    * re-scans and joins the stats back BY BROADCAST (the stats side is
    * group-cardinality-sized at any corpus size), so scoring stays a
    * perfectly parallel scan with no fact-side shuffle — the presentation
    * sort is the only exchange of row data. The two scans are the
    * honest cost of exact global statistics; the streaming alternative
    * (approximate running stats) trades exactness for one pass. */
  def x57Zscore(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(zscoreSql)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x57_zscore" -> (x57Zscore _),
    "x55_moments" -> (x55Moments _),
    "x50_windowed_distinct" -> (x50WindowedDistinct _),
    "x48_histogram_quantile" -> (x48HistogramQuantile _),
    "x45_heavy_hitters" -> (x45HeavyHitters _),
    "x20_kmv_distinct" -> (x20KmvDistinct _),
    "x71_sketch_intersect" -> (x71SketchIntersect _),
    "x21_salted_agg"   -> (x21SaltedAgg _),
    "x30_skew_join"    -> (x30SkewJoin _),
    "x18_percentile"   -> (x18Percentile _),
    "x13_string_funcs" -> (x13StringFuncs _),
    "x14_date_funcs"   -> (x14DateFuncs _),
    "x15_array_funcs"  -> (x15ArrayFuncs _),
    "x16_distinct_agg" -> (x16DistinctAgg _),
  )

  val oracleSql: Map[String, String] = Map(
    // byte-identical shared SQL text — see zscoreSql
    "x57_zscore" -> zscoreSql,
    // the identical shared formula over the same integer power sums;
    // DuckDB's BIGINT SUM widens to HUGEINT, collapsed by the same
    // CAST AS DOUBLE of the same exact integer
    "x55_moments" ->
      s"""WITH psums AS (
        SELECT event_type, COUNT(*) AS cnt,
               SUM(v) AS s1, SUM(v * v) AS s2,
               SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
        FROM (SELECT event_type, CAST(round(value) AS BIGINT) AS v FROM events)
        GROUP BY event_type)
      $momentsFormulaSql""",
    // x20's KMV estimate arithmetic, grouped by the event-time window
    "x50_windowed_distinct" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        CASE WHEN count(DISTINCT h) < 64 THEN count(DISTINCT h)
             ELSE CAST(63 AS BIGINT) * 1000000007 // list_sort(list(DISTINCT h))[64] END AS est_users
      FROM (SELECT ts, event_type, ${kmvHashDuck("user_id")} AS h FROM events)
      GROUP BY 1, 2 ORDER BY 1, 2""",
    // identical integer bucket/cumulative arithmetic in both engines
    "x48_histogram_quantile" ->
      """WITH h AS (SELECT o_orderstatus, CAST(floor(o_totalprice / 600) AS BIGINT) AS b,
                        COUNT(*) AS c
                 FROM orders GROUP BY o_orderstatus, b),
      cum AS (SELECT o_orderstatus, b, c,
                     SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY b) AS cum,
                     SUM(c) OVER (PARTITION BY o_orderstatus) AS n
              FROM h)
      SELECT o_orderstatus, MIN(b) AS p50_bucket,
             round((MIN(b) + 0.5) * 600, 1) AS p50_est
      FROM cum WHERE cum * 2 >= n
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the plain GROUP BY ... HAVING the two-pass sketch must equal
    "x45_heavy_hitters" ->
      """SELECT k, COUNT(*) AS cnt
      FROM (SELECT CASE WHEN event_id % 10 < 7 THEN event_id % 5
                        ELSE user_id + 1000 END AS k
            FROM events)
      GROUP BY k
      HAVING COUNT(*) * 20 > (SELECT COUNT(*) FROM events)
      ORDER BY k""",
    // x71: same hash, same ≤64-entry sketches (ORDER BY h LIMIT 64 ==
    // the k smallest distinct hashes), same union/match/estimate
    // integer algebra — every output column is exact integer
    // arithmetic on the sketch contents, so the twin is bit-identical
    "x71_sketch_intersect" ->
      (s"""WITH ha AS (SELECT DISTINCT ${kmvHashDuck("user_id")} AS h
             FROM events WHERE event_type = 'click' AND value > 99),
      hb AS (SELECT DISTINCT ${kmvHashDuck("user_id")} AS h
             FROM events WHERE event_type = 'purchase' AND value > 99),
      s AS (SELECT
        -- coalesce to []: DuckDB's list() over zero rows is NULL, but
        -- the Spark sketch aggregate yields an EMPTY array — without
        -- this the empty-side edge diverges engine-to-engine
        coalesce((SELECT list(h ORDER BY h) FROM (SELECT h FROM ha ORDER BY h LIMIT 64) t), []) AS ska,
        coalesce((SELECT list(h ORDER BY h) FROM (SELECT h FROM hb ORDER BY h LIMIT 64) t), []) AS skb,
        (SELECT COUNT(*) FROM ha) AS ca, (SELECT COUNT(*) FROM hb) AS cb),
      u AS (SELECT ska, skb, ca, cb,
              list_sort(list_distinct(list_concat(ska, skb))) AS ud FROM s),
      v AS (SELECT ska, skb, ca, cb, ud[1:64] AS uk, len(ud) AS usz FROM u)
      SELECT
        CASE WHEN ca < 64 THEN ca ELSE CAST(63 AS BIGINT) * 1000000007 // ska[64] END AS est_a,
        CASE WHEN cb < 64 THEN cb ELSE CAST(63 AS BIGINT) * 1000000007 // skb[64] END AS est_b,
        est_union, n_match, n_match * est_union // denom AS est_intersect
      FROM (SELECT ca, cb,
              CASE WHEN usz < 64 THEN CAST(usz AS BIGINT)
                   ELSE CAST(63 AS BIGINT) * 1000000007 // uk[64] END AS est_union,
              CAST(len(list_filter(uk, x -> list_contains(ska, x) AND list_contains(skb, x)))
                AS BIGINT) AS n_match,
              CAST(greatest(least(usz, 64), 1) AS BIGINT) AS denom, ska, skb
            FROM v) w"""),
    // same mixed hash, same k-th smallest distinct hash, same integer
    // estimate arithmetic -> bit-identical to the Spark sketch
    "x20_kmv_distinct" ->
      s"""SELECT l_returnflag,
        CASE WHEN count(DISTINCT h) < 64 THEN count(DISTINCT h)
             ELSE CAST(63 AS BIGINT) * 1000000007 // list_sort(list(DISTINCT h))[64] END AS est_orders
      FROM (SELECT l_returnflag, ${kmvHashDuck("l_orderkey")} AS h FROM lineitem)
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "x21_salted_agg" ->
      """SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the plain inner join the salted rewrite must equal; SUM cast back
    // to BIGINT (DuckDB widens SUM(BIGINT) to HUGEINT, Spark keeps LONG)
    "x30_skew_join" ->
      """SELECT f.event_type,
        COUNT(*)                            AS cnt,
        CAST(SUM(d.user_events) AS BIGINT)  AS sum_user_events
      FROM (SELECT CASE WHEN event_id % 5 = 0 THEN 0 ELSE user_id END AS uid,
                   event_type
            FROM events) f
      JOIN (SELECT user_id AS d_uid, COUNT(*) AS user_events
            FROM events GROUP BY user_id) d
        ON f.uid = d.d_uid
      GROUP BY f.event_type ORDER BY f.event_type""",
    "x18_percentile" ->
      """SELECT o_orderstatus,
        round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        round(quantile_cont(o_totalprice, 0.9), 4) AS p90
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "x13_string_funcs" ->
      """SELECT o_orderkey,
        upper(o_orderpriority)                    AS up,
        lower(o_orderpriority)                    AS lo,
        CAST(length(o_orderpriority) AS BIGINT)   AS len,
        replace(o_orderpriority, '-', '_')        AS repl,
        lpad(o_orderstatus, 3, '.')               AS pad,
        trim(concat(' ', o_orderstatus, ' '))     AS trimmed,
        reverse(o_orderstatus)                    AS rev,
        CAST(instr(o_orderpriority, 'URGENT') AS BIGINT) AS pos
      FROM orders ORDER BY o_orderkey""",
    "x14_date_funcs" ->
      """SELECT o_orderkey,
        CAST(year(o_orderdate) AS BIGINT)       AS y,
        CAST(quarter(o_orderdate) AS BIGINT)    AS q,
        CAST(month(o_orderdate) AS BIGINT)      AS m,
        CAST(day(o_orderdate) AS BIGINT)        AS d,
        CAST(dayofyear(o_orderdate) AS BIGINT)  AS doy,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
      FROM orders ORDER BY o_orderkey""",
    "x15_array_funcs" ->
      """SELECT doc_id,
        CAST(length(string_split(text, ' ')) AS BIGINT)                 AS n,
        array_to_string(string_split(text, ' ')[1:3], ' ')              AS first3,
        array_to_string(list_sort(string_split(text, ' ')[1:5]), ' ')   AS sorted5,
        list_contains(string_split(text, ' '), 'merge')                 AS has_merge,
        string_split(text, ' ')[1]                                      AS first_tok
      FROM documents ORDER BY doc_id""",
    "x16_distinct_agg" ->
      """SELECT l_returnflag,
        COUNT(DISTINCT l_suppkey)  AS n_supp,
        COUNT(DISTINCT l_partkey)  AS n_part,
        COUNT(*)                   AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
  )
}
