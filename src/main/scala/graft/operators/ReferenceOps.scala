package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dataflow operators (SURVEY §2.1, O4–O11) re-expressed
  * as a typed, composable `DataFrame => DataFrame` library.
  *
  * Two families:
  *
  *  1. '''Line ops''' — operate on a single `StringType` column (default
  *     `value`, as produced by `spark.read.text`), reproducing the
  *     reference's line-granular semantics exactly, including its naive
  *     comma split (quotes NOT honored) and silent short-row drop.
  *     Semantics pinned by the probe log in FIXTURES.md §3 against the
  *     compiled operator binaries (reference: op1_t1/op1_t2/op2_t1/op2_t2,
  *     exec'd at rainstorm/rainstorm.go:398-407,493-505).
  *  2. '''Relational ops''' — the same capabilities over proper schemas,
  *     which is what the declared query inventory (SURVEY §2.4) uses.
  *
  * Everything here is a narrow transformation or a Catalyst-planned
  * aggregate — no driver-side collection, no RDDs — so each op scales to
  * arbitrarily many partitions unchanged.
  */
object ReferenceOps {

  // ---------------------------------------------------------------- line ops

  /** O4 (op1_t1): keep lines containing `needle` anywhere, case-sensitive.
    * Reference: binary `main.filterRows` with literal "Punched"
    * (FIXTURES probes 3.1/3.4/3.5). */
  def filterContains(needle: String, colName: String = "value")(df: DataFrame): DataFrame =
    df.filter(col(colName).contains(needle))

  /** O5 (op1_t2): keep lines where naive-split(",")[idx] == `value`,
    * exactly; lines with <= idx fields are silently dropped (probes
    * 3.2/3.3/3.6). `get` (not ANSI `element_at`, which throws on
    * out-of-bounds in Spark 4) is NULL for short rows, and NULL === x
    * filters false, matching the binary's silent drop. */
  def filterFieldEq(idx: Int, value: String, colName: String = "value")(df: DataFrame): DataFrame =
    df.filter(get(split(col(colName), ",", -1), lit(idx)) === value)

  /** O6 (op2_t1): project naive-split fields at `indices`, re-joined with
    * ","; rows with fewer than max(indices)+1 fields are silently dropped
    * (probes 3.7/3.9/3.10/3.14/3.16 — note empty fields survive, short
    * rows do not). */
  def projectFields(indices: Seq[Int], colName: String = "value")(df: DataFrame): DataFrame = {
    val parts = split(col(colName), ",", -1)
    val need = indices.max + 1
    df.filter(size(parts) >= need)
      .select(concat_ws(",", indices.map(i => get(parts, lit(i))): _*).as(colName))
  }

  /** O7+O8 (op2_t2 + leader merge): group-count on naive-split field
    * `idx`; short rows silently dropped (probes 3.8/3.11/3.13/3.15/3.16).
    * Catalyst plans this as partial (map-side) + final aggregation —
    * exactly the reference's per-batch partial map + leader merge, but
    * shuffle-minimal and distributed. */
  def groupCountField(idx: Int, colName: String = "value")(df: DataFrame): DataFrame = {
    val parts = split(col(colName), ",", -1)
    df.filter(size(parts) >= idx + 1)
      .groupBy(get(parts, lit(idx)).as("key"))
      .agg(count(lit(1)).as("cnt"))
  }

  // ---------------------------------------------------------- relational ops

  /** O9 (leader batch dedup): keep the first row per key set, "first"
    * defined by an explicit total order — the reference keys batches by
    * StartLineNumber and drops re-deliveries (rainstorm.go:538-544).
    * Window row_number (not dropDuplicates) so "which row survives" is
    * deterministic — required for oracle hashing and for exactly-once
    * semantics to be testable. */
  def dedupFirst(keys: Seq[String], order: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ------------------------------------------------------- wire parity

  /** Stage-3 Transform envelope (op2_t1 wire format, probe 3.7):
    * `{"Type":"Transform","Data":"<lines joined by \n>"}` — the whole
    * input collapses to ONE envelope string per batch, lines in
    * `orderCol` order. Spark's to_json escapes like Go's json.Marshal
    * for the ASCII payloads the reference handles (Go additionally
    * HTML-escapes <>&, which never appear in the probe corpus).
    * Test-parity surface, not a scale path: a batch is small by
    * construction (BATCH_SIZE=5, rainstorm.go:24). */
  def envelopeTransform(orderCol: String, colName: String = "value")(df: DataFrame): DataFrame =
    df.agg(array_sort(collect_list(struct(col(orderCol).as("o"), col(colName).as("v"))))
        .as("rows")) // collect_list order is partition-dependent; sort after
      .select(to_json(struct(
        lit("Transform").as("Type"),
        concat_ws("\n", expr("transform(rows, r -> r.v)")).as("Data"))).as("envelope"))

  /** Stage-3 Aggregate envelope (op2_t2 wire format, probes 3.8/3.13):
    * `{"Type":"Aggregate","Data":"{\"k\":n,…}"}` with keys SORTED (Go
    * json.Marshal map ordering). Input: the (key, cnt) output of
    * [[groupCountField]]. */
  def envelopeAggregate(df: DataFrame): DataFrame =
    df.agg(array_sort(collect_list(struct(col("key"), col("cnt")))).as("entries"))
      .select(to_json(struct(
        lit("Aggregate").as("Type"),
        to_json(map_from_entries(col("entries"))).as("Data"))).as("envelope"))

  /** O8 leader console rendering (rainstorm.go:559): the running
    * aggregate printed as Go's fmt of a map — `map[k1:v1 k2:v2 …]`,
    * keys sorted. Input: (key, cnt) rows. Test-parity surface. */
  def leaderConsoleLine(df: DataFrame): DataFrame =
    df.agg(array_sort(collect_list(struct(col("key"), col("cnt")))).as("entries"))
      .select(concat(lit("map["),
        concat_ws(" ", expr("transform(entries, e -> concat(e.key, ':', e.cnt))")),
        lit("]")).as("line"))

  /** O11 (timestamp-ordered log merge, synchronizer.go:75-139): union of
    * replica append buffers → unique by timestamp → ascending order.
    * Reference resolves ts collisions by map-overwrite (last writer wins,
    * nondeterministic); engine uses explicit arg-min on `tieBreak` so the
    * merge is deterministic and permutation-invariant (SURVEY §7 risk 4).
    * One range shuffle on ts serves both steps: it clusters each ts in
    * one partition for the dedup window, and it already is the
    * ordered distribution the final sort needs, so the plan holds one
    * exchange, not a hash shuffle plus a range shuffle.
    */
  def tsOrderedMerge(tsCol: String, tieBreak: Seq[Column])(df: DataFrame): DataFrame =
    dedupFirst(Seq(tsCol), tieBreak)(df.repartitionByRange(col(tsCol)))
      .orderBy(col(tsCol) +: tieBreak: _*)
}
