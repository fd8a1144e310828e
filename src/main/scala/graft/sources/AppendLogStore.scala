package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.ReferenceOps

/** The reference's HyDFS file semantics (SURVEY §2.2, §3.2–3.3) restated
  * over Spark-native storage: '''write-optimized buffered appends +
  * read-triggered ordered compaction''' (reference README.md:8;
  * localstorage/localstorage.go:85-99, synchronizer/synchronizer.go:75-139).
  *
  * Mapping:
  *  - `create`  → errorifexists write of a `base/` dataset
  *    (user/user.go:28-72: create fails if the file exists);
  *  - `append`  → append-mode write into a `log/` dataset, each row
  *    stamped with a writer-supplied timestamp — the reference's one
  *    client-side timestamp per multi-replica append (user/user.go:161-170);
  *  - `read`    → merge-on-read: base ∪ log, dedup by ts (arg-min
  *    tie-break; the reference is last-writer-wins by map overwrite),
  *    ascending ts order — O11 exactly (user/user.go:106: Get always
  *    merges first);
  *  - `compact` → materialize the merged view back into `base/` and
  *    truncate the log — the reference's physical merge, made explicit
  *    instead of a side effect of reads.
  *
  * Replication, ring placement and anti-entropy (O12, O14) are the
  * storage layer's job here (HDFS/object store), per SURVEY §7's design
  * stance — this class owns only the VISIBLE semantics: append buffering
  * and ordered convergent merge.
  *
  * Scale: appends are blind writes (no read-modify-write, no lock), and
  * a read pays the merge only on the log, never rewriting base until
  * `compact`. Three invariants keep a read's fixed cost to one scan and
  * one shuffle:
  *  - the table schema is fixed at `create` (a store opened on an
  *    existing root takes it from base's footer once), so reads and
  *    appends start no schema-inference job;
  *  - each append commits ONE data file, so a read runs one map task
  *    per split, not one per appended partition;
  *  - the merge is one range shuffle on ts that serves both the dedup
  *    and the ascending order ([[ReferenceOps.tsOrderedMerge]]).
  */
class AppendLogStore(spark: SparkSession, root: String, tsCol: String = "ts") {

  private def basePath = s"$root/base"
  private def logPath = s"$root/log"

  /** The table schema: recorded by [[create]], or read from base once
    * per instance. Every write goes through a check against it, so it
    * never changes. */
  @volatile private var fixed: StructType = null
  private def schema: StructType = {
    if (fixed == null) {
      recoverBaseSwap()
      fixed = spark.read.parquet(basePath).schema
    }
    fixed
  }

  /** `create local hydfs` — fails if the table already exists. */
  def create(df: DataFrame): Unit = {
    df.write.mode(SaveMode.ErrorIfExists).parquet(basePath)
    fixed = df.schema
  }

  /** `append local hydfs` — buffered blind write; rows must carry the
    * writer timestamp column. Each append commits its OWN log segment
    * directory (`log/append_<uuid>/`): concurrent writers never share a
    * commit scope (a single shared append-mode write would race on the
    * committer's `_temporary` dir), which is what makes the reference's
    * multiappend — N simultaneous clients, no lock — safe here. One
    * data file per append: a HyDFS append is one client file, and every
    * extra file would be one more map task on every later read (the
    * frame's own upstream also runs in one task, which suits a
    * client-file-sized append; a bulk load belongs in `create`). The
    * rows must have the table's column names and types (nullability
    * aside), or the append throws before writing. */
  def append(df: DataFrame): Unit = {
    require(df.columns.contains(tsCol), s"append rows need a '$tsCol' column")
    // a frame the store cannot read back would fail every later read
    def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    require(shape(df.schema) == shape(schema),
      s"append rows ${df.schema.simpleString} do not match the table's ${schema.simpleString}")
    df.coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$logPath/append_${java.util.UUID.randomUUID()}")
  }

  private def fs =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Committed log segments right now — the snapshot unit of
    * [[compact]]. A segment counts only once its `_SUCCESS` marker
    * exists: an in-flight concurrent append (no marker yet) is neither
    * read nor deleted. */
  private def logSegments: Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(hPath(logPath))) Seq.empty
    else fs.listStatus(hPath(logPath)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("append_") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath)
      .sortBy(_.getName)

  /** A crash between compact's two base renames leaves `base/` missing
    * and `base_old/` present — finish the swap before touching data.
    * (With both present, `base_old` is a completed compact's leftover
    * and is ignored; compact deletes it up front.) */
  private def recoverBaseSwap(): Unit = {
    if (!fs.exists(hPath(basePath)) && fs.exists(hPath(s"$root/base_old")))
      fs.rename(hPath(s"$root/base_old"), hPath(basePath))
  }

  private def mergedOver(logFiles: Seq[org.apache.hadoop.fs.Path],
                         tieBreak: Seq[String]): DataFrame = {
    val base = spark.read.schema(schema).parquet(basePath)
    val all =
      if (logFiles.isEmpty) base
      else base.union(spark.read.schema(schema).parquet(logFiles.map(_.toString): _*))
    ReferenceOps.tsOrderedMerge(tsCol, tieBreak.map(col))(all)
  }

  /** `get` — merge-on-read (O11): base ∪ log, unique by ts (arg-min
    * over `tieBreak` columns), ascending. Deterministic and
    * permutation-invariant, so every "replica" (reader) converges to
    * the same bytes — the property reference test5 checks by diffing
    * replica fetches. */
  def read(tieBreak: Seq[String]): DataFrame = {
    recoverBaseSwap()
    mergedOver(logSegments, tieBreak)
  }

  /** `merge hydfs` — compaction: fold the log into base, truncate log.
    *
    * Safe against concurrent appends and crashes:
    *  - the set of log segments is SNAPSHOTTED first; only those
    *    segments are merged and later deleted, so an append landing
    *    mid-compaction survives in the log instead of being silently
    *    destroyed;
    *  - base is swapped via rename-to-side + rename-in (never a window
    *    with no base on disk after a delete): a crash at any point
    *    leaves either the old base, or `base_old` + the new base ready,
    *    which [[recoverBaseSwap]] completes on the next read/compact;
    *  - a concurrent READ racing the swap (its recoverBaseSwap can
    *    restore base mid-swap) is detected and undone — see the
    *    nesting check in the swap loop.
    *
    * Concurrent COMPACTORS are each crash-safe (unique scratch dirs,
    * snapshot-only segment deletes) but their swaps are not mutually
    * serialized — run one compactor at a time or coordinate externally,
    * the same operational stance as the reference's merge command.
    */
  def compact(tieBreak: Seq[String]): Unit = {
    recoverBaseSwap()
    val snapshot = logSegments
    val merged = mergedOver(snapshot, tieBreak)
    // unique tmp path: two compactors must not share a scratch dir
    // (the reference's exp2 runs merge from several VMs)
    val tmp = s"$root/compact_tmp_${java.util.UUID.randomUUID()}"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val old = s"$root/base_old"
    // every rename RESULT is checked: Hadoop FileSystem.rename reports
    // failure by returning false, and proceeding past a failed swap
    // would delete the only copy of the snapshotted log rows
    def renameOrDie(from: String, to: String): Unit =
      if (!fs.rename(hPath(from), hPath(to)))
        throw new IllegalStateException(
          s"compact: rename $from -> $to failed (concurrent compact?); " +
            "log segments left untouched")
    // Mutable: the nesting-recovery path below re-homes the scratch dir
    var curTmp = tmp
    try {
      fs.delete(hPath(old), true)
      renameOrDie(basePath, old)
      // A concurrent read()'s recoverBaseSwap can land here (it sees
      // base missing + base_old present and restores base). CRUCIAL
      // Hadoop semantics: rename onto an EXISTING directory does not
      // fail — it moves the source INSIDE it and returns true — so a
      // blind rename would "succeed" while leaving the merged data
      // invisible at base/compact_tmp_*/ and then delete the only copy
      // of the snapshotted log rows. If base re-appeared, it is
      // superseded by tmp (tmp was merged from that very base plus the
      // snapshot) — but it is NOT deleted here: a crash between a
      // delete and the scratch rename would leave NO base and NO
      // base_old, breaking the crash invariant above. Instead the
      // restored base is renamed BACK to base_old (the reader consumed
      // base_old to restore it, so that slot is free; if a stale
      // leftover base_old somehow coexists with base, base supersedes
      // it and it is dropped first while base still exists). At every
      // instant a full copy of the pre-compact base rows lives at
      // base/ or base_old/, and the snapshotted log segments are only
      // deleted after the swap verifies — so recoverBaseSwap + the log
      // reconstructs the store from any crash point. The race can fire
      // at most once per compact; the loop bound is safety, not an
      // expected iteration count.
      var attempts = 0
      var swapped = false
      while (!swapped && attempts < 3) {
        attempts += 1
        if (fs.exists(hPath(basePath))) {
          if (fs.exists(hPath(old))) fs.delete(hPath(old), true)
          renameOrDie(basePath, old)
        }
        renameOrDie(curTmp, basePath)
        val nested = new org.apache.hadoop.fs.Path(
          hPath(basePath), hPath(curTmp).getName)
        if (fs.exists(nested)) {
          // restored-base race hit between delete and rename: un-nest
          // the scratch and go again
          val t2 = s"$root/compact_tmp_${java.util.UUID.randomUUID()}"
          renameOrDie(nested.toString, t2)
          curTmp = t2
        } else swapped = true
      }
      if (!swapped) throw new IllegalStateException(
        "compact: base swap kept racing a concurrent reader; " +
          "log segments left untouched")
      fs.delete(hPath(old), true)
      snapshot.foreach(f => fs.delete(f, true))
    } finally {
      // an aborted compact must not orphan its scratch dir (no-op on
      // success: the scratch was renamed away) — but the scratch is
      // only scrubbed while a base (or a base_old that recoverBaseSwap
      // can restore) exists. The rename-aside protocol above should
      // guarantee that; the guard is defense in depth so no code path,
      // foreseen or not, ever deletes the sole surviving copy of the
      // merged rows.
      if (fs.exists(hPath(basePath)) || fs.exists(hPath(old)))
        fs.delete(hPath(curTmp), true)
    }
  }
}
