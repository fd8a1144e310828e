package graft

/** Test-scope instrument (never shipped in the library): times the
  * d13 containment-pair BUILD across the three measured decades — the round-12 probe that attributed the
  * third-decade superlinearity to hash-ordered prefixes (50M
  * candidates for 25.6k verified pairs; the array-carrying verify
  * join stops broadcasting at sf10eq) and now re-measures the
  * rarest-first rewrite.
  *
  * Run: Test/runMain graft.D13ScaleProbe [cores]
  */
object D13ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(4)
    val spark = graft.core.GraftSession.local(cores, "d13probe")
    def arm(dir: String): Unit = {
      val abs = new java.io.File(dir).getAbsolutePath
      spark.conf.set("spark.graft.artifacts.dir",
        java.nio.file.Files.createTempDirectory("probe_art").toString)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      val df = graft.queries.DedupQueries.containmentPairsPlan(spark, abs)
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // post-AQE join strategies — the round-14 attribution axis: a
      // stats-less checkpoint leaf flips broadcasts to sort-merge
      val plan = df.queryExecution.executedPlan.toString
      val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|NestedLoop)".r
        .findAllIn(plan).toSeq.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }
        .toSeq.sorted.mkString(",")
      println(f"PROBE dir=$dir pairs=$n%d secs=$secs%.2f joins=$joins")
    }
    arm("/root/testdata/sf0.01") // warmup
    arm("/root/testdata/sf0.1")
    arm("target/sf1eq")
    arm("target/sf10eq")
    spark.stop()
  }
}
