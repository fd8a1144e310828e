package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.RainStormJob

/** End-to-end pipeline tests mirroring the reference's own scenarios:
  * t1 = filter_contains → project (op1_t1 → op2_t1), t2 = field-eq →
  * count (op1_t2 → op2_t2), over a Traffic_Signs-shaped file
  * (FIXTURES §2), in batch and streaming form, including a
  * kill-and-restart from checkpoint (test_MP4 analogue). */
class RainStormJobSpec extends AnyFunSuite with SparkSuite {

  private val rows = Seq(
    "-88.2,40.1,1001,Stop,30x30,None,Punched Telespar,2005,Warning,none",
    "-88.3,40.2,1002,Yield,36x36,None,Unpunched Telespar,2006,Regulatory,none",
    "-88.4,40.3,1003,Speed,24x24,None,Square Post,2007,Warning,Punched note here",
    "-88.5,40.4,1004,Stop2,30x30,None,Punched Telespar,2008,Other,none",
    "-88.6,40.5,1005,Warn,12x18,None,Punched TelesparX,2009,Warning,none",
    "-88.7,40.6,1006,Warn2,12x18,None,xPunched Telespar,2010,Stop,none")

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def readLines(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".txt") ||
        p.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq

  test("t1 batch: filter_contains -> project") {
    val src = tmpDir("rs_src")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_dest").toString + "/out"
    RainStormJob.runBatch(spark, "filter_contains:Punched", "project:2,3",
      src.toString + "/signs.txt", dest, numTasks = 3)
    assert(readLines(dest).sorted ==
      Seq("1001,Stop", "1003,Speed", "1004,Stop2", "1005,Warn", "1006,Warn2"))
  }

  test("t2 batch: filter_field_eq -> count") {
    val src = tmpDir("rs_src")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_dest").toString + "/out"
    RainStormJob.runBatch(spark, "filter_field_eq:6:Punched Telespar", "count:8",
      src.toString + "/signs.txt", dest, numTasks = 3)
    assert(readLines(dest).sorted == Seq("Other,1", "Warning,1"))
  }

  test("t1 streaming: transform path with exactly-once file sink") {
    val src = tmpDir("rs_ssrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_sdest").toString + "/out"
    RainStormJob.runStreamingToCompletion(spark,
      "filter_contains:Punched", "project:2,3", src.toString, dest)
    assert(readLines(dest).sorted ==
      Seq("1001,Stop", "1003,Speed", "1004,Stop2", "1005,Warn", "1006,Warn2"))
  }

  test("t2 streaming: aggregate snapshots converge to batch answer") {
    val src = tmpDir("rs_ssrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_sdest").toString + "/out"
    RainStormJob.runStreamingToCompletion(spark,
      "identity", "count:8", src.toString, dest)
    assert(readLines(dest).sorted ==
      Seq("Other,1", "Regulatory,1", "Stop,1", "Warning,3"))
  }

  /** Stage the op binaries the way the reference's workers do (pull
    * from DFS into exec/, chmod 0777 — rainstorm.go:364-394): copy into
    * a temp dir and mark executable. The reference's compiled binaries
    * are used where its checkout is present; otherwise the committed
    * POSIX stand-ins, which OperatorStandInSpec pins byte-for-byte to
    * the binaries' recorded probe transcript (FIXTURES.md §3). */
  private lazy val refBin: Map[String, String] = {
    val d = tmpDir("rs_ops")
    OperatorStandIns.names.map { name =>
      val dst = d.resolve(name)
      val real = java.nio.file.Paths.get(s"/root/reference/$name")
      if (Files.exists(real)) Files.copy(real, dst) else OperatorStandIns.copyTo(name, dst)
      dst.toFile.setExecutable(true)
      name -> dst.toString
    }.toMap
  }

  test("exec ABI parity: real op1_t1 binary == native filter_contains") {
    val src = tmpDir("rs_esrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val destExec = tmpDir("rs_edest").toString + "/out"
    val destNative = tmpDir("rs_edest").toString + "/out"
    RainStormJob.runBatch(spark, s"exec:${refBin("op1_t1")}", "identity",
      src.toString + "/signs.txt", destExec, numTasks = 3)
    RainStormJob.runBatch(spark, "filter_contains:Punched", "identity",
      src.toString + "/signs.txt", destNative, numTasks = 3)
    assert(readLines(destExec).sorted == readLines(destNative).sorted)
    assert(readLines(destExec).nonEmpty)
  }

  test("exec ABI parity: t1 pipeline through real binaries == native t1") {
    val src = tmpDir("rs_esrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_edest").toString + "/out"
    RainStormJob.runBatch(spark,
      s"exec:${refBin("op1_t1")}", s"exec_transform:${refBin("op2_t1")}",
      src.toString + "/signs.txt", dest, numTasks = 3)
    assert(readLines(dest).sorted ==
      Seq("1001,Stop", "1003,Speed", "1004,Stop2", "1005,Warn", "1006,Warn2"))
  }

  test("exec ABI parity: t2 pipeline through real binaries == native t2") {
    val src = tmpDir("rs_esrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_edest").toString + "/out"
    RainStormJob.runBatch(spark,
      s"exec:${refBin("op1_t2")}", s"exec_agg:${refBin("op2_t2")}",
      src.toString + "/signs.txt", dest, numTasks = 3)
    assert(readLines(dest).sorted == Seq("Other,1", "Warning,1"))
  }

  test("exec op runs under Structured Streaming (closure-serialized to tasks)") {
    val src = tmpDir("rs_xsrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_xdest").toString + "/out"
    RainStormJob.runStreamingToCompletion(spark,
      s"exec:${refBin("op1_t1")}", "project:2,3", src.toString, dest)
    assert(readLines(dest).sorted ==
      Seq("1001,Stop", "1003,Speed", "1004,Stop2", "1005,Warn", "1006,Warn2"))
  }

  test("property: byteBoundedBatches is a partition of its input within bounds") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.operators.PipeOps
    val gen = for {
      n <- Gen.choose(0, 300)
      bs <- Gen.choose(1, 10)
      lines <- Gen.listOfN(n, Gen.choose(0, 60000).map("y" * _))
    } yield (lines, bs)
    val params = SCTest.Parameters.default.withMinSuccessfulTests(60)
      .withInitialSeed(org.scalacheck.rng.Seed(7L))
    val res = SCTest.check(params, Prop.forAll(gen) { case (lines, bs) =>
      val batches = PipeOps.byteBoundedBatches(lines.iterator, bs).toSeq
      val order = batches.flatten == lines
      val counts = batches.forall(b => b.nonEmpty && b.size <= bs)
      // byte bound holds for every batch except a single oversized line
      val bytes = batches.forall(b =>
        b.size == 1 || b.map(_.length).sum + b.size - 1 <= PipeOps.maxArgBytes)
      order && counts && bytes
    })
    assert(res.passed, res.status.toString)
  }

  test("exec batching splits on the argv byte budget, preserving line order") {
    import graft.operators.PipeOps
    val big = "x" * 40000
    val lines = (1 to 7).map(i => s"$big$i")
    val batches = PipeOps.byteBoundedBatches(lines.iterator, batchSize = 5).toSeq
    assert(batches.flatten == lines)                      // nothing lost or reordered
    batches.foreach { b =>
      assert(b.nonEmpty)
      assert(b.map(_.length).sum + b.size - 1 <= PipeOps.maxArgBytes)
    }
    assert(batches.forall(_.size <= 5))
    // small lines: the 5-line reference batch size still governs
    val small = (1 to 12).map(_.toString)
    assert(PipeOps.byteBoundedBatches(small.iterator, 5).toSeq.map(_.size) == Seq(5, 5, 2))
  }

  test("exec op failure (non-zero exit) fails the job with the command named") {
    val src = tmpDir("rs_fsrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_fdest").toString + "/out"
    val e = intercept[Exception] {
      RainStormJob.runBatch(spark, "exec:/bin/false", "identity",
        src.toString + "/signs.txt", dest, numTasks = 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("/bin/false")), messages(e).mkString(" | "))
  }

  test("aggregate specs are rejected in the op1 slot at parse time") {
    val src = tmpDir("rs_asrc")
    Files.write(src.resolve("signs.txt"), rows.mkString("\n").getBytes)
    val dest = tmpDir("rs_adest").toString + "/out"
    val e = intercept[IllegalArgumentException] {
      RainStormJob.runBatch(spark, "count:8", "project:2,3",
        src.toString + "/signs.txt", dest, numTasks = 3)
    }
    assert(e.getMessage.contains("op2"))
  }

  test("streaming restart from checkpoint does not double-process (O9)") {
    val src = tmpDir("rs_rsrc")
    val dest = tmpDir("rs_rdest").toString + "/out"
    val ckpt = tmpDir("rs_rckpt").toString
    Files.write(src.resolve("a.txt"), rows.take(3).mkString("\n").getBytes)
    val q1 = RainStormJob.runStreaming(spark,
      "filter_contains:Punched", "project:2,3", src.toString, dest, ckpt)
    q1.awaitTermination()
    // second wave of data + restart from the same checkpoint
    Files.write(src.resolve("b.txt"), rows.drop(3).mkString("\n").getBytes)
    val q2 = RainStormJob.runStreaming(spark,
      "filter_contains:Punched", "project:2,3", src.toString, dest, ckpt)
    q2.awaitTermination()
    // a.txt rows must appear exactly once despite the restart
    assert(readLines(dest).sorted ==
      Seq("1001,Stop", "1003,Speed", "1004,Stop2", "1005,Warn", "1006,Warn2"))
  }

  test("continuous-trigger run with mid-run kill/restart (test_MP4 analogue)") {
    // The reference's test_MP4 launches RainStorm and kills worker VMs
    // 1.5 s into a running job (user/tests.go:152-191); the Spark
    // analogue is a ProcessingTime-triggered query — a live tail, not
    // AvailableNow's drain-and-stop — stopped after the first wave
    // commits and restarted on the same checkpoint.
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("rs_csrc")
    val dest = tmpDir("rs_cdest").toString + "/out"
    val ckpt = tmpDir("rs_cckpt").toString
    Files.write(src.resolve("a.txt"), rows.take(3).mkString("\n").getBytes)
    val q1 = RainStormJob.runStreaming(spark,
      "filter_contains:Punched", "project:2,3", src.toString, dest, ckpt,
      Trigger.ProcessingTime("50 milliseconds"))
    q1.processAllAvailable()   // first wave committed...
    q1.stop()                  // ...then the job is killed mid-run
    assert(readLines(dest).sorted == Seq("1001,Stop", "1003,Speed"))
    // more data lands while the job is down; restart must pick it up
    // without re-emitting the first wave
    Files.write(src.resolve("b.txt"), rows.drop(3).mkString("\n").getBytes)
    val q2 = RainStormJob.runStreaming(spark,
      "filter_contains:Punched", "project:2,3", src.toString, dest, ckpt,
      Trigger.ProcessingTime("50 milliseconds"))
    q2.processAllAvailable()
    q2.stop()
    assert(readLines(dest).sorted ==
      Seq("1001,Stop", "1003,Speed", "1004,Stop2", "1005,Warn", "1006,Warn2"))
  }
}
