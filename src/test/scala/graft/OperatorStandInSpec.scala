package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** The committed POSIX stand-ins for the reference's compiled RainStorm
  * operators (`src/test/resources/rainstorm_ops/`). Each follows the
  * reference's exec ABI: one batch of lines joined by "\n" as argv[1],
  * the result on stdout. */
object OperatorStandIns {
  val names: Seq[String] = Seq("op1_t1", "op1_t2", "op2_t1", "op2_t2")

  /** Copy stand-in `name` from the test classpath to `dst`, executable. */
  def copyTo(name: String, dst: Path): Unit = {
    val in = getClass.getResourceAsStream(s"/rainstorm_ops/$name")
    require(in != null, s"missing stand-in resource rainstorm_ops/$name")
    try Files.copy(in, dst, StandardCopyOption.REPLACE_EXISTING) finally in.close()
    require(dst.toFile.setExecutable(true), s"cannot mark $dst executable")
  }

  /** One probe of the FIXTURES.md §3 transcript: operator, header
    * text, argv[1], and the exact stdout bytes. */
  final case class Probe(bin: String, header: String, input: String, stdout: String)

  /** Parse the §3 transcript. A probe without an INPUT block replays
    * the transcript's 6-row batch, probe 3.1's input (its header says
    * "same 6-row batch" / "6-row batch"). `  | x` lines are
    * input lines (`  |` alone is an empty line); `  > x` lines are
    * stdout lines, each ending in "\n" except one with `EXIT:` glued to
    * it, which is output with no trailing newline. */
  def transcript(fixtures: String): Seq[Probe] = {
    val Header = """----- (\S+) <- (.*?) -----\s*(\[probe [0-9a-z.]+\])""".r
    val body = fixtures.linesIterator
      .dropWhile(_ != "### Transcript").dropWhile(_ != "```").drop(1)
      .takeWhile(_ != "```").toSeq
    val blocks = body.foldLeft(Vector.empty[Vector[String]]) {
      case (acc, l @ Header(_, _, _)) => acc :+ Vector(l)
      case (acc, l) if acc.nonEmpty   => acc.init :+ (acc.last :+ l)
      case (acc, _)                   => acc
    }
    def input(lines: Seq[String]): Option[String] =
      if (!lines.contains("INPUT:")) None
      else Some(lines.dropWhile(_ != "INPUT:").drop(1).takeWhile(_.startsWith("  |"))
        .map(l => if (l == "  |") "" else l.stripPrefix("  | ")).mkString("\n"))
    val sixRowBatch = input(blocks.head.tail).get
    blocks.map { block =>
      val Header(bin, title, tag) = block.head
      val lines = block.tail
      val stdout = lines.dropWhile(_ != "STDOUT:").drop(1).takeWhile(_.startsWith("  > "))
        .map { l =>
          val out = l.stripPrefix("  > ")
          val glued = out.indexOf("EXIT:")
          if (glued >= 0) out.substring(0, glued) else out + "\n"
        }.mkString
      Probe(bin, s"$title $tag", input(lines).getOrElse(sixRowBatch), stdout)
    }
  }
}

/** Replays every input of the FIXTURES.md §3 probe transcript (probes
  * 3.1–3.16) through the stand-ins and asserts the recorded stdout
  * byte-for-byte — the evidence that RainStormJobSpec's exec-ABI tests
  * exercise the reference's operator behaviour when its binaries are
  * absent. */
class OperatorStandInSpec extends AnyFunSuite {
  import OperatorStandIns._

  private lazy val bins: Map[String, String] = {
    val d = Files.createTempDirectory("rs_standins")
    d.toFile.deleteOnExit()
    names.map { n => copyTo(n, d.resolve(n)); n -> d.resolve(n).toString }.toMap
  }

  private val probes = transcript(Files.readString(Paths.get("FIXTURES.md")))

  test("the transcript parses into every probe 3.1–3.16, on all four operators") {
    assert(probes.size == 22)
    assert(probes.map(_.bin).toSet == names.toSet)
    val tags = probes.map(_.header.replaceAll(""".*\[probe ([0-9]+\.[0-9]+)[a-z]?\]""", "$1")).toSet
    val missing = (1 to 16).map(i => s"3.$i").toSet -- tags
    assert(missing.isEmpty, s"probes missing from the transcript: $missing")
  }

  probes.zipWithIndex.foreach { case (p, i) =>
    test(f"transcript ${i + 1}%02d: ${p.bin} <- ${p.header}") {
      val proc = new ProcessBuilder(bins(p.bin), p.input).start()
      proc.getOutputStream.close()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() == 0)
      assert(out == p.stdout)
    }
  }
}
