package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `CacheTracker` is the only engine code that materializes a frame, and
  * graft's planner extensions are installed in one place. No source file
  * under src/main/scala may persist, cache or checkpoint a frame itself,
  * sweep the context's persistent RDDs, or register a top-k / range-join
  * rule outside `Graft.scala` and `plans/`. The harness mains (Bench,
  * Verify, ExplainExec, bench/) persist their own inputs and are not
  * scanned. */
class MaterializeConventionSpec extends AnyFunSuite {

  private val banned = Seq(
    ".persist(" -> """\.persist\(""".r,
    ".cache()" -> """\.cache\(\)""".r,
    ".localCheckpoint(" -> """\.localCheckpoint\(""".r,
    ".checkpoint(" -> """\.checkpoint\(""".r,
    "getPersistentRDDs" -> """getPersistentRDDs""".r,
    "CacheTracker.track" -> """CacheTracker\s*\.\s*track\b""".r,
    "releaseAll" -> """releaseAll""".r)

  private val registration =
    """\b(TopK|TopKRewrite|RangeJoinRewrite)\s*\.\s*register\(""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def hits(files: Seq[File], rules: Seq[(String, scala.util.matching.Regex)]) =
    for {
      f <- files
      text = new String(Files.readAllBytes(f.toPath), UTF_8)
      (what, re) <- rules
      m <- re.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}: $what"

  private lazy val root = {
    val r = new File("src/main/scala")
    assert(r.isDirectory, s"run from the project root (no ${r.getAbsolutePath})")
    r
  }

  private def harness(f: File): Boolean =
    Set("Bench.scala", "Verify.scala", "ExplainExec.scala", "CacheTracker.scala")(f.getName) ||
      f.getParentFile.getName == "bench"

  test("src/main/scala materializes frames only through CacheTracker") {
    val files = sources(root).filterNot(harness)
    assert(files.size > 20)
    val found = hits(files, banned)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("planner extensions are registered only by Graft.install and plans/") {
    val files = sources(root)
      .filterNot(f => f.getName == "Graft.scala" || f.getParentFile.getName == "plans")
    assert(files.size > 20)
    val found = hits(files, Seq("planner registration" -> registration))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
