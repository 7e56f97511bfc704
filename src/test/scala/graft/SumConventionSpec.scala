package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every floating-point sum in the engine goes through `Folds.exactSum`:
  * no source file under src/main/scala may fold a sorted `collect_list`,
  * key a two-level sub-bucket fold, or call the removed helpers. The
  * DuckDB twins in Oracles.scala keep the sorted fold as the reference
  * and are not scanned. */
class SumConventionSpec extends AnyFunSuite {

  private val banned = Seq(
    "sorted collect_list fold" -> """aggregate\(\s*(sort_array|array_sort)\(\s*collect_list""".r,
    "Folds.subBucket" -> """Folds\s*\.\s*subBucket""".r,
    "Folds.sortedSum" -> """sortedSum""".r,
    "Folds.DefaultBuckets" -> """DefaultBuckets""".r,
    "% 1024 sub-bucket key" -> """%\s*1024""".r)

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("src/main/scala has no sorted collect_list fold, sub-bucket fold or sub-bucket key") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    val files = sources(root).filterNot(_.getName == "Oracles.scala")
    assert(files.size > 20)
    val hits = for {
      f <- files
      text = new String(Files.readAllBytes(f.toPath), UTF_8)
      (what, re) <- banned
      m <- re.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}: $what"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
