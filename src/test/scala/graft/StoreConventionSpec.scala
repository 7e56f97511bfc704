package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The micro-batch store protocol has one owner, `streaming/Events` (its
  * scaladoc states the rules). Under src/main/scala, a dynamic partition
  * overwrite is written only by `writeBatch`, a foreachBatch stream is
  * started only by `startBatches`, a temp store directory is created only
  * by `inTempDir` (the temp-store driver's directory), and a store is read
  * only by the one `readStore`, with a declared schema. Comments are not
  * scanned. */
class StoreConventionSpec extends AnyFunSuite {

  /** (what, pattern, the one def in Events.scala that may use it) */
  private val owned = Seq(
    ("dynamic partition overwrite", """partitionOverwriteMode""".r, "writeBatch"),
    ("foreachBatch starter", """\bforeachBatch\b""".r, "startBatches"),
    ("temp directory", """createTempDirectory""".r, "inTempDir"),
    ("store reader", """\bdef\s+readStore\b""".r, "readStore"))

  private val banned = Seq(
    "local writePartition" -> """\bwritePartition\b""".r,
    "storeHasPartitions probe" -> """\bstoreHasPartitions\b""".r,
    "storeExists probe" -> """\bstoreExists\b""".r)

  /** A schema-less parquet read infers its schema with a Spark job. */
  private val inferringRead = """\.read\s*\.\s*parquet\(""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `text` with its comments blanked out, newlines kept. */
  private def code(text: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(text,
      m => scala.util.matching.Regex.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  private lazy val files: Seq[(File, String)] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    val fs = sources(root)
    assert(fs.size > 20)
    fs.map(f => f -> code(new String(Files.readAllBytes(f.toPath), UTF_8)))
  }

  private def line(text: String, at: Int): Int = text.substring(0, at).count(_ == '\n') + 1

  private val defName = """\bdef\s+(\w+)""".r

  test("each store-protocol rule has exactly one site, in its owner") {
    for ((what, re, owner) <- owned) {
      val sites = for {
        (f, text) <- files
        m <- re.findAllMatchIn(text)
        enclosing = defName.findAllMatchIn(text).takeWhile(_.start <= m.start)
          .toSeq.lastOption.map(_.group(1)).getOrElse("")
      } yield (f.getName, enclosing, s"${f.getPath}:${line(text, m.start)}")
      val stray = sites.filterNot(s => s._1 == "Events.scala" && s._2 == owner)
      assert(stray.isEmpty,
        s"$what outside Events.$owner:" + stray.map(_._3).mkString("\n", "\n", ""))
      assert(sites.size === 1, s"$what: expected one site in Events.$owner, found " +
        sites.map(_._3).mkString(", "))
    }
  }

  test("no local store writers or probes, and no store read infers a schema") {
    val found = for {
      (f, text) <- files
      (what, re) <- banned ++ (if (f.getName == "Events.scala")
        Seq("schema-inferring parquet read" -> inferringRead) else Nil)
      m <- re.findAllMatchIn(text)
    } yield s"${f.getPath}:${line(text, m.start)}: $what"
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
