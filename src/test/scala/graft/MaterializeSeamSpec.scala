package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards; comments are excluded and the scans need no Spark.
  *   - `InternalSnap` is the one place that materializes a frame: a direct
  *     `localCheckpoint(` or `.checkpoint(` anywhere else in the main
  *     sources would bypass its stats cap, its release path and the
  *     checkpoint-dir reliability rule.
  *   - The only environment names the sources read are the five that
  *     `Bench` reads; every other setting is a program argument or a
  *     session conf.
  *   - The only engine session confs are the three COUNT(DISTINCT) rule
  *     modes; their thresholds are constants.
  */
class MaterializeSeamSpec extends AnyFunSuite {

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `src` with block and line comments removed, line structure kept. */
  private def code(src: String): Seq[String] =
    """(?s)/\*.*?\*/""".r.replaceAllIn(src, m =>
      java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
      .linesIterator.map(_.replaceAll("//.*$", "")).toSeq

  test("only InternalSnap.scala checkpoints a frame") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    val hits = for {
      f <- scalaFiles(root) if f.getName != "InternalSnap.scala"
      (line, i) <- code(java.nio.file.Files.readString(f.toPath)).zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("materialize through InternalSnap instead:\n", "\n", ""))
  }

  test("the sources read only Bench's five environment names") {
    val prefix = "SPARK" + "_GRAFT_" // split, so this file does not match itself
    val name = (prefix + "[A-Z_]+").r
    val found = (for {
      root <- Seq("src/main/scala", "src/test/scala")
      f <- scalaFiles(new File(root))
      line <- code(java.nio.file.Files.readString(f.toPath))
      n <- name.findAllIn(line)
    } yield n).toSet
    assert(found == Set("CPUS", "SF_DIR", "MASTER", "EXEC_MEM", "BENCH_OUT").map(prefix + _))
  }

  test("the sources name only the two spark.graft rule-mode keys") {
    val prefix = "spark" + ".graft." // split, so this file does not match itself
    val key = (java.util.regex.Pattern.quote(prefix) + "[A-Za-z][A-Za-z0-9.]*").r
    val found = (for {
      root <- Seq("src/main/scala", "src/test/scala")
      f <- scalaFiles(new File(root))
      line <- code(java.nio.file.Files.readString(f.toPath))
      k <- key.findAllIn(line)
    } yield k).toSet
    assert(found == Set("bitmapDistinct", "multiDistinctSplit").map(prefix + _))
  }
}
