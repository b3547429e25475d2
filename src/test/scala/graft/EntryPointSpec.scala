package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are a closed set: the migrator CLI and
  * the dev mains that a gate, the parity check or a committed artifact
  * runs. A one-off probe's numbers belong in PLANS.md and its claim in
  * a spec, not in another main.
  */
class EntryPointSpec extends AnyFunSuite {

  test("source guard: the objects under src/main that define a main are a fixed set") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"source tree not found from ${new File(".").getAbsolutePath}")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val objectDecl = """^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r.unanchored
    val mains = for {
      f <- files(root)
      lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      (line, i) <- lines.zipWithIndex
      if line.contains("def main(")
    } yield lines.take(i).reverse.collectFirst { case objectDecl(name) => name }
      .getOrElse(s"${f.getPath}:${i + 1}")
    val allowed = Set("Main", "Bench", "Verify", "PlanDump", "PlanProbe", "ScaleData")
    assert(mains.toSet === allowed,
      s"mains found: ${mains.sorted.mkString(", ")}; a new main must replace one of " +
        s"${allowed.toSeq.sorted.mkString(", ")}, and a one-off probe's claim goes in a spec")
  }
}
