package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library ships no dev tools: the only `main`s under
  * `src/main/scala` are the bench and oracle entry points. Dev tools
  * (`Probe`, `tools.CommitScale`, `tools.JobProfile`) live in
  * `src/test/scala` and run with `sbt "Test/runMain <class>"`. */
class LibraryMainsSpec extends AnyFunSuite {
  test("the only mains under src/main/scala are graft.Bench and graft.Verify") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root (no ${root.toAbsolutePath})")
    val Pkg = "(?m)^package ([\\w.]+)".r
    val walk = Files.walk(root)
    val mains =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = Files.readString(p)
          val pkg = Pkg.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
          // each top-level object's body runs to the next `object`
          src.split("(?m)^object ").toSeq.drop(1)
            .filter(_.contains("def main("))
            .map(body => s"$pkg.${body.takeWhile(_.isLetterOrDigit)}")
        }.toSet
      finally walk.close()
    assert(mains == Set("graft.Bench", "graft.Verify"))
  }
}
