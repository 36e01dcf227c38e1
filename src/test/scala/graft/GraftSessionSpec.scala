package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session definition: every main builds through
  * [[GraftSession.builder]], so no entry point can drift from the
  * configuration library users get.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("no main source other than GraftSession builds a SparkSession by hand") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root missing")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val handBuilt = files.filterNot(_.getFileName.toString == "GraftSession.scala").filter { f =>
      java.nio.file.Files.readAllLines(f).asScala.exists { line =>
        val code = line.trim
        !code.startsWith("*") && !code.startsWith("//") && code.contains("SparkSession.builder()")
      }
    }
    assert(handBuilt.isEmpty, s"build sessions through GraftSession.builder: ${handBuilt.mkString(", ")}")
  }
}
