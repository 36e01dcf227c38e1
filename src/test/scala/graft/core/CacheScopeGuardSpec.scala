package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** One cache lifecycle: [[CacheScope]] is the only main code that
  * creates or releases an internal cache ([[CacheHygiene]] drains them
  * all between queries), so a long-lived session has one owner for
  * every cache an operator makes.
  */
class CacheScopeGuardSpec extends AnyFunSuite {

  test("no main source outside CacheScope and CacheHygiene persists, checkpoints or unpersists by hand") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root missing")
    val owners = Seq("CacheScope.scala", "CacheHygiene.scala").map(root.resolve("graft/core").resolve(_))
    val call = """\b(persist|localCheckpoint|checkpoint|unpersist)\(|\bcache\(\)""".r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !owners.contains(f)).toSeq.sortBy(_.toString)
    val sites = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if {
          val code = line.trim
          !code.startsWith("*") && !code.startsWith("//") &&
            call.findAllMatchIn(code).exists(m => !code.substring(0, m.start).endsWith("CacheScope."))
        } => s"${root.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }
    assert(sites.isEmpty, s"register caches through CacheScope.persist/checkpoint:\n${sites.mkString("\n")}")
  }
}
