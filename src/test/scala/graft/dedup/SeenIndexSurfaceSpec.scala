package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SeenIndex]]'s public surface by reflection. Every gate takes
  * an [[SeenIndex.IndexFamily]] and every read, append and compaction
  * an [[SeenIndex.IndexKeys]], so a change that brings back a
  * per-family or per-delivery entry point (`gateAndUpdateSimhash`,
  * `readVectors`, `compactWindowed`, ...) has to edit the sets below,
  * where a reviewer sees it.
  */
class SeenIndexSurfaceSpec extends AnyFunSuite {

  import scala.reflect.runtime.universe._

  private val decls = typeOf[SeenIndex.type].decls.filter(_.isPublic)

  test("SeenIndex's public methods are the family-generic drivers and the maintenance calls") {
    val methods = decls.collect {
      case m: MethodSymbol if !m.isConstructor => m.name.decodedName.toString
    }.filterNot(_.contains("$default$")).toSet // default-argument getters
    assert(methods == Set(
      // the three drivers, the dry run, and the benchmark's simhash delegate
      "gateAndUpdate", "gateStream", "gateStreamExactlyOnce", "dropSeen",
      "gateStreamSimhashExactlyOnce",
      // index maintenance
      "read", "append", "compact", "stats", "recover",
      // the exactly-once ledger
      "dropLedger", "compactLedger",
      // the signature cache of the vector index
      "ensureSigCache", "listSigCaches", "dropSigCache", "dropSigCaches",
      // Auto's byte floor
      "AutoSignBytes"))
  }

  test("SeenIndex's public types are the keys, the three families, their options and the reports") {
    val types = decls.collect {
      case c: ClassSymbol => c.name.decodedName.toString
      case m: ModuleSymbol if !m.isSynthetic && !m.companion.isClass => m.name.decodedName.toString
    }.toSet
    assert(types == Set(
      "IndexKeys", "Vectors", "IndexFamily", "Simhash", "Hamming", "Embedding",
      "Signatures", "Live", "Cached", "Auto",
      "Window", "IndexStats", "SigCacheInfo"))
  }
}
