package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** One entry point per operator: internal caches live as long as the
  * enclosing [[CacheScope]], so no operator object offers a
  * `*Releasable` twin or hands back a release thunk, alone or in a
  * tuple.
  */
class CacheSurfaceSpec extends AnyFunSuite {

  import scala.reflect.runtime.universe._

  private val objects = Seq(
    typeOf[graft.dedup.Dedup.type],
    typeOf[graft.dedup.Containment.type],
    typeOf[graft.similarity.Similarity.type],
    typeOf[graft.multimodal.PerceptualHash.type],
    typeOf[graft.similarity.SemDedup.type],
    typeOf[graft.dedup.SeenIndex.type])

  private def publicMethods(t: Type): Seq[MethodSymbol] = t.decls.toSeq.collect {
    case m: MethodSymbol if m.isPublic && !m.isConstructor && !m.name.decodedName.toString.contains("$default$") => m
  }

  /** A thunk anywhere in the type: `() => Unit`, `(DataFrame, () => Unit)`, ... */
  private def carriesThunk(t: Type): Boolean =
    t <:< typeOf[() => Any] || t.typeArgs.exists(carriesThunk)

  test("no public operator method is a *Releasable twin") {
    val twins = objects.flatMap(t => publicMethods(t).map(m => s"${t.typeSymbol.name}.${m.name}"))
      .filter(_.endsWith("Releasable"))
    assert(twins.isEmpty, twins.mkString(", "))
  }

  test("no public operator method returns a release handle") {
    val handles = objects.flatMap(t => publicMethods(t).collect {
      case m if carriesThunk(m.returnType) => s"${t.typeSymbol.name}.${m.name}: ${m.returnType}"
    })
    assert(handles.isEmpty, handles.mkString(", "))
  }
}
