package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[StreamingOps]]' public surface by reflection. A stateless
  * per-document operator streams through [[StreamingOps.perBatch]]
  * over its batch definition, so a change that brings back a
  * hand-written streaming twin (`dropSeenHammingStream`,
  * `decontaminationStream`, `bm25Stream`, ...) has to edit the sets
  * below, so the addition shows in its diff.
  */
class StreamingOpsSurfaceSpec extends AnyFunSuite {

  import scala.reflect.runtime.universe._

  private val decls = typeOf[StreamingOps.type].decls.filter(_.isPublic)

  test("StreamingOps' public methods are the lift and the behaviours that hold state") {
    val methods = decls.collect {
      case m: MethodSymbol if !m.isConstructor => m.name.decodedName.toString
    }.filterNot(_.contains("$default$")).toSet // default-argument getters
    val defs = Set(
      // the per-micro-batch lift over any stateless batch operator
      "perBatch",
      // the events source and the windowed aggregates
      "readEventsStream", "hourlyStageAgg", "slidingMean", "deviceSessions",
      // seen-sets and near-dup miners with cross-batch state
      "exactDedupStream", "minhashCandidatesStream", "minhashCandidatesStreamTtl",
      "hammingPairsStream", "hammingPairsStreamTtl", "phashDupPairsStreamTtl",
      "shingleIndex", "verifiedNearDupStream", "minhashVerifiedStream",
      // carried counters: keyed state and the foreachBatch escapes
      "packBinsStream", "packBinsForeachBatch",
      "lengthBatchingStream", "lengthBatchingForeachBatch",
      "domainCapStream", "cycleLabelStream",
      // the release gate chain and its literal gram snapshot
      "releaseGateStream", "benchGramSet",
      // span scoring counted from per-document occurrences
      "repeatedSpansStream")
    assert(defs.size <= 23)
    assert(methods == defs + "eventsSchema")
  }

  test("StreamingOps' public types are the typed rows of the stateful operators") {
    val types = decls.collect {
      case c: ClassSymbol => c.name.decodedName.toString
      case m: ModuleSymbol if !m.isSynthetic && !m.companion.isClass => m.name.decodedName.toString
    }.toSet
    assert(types == Set(
      "BandedDoc", "CandPair", "BucketState", "BandedDocT", "BucketStateT",
      "BandedSig", "SigBucket", "HamPair", "BandedSigT", "SigBucketT",
      "MediaTsRow", "PHashTsRow",
      "PackDocIn", "PackDocOut", "PackState", "BatchIn", "BatchOut",
      "SpanHit", "SpanStatsOut", "CapIn", "CapOut",
      "EventIn", "CycleOut", "CycleState"))
  }
}
