package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: seeded inputs are reproducible,
  * every output check passes on the planted truth and fails on a
  * corrupted output, and BENCHMARK.json names what the harness prints.
  */
class HarnessSpec extends AnyFunSuite {

  private def ingestDigests(seed: Long): Seq[String] = {
    val g = new Gen.IngestStream(seed, 50)
    (0 until 3).map(_ => g.next().digest)
  }

  test("the same seed gives identical input digests, another seed different ones") {
    assert(Gen.fleet(7, 1, 2).digest == Gen.fleet(7, 1, 2).digest)
    assert(Gen.fleet(7, 1, 2).digest != Gen.fleet(8, 1, 2).digest)
    assert(Gen.corpus(7, 500).digest == Gen.corpus(7, 500).digest)
    assert(Gen.corpus(7, 500).digest != Gen.corpus(8, 500).digest)
    assert(ingestDigests(7) == ingestDigests(7))
    assert(ingestDigests(7).zip(ingestDigests(8)).forall { case (a, b) => a != b })
  }

  test("generators plant what they promise") {
    val f = Gen.fleet(3, 2, 2)
    assert(f.rows.length == 2 * 2 * 24 * 60)
    assert(f.stages.count(_.bimodal) == 2)
    assert(f.cycles.keySet.map(_._1) == Set(0L, 1L))
    assert(f.cycles.keySet.map(_._2) == Gen.HvacStageNames.toSet)
    val c = Gen.corpus(3, 2000)
    assert(c.docs.length == 2000 && c.docs.map(_.id).distinct.length == 2000)
    assert(c.clusters.exists(_.kind == "exact") && c.clusters.exists(_.kind == "near"))
    assert(c.clusters.flatMap(_.ids).sorted == c.docs.map(_.id).toSeq)
    assert(c.docs.map(_.lang).distinct.length == Gen.Langs.size)
    val g = new Gen.IngestStream(3, 100)
    val b0 = g.next(); val b1 = g.next()
    assert(b0.resent.isEmpty && b1.resent.size == 30)
    assert(b1.resent.forall(d => b0.fresh.contains(d)))
  }

  private val fleet = Gen.fleet(5, 2, 2)
  private def plantedHvac: (Map[String, String], Map[String, Option[Double]], Map[(Long, String), Long]) = (
    fleet.stages.map(s => s.name -> (if (s.bimodal) "High" else "Low")).toMap,
    fleet.stages.map(s => s.name -> (if (s.bimodal) None else Some(math.round(s.levels.head).toDouble))).toMap,
    fleet.cycles.collect { case (k @ (_, stage), n) if !fleet.stages.find(_.name == stage).get.bimodal => k -> n.toLong })

  test("hvac check: passes on the planted truth, fails on each corruption") {
    val (v, t, c) = plantedHvac
    assert(Checks.hvac(fleet, v, t, c).isEmpty)
    val uni = fleet.stages.find(!_.bimodal).get
    val bi = fleet.stages.find(_.bimodal).get
    assert(Checks.hvac(fleet, v, t.updated(uni.name, Some(uni.levels.head * 1.1)), c).nonEmpty)
    assert(Checks.hvac(fleet, v, t.updated(uni.name, None), c).nonEmpty)
    assert(Checks.hvac(fleet, v.updated(bi.name, "Low"), t, c).nonEmpty)
    assert(Checks.hvac(fleet, v, t.updated(bi.name, Some(bi.levels.head)), c).nonEmpty)
    assert(Checks.hvac(fleet, v - uni.name, t - uni.name, c).nonEmpty)
    assert(Checks.hvac(fleet, v.updated("off", "Low"), t, c).nonEmpty)
    // cycles merged across devices: device 1's cycles counted under device 0
    val (d0, d1) = ((0L, uni.name), (1L, uni.name))
    assert(Checks.hvac(fleet, v, t, (c - d1).updated(d0, c(d0) + c(d1))).nonEmpty)
    assert(Checks.hvac(fleet, v, t, c.updated(d0, c(d0) - 1)).nonEmpty)
    assert(Checks.hvac(fleet, v, t, c.updated((0L, bi.name), 3L)).nonEmpty)
  }

  test("curation check: passes with one survivor per cluster, fails on each corruption") {
    val c = Gen.corpus(5, 1000)
    val truth = c.clusters.map(_.ids.min).toSet
    assert(Checks.curation(c, truth).isEmpty)
    val dup = c.clusters.find(_.kind == "near").get
    assert(Checks.curation(c, truth - dup.ids.min).nonEmpty)
    assert(Checks.curation(c, truth ++ dup.ids).nonEmpty)
    val exact = c.clusters.find(_.kind == "exact").get
    assert(Checks.curation(c, truth ++ exact.ids).nonEmpty)
    assert(Checks.curation(c, truth + 10000000L).nonEmpty)
  }

  test("ingest check: admitted = the fresh docs exactly once, fails on each corruption") {
    val g = new Gen.IngestStream(5, 40)
    val batches = (0 until 4).map(_ => g.next())
    val fresh = batches.flatMap(_.fresh.map(_.id))
    assert(Checks.ingest(batches, fresh).values.forall(_.isEmpty))
    val b2 = batches(2)
    val missing = Checks.ingest(batches, fresh.filterNot(_ == b2.fresh.head.id))
    assert(missing(2).nonEmpty && missing(1).isEmpty)
    assert(Checks.ingest(batches, fresh :+ b2.resent.head.id)(2).nonEmpty)
    assert(Checks.ingest(batches, fresh :+ b2.fresh.head.id)(2).nonEmpty)
    assert(Checks.ingest(batches, fresh :+ 999999L).get(-1).exists(_.nonEmpty))
  }

  test("BENCHMARK.json names the workloads and metrics the harness prints") {
    val f = Seq(new File("../BENCHMARK.json"), new File("BENCHMARK.json")).find(_.exists)
    assume(f.isDefined, "BENCHMARK.json not found")
    val root = new ObjectMapper().readTree(f.get)
    def pairs(key: String) = root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workloads.names)
    assert(pairs("end_to_end") == Main.endToEnd)
    assert(pairs("per_layer") == Main.perLayer)
  }
}
