package graft.perfbench

/** Planted-truth output checks. Each returns the list of problems it
  * found (empty = pass), over plain Scala values collected from the
  * engine, so the self-tests can feed them corrupted outputs.
  */
object Checks {

  /** HVAC: every unimodal stage is Low with a threshold inside its
    * planted band (level +/- noise, +/- 1 W of rounding); every bimodal
    * stage is High with no threshold; no other stage appears. The
    * curated cycles of each (device, unimodal stage) number exactly the
    * planted valid cycles: cycles merged across devices, or split, or
    * dropped, change a count.
    */
  def hvac(fleet: Gen.Fleet, verdicts: Map[String, String], thresholds: Map[String, Option[Double]],
      curatedCycles: Map[(Long, String), Long]): Seq[String] = {
    val planted = fleet.stages.map(s => s.name -> s).toMap
    val extra = (verdicts.keySet ++ thresholds.keySet) -- planted.keySet
    val problems = Seq.newBuilder[String]
    if (extra.nonEmpty) problems += s"unplanted stages in output: ${extra.toSeq.sorted.mkString(",")}"
    fleet.stages.foreach { s =>
      (verdicts.get(s.name), thresholds.get(s.name)) match {
        case (None, _) | (_, None) => problems += s"${s.name}: missing from output"
        case (Some(v), Some(t)) if s.bimodal =>
          if (v != "High") problems += s"${s.name}: planted bimodal, verdict $v"
          if (t.nonEmpty) problems += s"${s.name}: planted bimodal, threshold ${t.get}"
        case (Some(v), Some(t)) =>
          val level = s.levels.head
          val lo = level * (1 - Gen.HvacNoise) - 1
          val hi = level * (1 + Gen.HvacNoise) + 1
          if (v != "Low") problems += s"${s.name}: planted unimodal, verdict $v"
          t match {
            case Some(x) if x >= lo && x <= hi =>
            case other => problems += f"${s.name}: threshold $other outside planted [$lo%.1f, $hi%.1f]"
          }
      }
    }
    val unimodal = fleet.stages.filterNot(_.bimodal).map(_.name).toSet
    val plantedCycles = fleet.cycles.filter { case ((_, stage), _) => unimodal(stage) }
    (plantedCycles.keySet ++ curatedCycles.keySet).toSeq.sorted.foreach { key =>
      val (want, got) = (plantedCycles.getOrElse(key, 0), curatedCycles.getOrElse(key, 0L))
      if (got != want) problems += s"device ${key._1} ${key._2}: $got curated cycles, $want planted"
    }
    problems.result()
  }

  /** Curation: every planted cluster (a unique doc is a cluster of
    * one) keeps exactly one survivor, and nothing outside the corpus
    * survives.
    */
  def curation(corpus: Gen.Corpus, survivors: Set[Long]): Seq[String] = {
    val bad = corpus.clusters.flatMap { c =>
      val n = c.ids.count(survivors)
      if (n == 1) None else Some(s"${c.kind} cluster ${c.ids.mkString("[", ",", "]")}: $n survivors")
    }
    val known = corpus.docs.iterator.map(_.id).toSet
    val stray = survivors.filterNot(known)
    bad.take(5) ++ (if (bad.size > 5) Seq(s"... ${bad.size} clusters wrong") else Nil) ++
      (if (stray.nonEmpty) Seq(s"${stray.size} survivors not in the corpus") else Nil)
  }

  /** Ingest, per batch: the admitted rows are exactly the batch's
    * fresh docs, each once; no re-sent doc is admitted again.
    * `admitted` holds every admitted doc id, one entry per row.
    */
  def ingest(batches: Seq[Gen.Batch], admitted: Seq[Long]): Map[Int, Seq[String]] = {
    val counts = admitted.groupBy(identity).view.mapValues(_.size).toMap
    val fresh = batches.flatMap(_.fresh.map(_.id)).toSet
    val perBatch = batches.map { b =>
      val p = Seq.newBuilder[String]
      b.fresh.foreach { d =>
        counts.getOrElse(d.id, 0) match {
          case 1 =>
          case n => p += s"fresh doc ${d.id} admitted $n times"
        }
      }
      b.resent.foreach { d =>
        if (counts.getOrElse(d.id, 0) > 1) p += s"re-sent doc ${d.id} admitted again"
      }
      b.index -> p.result()
    }.toMap
    val stray = counts.keySet -- fresh
    if (stray.isEmpty) perBatch
    else perBatch + (-1 -> Seq(s"${stray.size} admitted ids were never sent fresh"))
  }
}
