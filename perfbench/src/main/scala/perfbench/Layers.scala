package perfbench

import scala.collection.mutable

/** Turns a tracer's spans, jobs, stages and planning phases into
  * per-layer numbers.
  *
  * A span's figures are inclusive: a job counts for the span whose job
  * group it ran under and for every enclosing span. Inside an engine
  * entry point the harness calls unmodified (`IngestPositions.run`,
  * `AverageSpeeds.run`) there are no spans; there each stage that ran
  * for a job with an engine layer on its call stack (`callSiteLayer`) is
  * attributed to one layer from what the listener sees: the plan
  * operators the stage runs (`planLayer`), else that call-stack layer. */
object Layers {

  /** Spans whose time is DataFrame construction: the driver-side call
    * that builds a plan (for `SparkEntry.queries`, including the eager
    * checkpoints some queries materialize while being built). */
  val constructSpans: Set[String] = Set("SparkEntry.queries")

  /** Engine frames that name a layer, as (frame prefix, layer). A job is
    * attributed to the first of them, innermost first, on its call
    * stack. */
  val callSiteLayers: Seq[(String, String)] = Seq(
    "graft.sources.IO$.writePartitionedParquet" -> "IO.writePartitionedParquet",
    "graft.sources.IO$.writeCsv" -> "IO.writeCsv",
    "graft.olhovivo.IngestPositions$.readRawAdaptive" -> "IngestPositions.readRawAdaptive",
    "graft.olhovivo.IngestPositions$.run" -> "IngestPositions.run",
    "graft.olhovivo.AverageSpeeds$.run" -> "AverageSpeeds.run")

  def callSiteLayer(details: String): Option[String] =
    details.linesIterator.map(_.trim).flatMap { frame =>
      callSiteLayers.collectFirst { case (prefix, layer) if frame.contains(prefix + "(") => layer }
    }.nextOption()

  /** A stage that runs a window operator runs `SpeedPipeline.hops`'
    * per-vehicle sort and lag, the only window of EP2 and EP3, with the
    * cleaning filters and the cache build fused into it. A stage that
    * reads a cached relation lists the window among the cached
    * relation's lineage but does not run it. */
  def planLayer(scopes: Seq[String]): Option[String] =
    if (scopes.contains("Window") && !scopes.contains("InMemoryTableScan"))
      Some("SpeedPipeline.hops")
    else None

  final class Acc {
    var wallS, planS, constructS, gapS, taskS, gcS = 0.0
    var taskMaxS = 0.0
    var jobs, tasks = 0L
    var shuffleB, spillB = 0L
    def add(o: Acc): Unit = {
      wallS += o.wallS; planS += o.planS; constructS += o.constructS; gapS += o.gapS
      taskS += o.taskS; gcS += o.gcS; taskMaxS = math.max(taskMaxS, o.taskMaxS)
      jobs += o.jobs; tasks += o.tasks; shuffleB += o.shuffleB; spillB += o.spillB
    }
    def addStage(s: StageStats): Unit = {
      tasks += s.tasks; taskS += s.taskNs / 1e9; gcS += s.gcMs / 1e3
      taskMaxS = math.max(taskMaxS, s.taskMaxMs / 1e3)
      shuffleB += s.shuffleBytes; spillB += s.spillBytes
    }
    def json(div: Double): String = {
      def r(x: Double) = x / div
      s"""{"wall_s":${r(wallS)},"plan_s":${r(planS)},"construct_s":${r(constructS)},""" +
        s""""driver_gap_s":${r(gapS)},"jobs":${r(jobs.toDouble)},"tasks":${r(tasks.toDouble)},""" +
        s""""task_s":${r(taskS)},"task_max_s":$taskMaxS,"shuffle_mb":${r(shuffleB / 1048576.0)},""" +
        s""""spill_mb":${r(spillB / 1048576.0)},"gc_s":${r(gcS)}}"""
    }
  }

  /** Inclusive figures of every span, keyed by span id. */
  private def perSpan(t: Tracer): Map[Int, Acc] = {
    val byId = t.spans.map(s => s.id -> s).toMap
    val accs = t.spans.map(s => s.id -> new Acc).toMap
    def ancestors(id: Int): List[Int] =
      byId.get(id).map(s => s.id :: ancestors(s.parent)).getOrElse(Nil)
    val stagesOf = t.stageStats.groupBy(_.job)
    val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    t.jobStats.foreach { j =>
      ancestors(j.span).foreach { id =>
        val a = accs(id)
        a.jobs += 1
        stagesOf.getOrElse(j.id, Nil).foreach(a.addStage)
        jobIntervals.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += ((j.submitMs, j.endMs))
      }
    }
    val phases = t.phases.toArray(Array.empty[(Long, Long)])
    t.spans.foreach { s =>
      val a = accs(s.id)
      a.wallS = s.seconds
      a.planS = phases.collect {
        case (start, dur) if start >= s.startMs && start <= s.endMs => dur / 1e3
      }.sum
      val busyMs = union(jobIntervals.getOrElse(s.id, Nil).map { case (b, e) =>
        (math.max(b, s.startMs), math.min(e, s.endMs)) })
      a.gapS = math.max(0.0, s.seconds - busyMs / 1e3)
    }
    // construction time inside each span: the construct spans it holds
    t.spans.filter(s => constructSpans(s.name)).foreach { s =>
      ancestors(s.id).foreach(id => accs(id).constructS += s.seconds)
    }
    accs
  }

  /** Figures of the layers seen by the listener: each stage that ran
    * counts for one layer; `wall_s` is the time any of its stages ran. */
  private def perAttributedLayer(t: Tracer): Map[String, Acc] = {
    val jobs = t.jobStats.map(j => j.id -> j).toMap
    t.stageStats.filter(_.tasks > 0).toSeq
      .flatMap(s => jobs.get(s.job).flatMap(_.callLayer).map(l => planLayer(s.scopes).getOrElse(l) -> s))
      .groupBy(_._1).map { case (layer, ss) =>
        val a = new Acc
        ss.foreach { case (_, s) => a.addStage(s) }
        a.jobs = ss.map(_._2.job).distinct.size
        a.wallS = union(ss.map { case (_, s) => (s.submitMs, s.endMs) }) / 1e3
        layer -> a
      }
  }

  private def union(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.filter { case (b, e) => e > b }.toSeq.sortBy(_._1).foreach { case (b, e) =>
      if (b >= end) { total += e - b; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** The per-layer table of a traced run: one row per span name, per
    * query layer tag and per listener-attributed layer, as means per
    * traced pass, plus the per-pass figures of the whole run and the
    * adaptive decisions seen. */
  def table(t: Tracer, passes: Seq[Main.Pass]): String = {
    val accs = perSpan(t)
    val n = passes.size.toDouble
    val tags = passes.flatMap(_.ops.map(o => o.name -> o.layer)).toMap
    val rows = mutable.LinkedHashMap.empty[String, Acc]
    t.spans.filter(_.name != "pass").foreach { s =>
      rows.getOrElseUpdate(s.name, new Acc).add(accs(s.id))
      // a query also counts for its operator tag and its query family
      tags.get(s.name).toSeq.flatMap(tag => Seq(tag, Workloads.family(s.name)))
        .distinct.filter(t => t != s.name && t != "unknown")
        .foreach(tag => rows.getOrElseUpdate(tag, new Acc).add(accs(s.id)))
    }
    perAttributedLayer(t).toSeq.sortBy(_._1).foreach { case (layer, a) =>
      rows.getOrElseUpdate(layer, new Acc).add(a)
    }
    val perPass = t.spans.filter(_.name == "pass").map(s => accs(s.id))
    val rowJson = rows.map { case (k, a) => s"${Json.str(k)}:${a.json(n)}" }.mkString("{", ",", "}")
    val passJson = perPass.map(_.json(1.0)).mkString("[", ",", "]")
    val decisions = t.decisions.distinct
      .map { case (seam, c) => s"[${Json.str(seam)},${Json.str(c)}]" }.mkString("[", ",", "]")
    s"""{"rows":$rowJson,"passes":$passJson,"decisions":$decisions}"""
  }

  /** Every span, job and stage, for the trace file. */
  def spansJson(t: Tracer): String = {
    val spans = t.spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${s.run},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
    }
    val jobs = t.jobStats.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${j.id},"span":${j.span},"call_layer":${Json.str(j.callLayer.getOrElse(""))},""" +
        s""""submit_ms":${j.submitMs},"end_ms":${j.endMs}}"""
    }
    val stages = t.stageStats.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"job":${s.job},"scopes":${Json.strs(s.scopes)},"tasks":${s.tasks},""" +
        s""""task_s":${s.taskNs / 1e9},"submit_ms":${s.submitMs},"end_ms":${s.endMs}}"""
    }
    s"""{"spans":${spans.mkString("[", ",\n", "]")},\n"jobs":${jobs.mkString("[", ",\n", "]")},""" +
      s"""\n"stages":${stages.mkString("[", ",\n", "]")}}"""
  }
}
