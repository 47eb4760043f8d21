package perfbench

import scala.collection.mutable

/** Per-layer totals from one traced run. A layer is a span name; its
  * metrics are summed over every span of that name:
  *
  *  - self_s: span time minus the time covered by child spans;
  *  - plan_s: time of the layer's `plans` child spans;
  *  - driver_gap_s: span time minus the union of the job intervals
  *    inside it;
  *  - jobs, tasks, task_s, shuffle_mb, spill_mb, input_mb, output_mb:
  *    from the jobs attributed to the layer's own spans (not to spans
  *    nested in them).
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Union length of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def compute(t: Tracer, wallStart: Double, wallEnd: Double): Map[String, Double] = {
    t.drain()
    val spans = t.spans.toSeq
    val (jobs, stages) = t.jobs.synchronized(
      (t.jobs.jobs.values.toSeq.sortBy(_.id), t.jobs.stages.toMap))
    val ivs = jobs.map(j => (j.start.toDouble,
      (if (j.end >= 0) j.end else wallEnd.toLong).toDouble))
    val byId = spans.map(s => s.id -> s).toMap

    // stage -> first job listing it; job -> owning span (group, else the
    // innermost span open when the job started); `plans` spans hand
    // their jobs to the parent
    val stageOwner = mutable.Map[Int, Int]()
    jobs.foreach(j => j.stageIds.foreach(st => stageOwner.getOrElseUpdate(st, j.id)))
    def owner(j: JobRec): Option[Span] = {
      val byGroup = Option(j.group).filter(_.startsWith("perfbench-"))
        .flatMap(g => byId.get(g.stripPrefix("perfbench-").toInt))
      byGroup.orElse(spans.filter(s => s.start <= j.start && j.start <= s.end)
        .maxByOption(_.start))
        .map(s => if (s.name == Tracer.Plans && s.parent >= 0) byId(s.parent) else s)
    }
    val jobStages = stageOwner.groupBy(_._2).map { case (j, m) => j -> m.keys.toSeq }
    def jobStats(js: Seq[JobRec]): Map[String, Double] = {
      val st = js.flatMap(j => jobStages.getOrElse(j.id, Nil)).flatMap(stages.get)
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> st.size.toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "task_s" -> st.map(_.taskMs).sum / 1000.0,
        "shuffle_mb" -> st.map(_.shuffleBytes).sum / MB,
        "spill_mb" -> st.map(_.spillBytes).sum / MB,
        "input_mb" -> st.map(_.inputBytes).sum / MB,
        "output_mb" -> st.map(_.outputBytes).sum / MB,
        "rows_written" -> st.map(_.outputRecords).sum.toDouble,
        "job_s" -> js.map(j => (if (j.end >= 0) j.end else wallEnd.toLong) - j.start).sum / 1000.0)
    }
    val jobsOf = jobs.groupBy(j => owner(j).map(_.name).getOrElse("")).withDefaultValue(Nil)
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)

    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      val kids = children(s.id)
      add(s"${s.name}.self_s", (s.dur - kids.map(_.dur).sum) / 1000.0)
      add(s"${s.name}.plan_s", kids.filter(_.name == Tracer.Plans).map(_.dur).sum / 1000.0)
      add(s"${s.name}.driver_gap_s", (s.dur - covered(ivs, s.start, s.end)) / 1000.0)
    }
    jobsOf.foreach { case (name, js) if name.nonEmpty =>
      jobStats(js).foreach { case (k, v) => add(s"$name.$k", v) }
    case _ => }
    // the commit path of sources.Sinks, by its job labels
    jobStats(jobs.filter(j => Option(j.desc).exists(_.startsWith("replaceSlices"))))
      .foreach { case (k, v) => add(s"sources.Sinks.$k", v) }
    // the harness's check writes come after the measured window
    jobStats(jobs.filter(_.desc != Tracer.ChecksDesc))
      .foreach { case (k, v) => add(s"all.$k", v) }
    add("all.driver_gap_s", (wallEnd - wallStart - covered(ivs, wallStart, wallEnd)) / 1000.0)
    add("all.unspanned_s", (wallEnd - wallStart -
      spans.filter(s => s.parent < 0 && s.name != Tracer.ChecksDesc)
        .map(_.dur).sum) / 1000.0)
    add("plans.plan_s", spans.filter(_.name == Tracer.Plans).map(_.dur).sum / 1000.0)
    t.streams.synchronized {
      val b = t.streams.batchMs.sorted
      add("streaming.Streams.batches", b.size.toDouble)
      add("streaming.Streams.batch_p50_ms",
        if (b.isEmpty) 0.0 else b(b.size / 2).toDouble)
      add("streaming.Streams.state_rows", t.streams.stateRows.toDouble)
    }
    add("core.Registry.persisted_mb",
      t.storage.map(_._1).maxOption.getOrElse(0L) / MB)
    add("core.Registry.cached_rdds",
      t.storage.map(_._2).maxOption.getOrElse(0).toDouble)
    out.toMap
  }

  /** Spans as JSON lines: name, start, end, parent, op. */
  def spansJson(t: Tracer): String =
    t.spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.start,
      "end_ms" -> s.end))).mkString("", "\n", "\n")
}
