package graftbench

import scala.collection.mutable.LinkedHashMap

/** Per-layer numbers of the traced passes, each a mean per pass. Spans
  * come from the harness's calls into each module; jobs, stages, SQL
  * executions and pinned blocks come from [[Counts]] and are attributed
  * to the innermost span open when they started. */
object Layers {
  /** `<layer>.<op>` spans reported as `<layer>.<op>_s`. */
  val Timed: Seq[String] = Seq("warehouse.read", "warehouse.publish",
    "warehouse.append", "warehouse.merge", "warehouse.delete_where",
    "warehouse.update_where", "warehouse.compact", "warehouse.vacuum",
    "warehouse.backup", "ingest.incremental_append",
    "quality.date_diagnostics", "quality.null_profile",
    "quality.check_constraints", "quality.repair_dates", "text.append",
    "text.delete", "text.maintain", "text.search", "ivf.append", "ivf.delete",
    "ivf.maintain", "ivf.probe", 
    "graph.label_propagation", "graph.connected_components",
    "wrangle.ground_cover", "wrangle.functional_groups",
    "wrangle.species_richness", "sql.query", "lookup.zone", "lookup.bloom",
    "plan.build", "plan.optimize")
  /** Spans whose Spark job count is reported as `<layer>.<op>_jobs`. */
  val JobCounted: Seq[String] = Timed.filter(_.startsWith("warehouse.")) ++
    Seq("ivf.probe", "text.search")
  val SelfLayers: Seq[String] = Seq("bench", "plan", "warehouse", "ingest",
    "quality", "text", "ivf", "graph", "wrangle", "sql", "lookup")

  /** Length of the union of [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def apply(passes: Seq[PassRec], all: Seq[Span], counts: Counts,
            setupJitS: Double, setupCodegenS: Double, tailPct: Double,
            samples: Int): LinkedHashMap[String, Double] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val idx = traced.map(_.index).toSet
    val n = math.max(1, traced.size).toDouble
    val spans = all.filter(s => s != null && idx(s.pass))
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = counts.jobs.filter(j => idx(j.pass)).toSeq
    val stages = counts.stages.filter(s => idx(s.pass)).toSeq
    val sql = counts.sql.filter(s => idx(s.pass)).toSeq
    val pins = counts.pins.filter(p => idx(p._1)).toSeq
    val writes = counts.writes.filter(w => idx(w._1)).toSeq
    val MiB = 1024.0 * 1024.0
    val m = LinkedHashMap.empty[String, Double]

    def ancestors(id: Int): List[Int] =
      if (id < 0) Nil else id :: ancestors(byId.get(id).map(_.parent).getOrElse(-1))
    // innermost span open at time t of pass p (children start after and
    // have larger ids than their parents)
    def innermost(p: Int, t: Long): Option[Span] =
      spans.filter(s => s.pass == p && s.startMs <= t && t <= s.endMs)
        .maxByOption(s => (s.startMs, s.id))
    val jobSpans = jobs.map(j => j -> innermost(j.pass, j.startMs)
      .map(s => ancestors(s.id)).getOrElse(Nil))
    val jobsIn = jobSpans.flatMap { case (j, ids) => ids.map(_ -> j) }
      .groupBy(_._1).map { case (id, js) => id -> js.map(_._2) }

    Timed.foreach { k =>
      m(s"${k}_s") = spans.filter(_.key == k).map(_.seconds).sum / n
    }
    JobCounted.foreach { k =>
      m(s"${k}_jobs") = spans.filter(_.key == k)
        .map(s => jobsIn.getOrElse(s.id, Nil).size).sum / n
    }
    m("graph.iter_s") = m("graph.label_propagation_s") / WrangleRead.Iters

    m("plan.queries") = sql.size / n
    m("plan.exchanges") = sql.map(_.exchanges).sum / n
    m("plan.codegen_stages") = sql.map(_.codegenStages).sum / n

    m("spark.jobs") = jobs.size / n
    m("spark.stages") = stages.size / n
    m("spark.tasks") = stages.map(_.tasks).sum / n
    m("spark.task_s") = stages.map(_.runMs).sum / 1e3 / n
    m("spark.gc_s") = traced.map(_.gcS).sum / n
    m("spark.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / MiB / n
    m("spark.shuffle_read_mb") = stages.map(_.shuffleRead).sum / MiB / n
    m("spark.spill_mb") = stages.map(_.spill).sum / MiB / n
    // wall of each top-level call not covered by any of its jobs
    val roots = spans.filter(s => s.key == "bench.pass").map(_.id).toSet
    m("spark.driver_gap_s") = spans.filter(s => roots(s.parent)).map { s =>
      val iv = jobsIn.getOrElse(s.id, Nil).map(j =>
        (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      (s.endMs - s.startMs - covered(iv)) / 1e3
    }.sum / n

    m("pin.blocks") = pins.size / n
    m("pin.mb") = pins.map(_._2).sum / MiB / n

    val writtenB = writes.map(_._3).sum.toDouble
    m("warehouse.files_written") = writes.map(_._2).sum / n
    m("warehouse.write_amp") = writtenB / math.max(1L, traced.map(_.liveB).sum)
    m("warehouse.space_amp") =
      traced.map(_.storedB).sum.toDouble / math.max(1L, traced.map(_.liveB).sum)
    m("ingest.new_row_ratio") =
      traced.map(_.appended).sum.toDouble / math.max(1L, traced.map(_.incoming).sum)

    m("fs.read_mb") = traced.map(_.io.rchar).sum / MiB / n
    m("fs.write_mb") = traced.map(_.io.wchar).sum / MiB / n
    m("fs.read_calls") = traced.map(_.io.syscr).sum / n
    m("fs.write_calls") = traced.map(_.io.syscw).sum / n

    // self time: a span's wall minus what its child spans cover
    val children = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.layer -> (s.endNs - s.startNs - covered(kids)) / 1e9
    }
    SelfLayers.foreach { l =>
      m(s"self.${l}_s") = self.filter(_._1 == l).map(_._2).sum / n
    }

    m("jvm.jit_s") = setupJitS
    m("jvm.codegen_compile_s") = setupCodegenS
    m("trace.overhead_s") =
      Main.median(traced.map(_.wallS)) - Main.median(untraced.map(_.wallS))
    m("trace.spans") = spans.size / n
    m("bench.tail_percentile") = tailPct
    m("bench.op_samples") = samples
    // the counts that must repeat exactly at a fixed seed, over every pass
    val perPass = passes.map { p =>
      (counts.jobs.count(_.pass == p.index),
        counts.writes.filter(_._1 == p.index).map(_._2).sum,
        counts.pins.count(_._1 == p.index))
    }
    m("bench.counts_repeat") = if (perPass.distinct.size <= 1) 1.0 else 0.0
    m
  }
}
