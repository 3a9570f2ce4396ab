package graftbench

import Main.median
import Tracer.Attributed

/**
 * Per-layer metrics of a traced run: values the run recorded at each
 * layer boundary, plus Spark work and self time attributed to spans.
 * A layer the workload does not exercise reads 0.
 */
object Layers {
  /** Steady-phase requests: serve batches, lifecycle cycles, dedup passes. */
  private val Steady = Seq("batch-", "cycle-", "pass-")

  /** The span that times one op of each workload. */
  private def opSpan(workload: String): String = workload match {
    case "ann_serve" => "GraftSystem.query"
    case "ann_lifecycle" => "lifecycle.cycle"
    case _ => "dedup.pass"
  }

  def derive(workload: String, r: Run, spans: Seq[Attributed]): Map[String, Double] = {
    val steady = spans.filter(s => Steady.exists(s.span.req.startsWith))
    def named(n: String) = spans.filter(_.span.name == n)
    def med(n: String)(f: Attributed => Double) = median(named(n).map(f))
    val rec = r.recorded.map { case (k, v) => k -> median(v) }
    val ops = steady.filter(_.span.name == opSpan(workload))
    def perOp(f: Attributed => Double) = median(ops.map(f))
    val nOps = math.max(1, ops.size).toDouble
    val layers = Seq("bench", "graft", "lsh", "index", "query", "crypto", "dedup")
    val self = layers.map(l => s"self.${l}_ms" -> steady.filter(_.span.layer == l).map(_.selfMs).sum / nOps)
    val memShare =
      if (workload == "ann_serve") rec.getOrElse("index.membership_ms_per_batch", 0.0) / median(r.opMs.toSeq)
      else 0.0
    val facade = if (workload == "ann_serve") ops else Seq.empty
    rec ++ self ++ Seq(
      "index.build_shuffle_bytes" -> med("LshIndex.build")(_.shuffleWrite.toDouble),
      "index.membership_shuffle_bytes_per_batch" -> med("LshIndex.membership")(_.shuffleWrite.toDouble),
      "index.membership_share" -> memShare,
      "query.jobs_per_batch" -> median(facade.map(_.jobs.toDouble)),
      "query.tasks_per_batch" -> median(facade.map(_.tasks.toDouble)),
      "query.task_busy_ms_per_batch" -> median(facade.map(_.busyMs)),
      "query.shuffle_bytes_per_batch" -> median(facade.map(_.shuffleWrite.toDouble)),
      "query.driver_gap_ms_per_batch" -> median(facade.map(_.driverGapMs)),
      "dedup.verify_yield" -> (if (rec.getOrElse("dedup.candidate_pairs", 0.0) > 0)
        rec("dedup.verified_pairs") / rec("dedup.candidate_pairs") else 0.0),
      "dedup.pairs_shuffle_bytes" -> med("Dedup.minhashPairs")(_.shuffleWrite.toDouble),
      "dedup.pairs_spill_bytes" -> med("Dedup.minhashPairs")(_.spill.toDouble),
      "dedup.components_jobs" -> med("Dedup.connectedComponents")(_.jobs.toDouble),
      "spark.jobs" -> perOp(_.jobs.toDouble),
      "spark.stages" -> perOp(_.stages.toDouble),
      "spark.tasks" -> perOp(_.tasks.toDouble),
      "spark.task_busy_ms" -> perOp(_.busyMs),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble),
      "spark.gc_ms" -> perOp(_.gcMs),
      "spark.driver_gap_ms" -> perOp(_.driverGapMs),
      "trace.op_ms" -> median(r.opMs.toSeq),
      "trace.spans" -> spans.size.toDouble)
  }
}
