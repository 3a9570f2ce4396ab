package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point (launched by perfbench/run.py):
 * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--tiny 1]`.
 * Generates the workload's inputs under `<dir>`, runs it, checks every
 * answer, and prints one JSON result as the last stdout line: the
 * end-to-end metrics untraced, the per-layer metrics traced. Exits 1
 * when any check failed.
 */
object Main {
  val Workloads = Seq("ann_serve", "ann_lifecycle", "corpus_dedup")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s", "recall" -> "ratio",
    "resident_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "lsh.fit_ms" -> "ms", "lsh.code_ms" -> "ms", "lsh.code_rows" -> "count",
    "lsh.query_code_ms" -> "ms",
    "index.build_ms" -> "ms", "index.build_shuffle_bytes" -> "bytes", "index.blocks" -> "count",
    "index.delta_build_ms" -> "ms", "index.summary_collect_ms" -> "ms",
    "index.membership_ms_per_batch" -> "ms", "index.membership_shuffle_bytes_per_batch" -> "bytes",
    "index.membership_share" -> "ratio",
    "query.probe_ms" -> "ms", "query.candidates_ms" -> "ms", "query.refine_ms" -> "ms",
    "query.probed_blocks_per_query" -> "count", "query.candidates_per_query" -> "count",
    "query.cap_hit_queries" -> "count", "query.refine_ratio" -> "ratio",
    "query.distance_ratio_at_10" -> "ratio",
    "query.jobs_per_batch" -> "count", "query.tasks_per_batch" -> "count",
    "query.task_busy_ms_per_batch" -> "ms", "query.shuffle_bytes_per_batch" -> "bytes",
    "query.driver_gap_ms_per_batch" -> "ms",
    "crypto.encrypt_ms" -> "ms", "crypto.rotate_ms" -> "ms", "crypto.records_reencrypted" -> "count",
    "crypto.records_carried" -> "count", "crypto.decrypt_ms" -> "ms", "crypto.store_bytes" -> "bytes",
    "dedup.signature_ms" -> "ms", "dedup.band_buckets" -> "count", "dedup.buckets_dropped" -> "count",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.pairs_ms" -> "ms", "dedup.pairs_shuffle_bytes" -> "bytes",
    "dedup.pairs_spill_bytes" -> "bytes", "dedup.components_ms" -> "ms",
    "dedup.components_jobs" -> "count", "dedup.apply_ms" -> "ms",
    "graft.setup_ms" -> "ms", "graft.insert_ms" -> "ms", "graft.query_delta_ms" -> "ms",
    "graft.compact_ms" -> "ms", "graft.export_ms" -> "ms", "graft.load_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "self.bench_ms" -> "ms", "self.graft_ms" -> "ms", "self.lsh_ms" -> "ms", "self.index_ms" -> "ms",
    "self.query_ms" -> "ms", "self.crypto_ms" -> "ms", "self.dedup_ms" -> "ms",
    "trace.op_ms" -> "ms", "trace.spans" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      tiny: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.get("tiny").contains("1"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a.work)
    val tr = new Tracer(spark.sparkContext, a.trace)
    val r = new Run(spark, a.seed, a.seconds, tr, a.work)
    r.phase("inputs")
    Inputs.generate(spark, a.workload, a.seed, s"${a.work}/inputs",
        if (a.tiny) Inputs.Tiny else Inputs.Full) match {
      case Left(v) if a.workload == "ann_serve" => Ann.serve(r, v)
      case Left(v) => Ann.lifecycle(r, v)
      case Right(d) => Corpus.dedup(r, d)
    }
    r.phase("finish")
    val spans = tr.finish()
    if (a.trace)
      Files.write(Paths.get(s"${a.work}/spans.jsonl"), spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()

    val values: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> median(r.setupS.toSeq),
        "op_p50_ms" -> median(r.opMs.toSeq),
        "items_per_s" -> r.items / (r.opMs.sum / 1000),
        "recall" -> r.recall.sum / r.recall.size,
        "resident_mb" -> r.residentMb)
      else Layers.derive(a.workload, r, spans)
    val names = if (a.trace) PerLayer else EndToEnd
    r.errors.take(20).foreach(e => System.err.println(s"check failed: $e"))
    names.foreach { case (n, u) => println(f"$n%-42s ${values.getOrElse(n, 0.0)}%.6g $u") }
    println(s"samples: ${r.opMs.size} ops, ${r.setupS.size} set-ups; checks: ${r.attempted} attempted, ${r.failed} failed")
    println(Json.obj(Seq(
      "correct" -> (r.failed == 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> Json.Obj(names.map { case (n, u) =>
        n -> Json.Obj(Seq("value" -> values.getOrElse(n, 0.0), "unit" -> u)) }))))
    System.out.flush()
    sys.exit(if (r.failed == 0) 0 else 1)
  }
}
