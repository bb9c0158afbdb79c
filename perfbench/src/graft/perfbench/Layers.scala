package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans and job records
  * of its traced warm iterations. Per-batch figures are medians over
  * those iterations; per-call figures are medians over calls. Only the
  * operations are counted, not the output checks that follow them. */
object Layers {
  val ManifestOps = Seq("commit", "mergeByKey", "mergeByKeyDv",
    "deleteRangeDv", "readPrunedTyped", "countRows", "compact",
    "streamMerge", "format_read")

  /** Per-batch wall time of the spans with these names. */
  val BatchSpans = Seq(
    "sources.csv_read" -> "sources.csv_read_s",
    "pipelines.importer" -> "pipelines.importer.s",
    "pipelines.attributes" -> "pipelines.attributes.s",
    "operators.text_analysis" -> "operators.text_analysis.s",
    "operators.dedup.lsh_pairs" -> "operators.dedup.lsh_pairs.s",
    "operators.dedup.clusters" -> "operators.dedup.clusters.s",
    "operators.dedup.keep_best" -> "operators.dedup.keep_best.s",
    "operators.sharding" -> "operators.sharding.s")

  val LayerNames = Seq("pipelines", "operators", "sources", "bench")

  /** Ledger operation kinds by the class of work they do. */
  val ReadOps = Set("sources.manifest.readPrunedTyped",
    "sources.manifest.format_read")
  val WriteOps = Set("sources.manifest.mergeByKeyDv",
    "sources.manifest.deleteRangeDv", "sources.manifest.streamMerge",
    "bench.refresh")
  val CompactOps = Set("sources.manifest.compact")

  def metrics(tr: Tracer, ledger: Ledger, iters: Seq[Int],
      gcS: Map[Int, Double]): Seq[(String, (Double, String))] = {
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = out += (k -> (v, u))
    val spans = tr.spans.toSeq
    def dur(s: Span) = (s.endNs - s.startNs) / 1e9

    val opSpansOf: Map[Int, Seq[Span]] = iters.map { i =>
      val root = spans.find(s => s.iter == i && s.name == "iteration")
      i -> root.toSeq.flatMap(r => tr.children(r.id)
        .filterNot(_.name == "bench.check").toSeq)
    }.toMap
    val inOps: Map[Int, Seq[Span]] = opSpansOf.map { case (i, ops) =>
      val ids = ops.flatMap(o => tr.subtree(o.id)).toSet
      i -> spans.filter(s => ids.contains(s.id))
    }

    // manifest operations, per call
    ManifestOps.foreach { op =>
      val calls = inOps.values.flatten.filter(_.name == s"sources.manifest.$op").toSeq
      put(s"sources.manifest.$op.s", Stats.median(calls.map(dur)), "s")
      put(s"sources.manifest.$op.jobs",
        if (calls.isEmpty) 0.0
        else calls.map(c => tr.jobsUnder(c.id).size).sum.toDouble / calls.size,
        "count")
    }

    def perBatch(f: Int => Double): Double = Stats.median(iters.map(f))
    BatchSpans.foreach { case (name, metric) =>
      put(metric, perBatch(i => inOps(i).filter(_.name == name).map(dur).sum), "s")
    }
    LayerNames.foreach { l =>
      put(s"layer.$l.self_s", perBatch(i => inOps(i)
        .filter(_.name.takeWhile(_ != '.') == l)
        .map(s => tr.selfNs(s) / 1e9).sum), "s")
    }

    // engine counters over the jobs the operations started
    def jobsOf(i: Int): Seq[JobRec] =
      opSpansOf(i).flatMap(o => tr.jobsUnder(o.id))
    put("operators.dedup.cc_jobs", perBatch(i => inOps(i)
      .filter(_.name == "operators.dedup.clusters")
      .map(c => tr.jobsUnder(c.id).size).sum.toDouble), "count")
    put("spark.jobs", perBatch(i => jobsOf(i).size.toDouble), "count")
    put("spark.tasks", perBatch(i => jobsOf(i).map(_.tasks).sum.toDouble), "count")
    put("spark.task_failures",
      iters.map(i => jobsOf(i).map(_.taskFailures).sum).sum.toDouble, "count")
    put("spark.executor_cpu_s", perBatch(i => jobsOf(i).map(_.cpuNs).sum / 1e9), "s")
    put("spark.shuffle_write_bytes",
      perBatch(i => jobsOf(i).map(_.shuffleWrite).sum.toDouble), "bytes")
    put("spark.shuffle_read_bytes",
      perBatch(i => jobsOf(i).map(_.shuffleRead).sum.toDouble), "bytes")
    put("spark.spill_bytes", perBatch(i => jobsOf(i).map(_.spill).sum.toDouble), "bytes")
    put("spark.plan_s", perBatch(i => tr.planNs(i) / 1e9), "s")
    put("spark.gc_s", perBatch(i => gcS.getOrElse(i, 0.0)), "s")
    // job time is the union of job intervals inside the operations;
    // the driver gap is the rest of the operations' wall time
    val jobS = iters.map(i => Tracer.unionLength(jobsOf(i).map(j =>
      (j.startMs, j.endMs))) / 1e3)
    val wallS = iters.map(i => opSpansOf(i).map(dur).sum)
    put("spark.job_s", Stats.median(jobS), "s")
    put("spark.driver_gap_s",
      Stats.median(wallS.zip(jobS).map { case (w, j) => (w - j).max(0.0) }), "s")

    // operation latencies by class
    def samples(kinds: Set[String]) =
      ledger.samples.collect { case (k, xs) if kinds(k) => xs }.flatten.toSeq
    for ((cls, kinds) <- Seq("read" -> ReadOps, "write" -> WriteOps)) {
      val xs = samples(kinds)
      val (t, pct, n) = Stats.tail(xs)
      put(s"${cls}_s_p50", Stats.median(xs), "s")
      put(s"${cls}_s_tail", t, "s")
      put(s"${cls}_s_tail_pct", pct, "percentile")
      put(s"${cls}_s_tail_n", n.toDouble, "count")
    }
    put("compact_s_p50", Stats.median(samples(CompactOps)), "s")
    out.toSeq
  }
}
