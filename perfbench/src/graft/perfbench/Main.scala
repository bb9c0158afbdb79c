package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Thrown by an output check; counted as a failed operation. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** Failure accounting and latency samples. An operation is a timed call
  * followed by an untimed output check; it yields a latency sample only
  * when the call returned and the check passed, and otherwise counts as
  * failed. A batch is a group of operations; its time and CPU are the
  * sums over its calls, and it is a sample only if none of them failed. */
final class Ledger(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** The same latencies split by whether their batch was traced. */
  val bySide = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  private var batchNs = 0L
  private var batchCpuNs = 0L
  private var batchGcMs = 0L
  private var batchOk = true
  /** GC seconds during the calls of the last batch. */
  def lastGcS: Double = batchGcMs / 1e3

  def op[T](kind: String)(call: => T)(check: T => Unit): Boolean = {
    attempted += 1
    tracer.drain()
    val c0 = tracer.executorCpuNs
    val g0 = Tracer.gcMs()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(kind)(call))
      catch { case NonFatal(e) => Left(e) }
    val dtNs = System.nanoTime() - t0
    batchNs += dtNs
    batchGcMs += Tracer.gcMs() - g0
    tracer.drain()
    batchCpuNs += tracer.executorCpuNs - c0
    val dt = dtNs / 1e9
    val ok = res match {
      case Left(e) =>
        Console.err.println(s"[perfbench] $kind failed: $e")
        false
      case Right(v) =>
        try { tracer.span("bench.check")(check(v)); true }
        catch { case NonFatal(e) =>
          Console.err.println(s"[perfbench] $kind output check failed: $e")
          false
        }
    }
    if (ok) {
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
      bySide.getOrElseUpdate((kind, tracer.recording), mutable.ArrayBuffer.empty) += dt
    }
    else { failed += 1; batchOk = false }
    ok
  }

  def clearSamples(): Unit = { samples.clear(); bySide.clear() }

  /** Run one batch; Some((seconds, executor CPU seconds)) when every
    * operation in it succeeded. */
  def batch(body: => Unit): Option[(Double, Double)] = {
    batchNs = 0L; batchCpuNs = 0L; batchGcMs = 0L; batchOk = true
    try body
    catch { case NonFatal(e) =>
      // a throw between operations (input generation, a check that is
      // not tied to one call) still fails the batch
      Console.err.println(s"[perfbench] batch failed: $e")
      attempted += 1; failed += 1; batchOk = false
    }
    if (batchOk) Some((batchNs / 1e9, batchCpuNs / 1e9)) else None
  }
}

/** One workload instance: its inputs, the tables it writes, and the
  * model its outputs are checked against. A fresh instance per set-up. */
trait Workload {
  /** Input rows one batch consumes (the numerator of rows_per_s). */
  def rowsPerBatch: Long
  def setup(): Unit
  def batch(i: Int): Unit
  /** Checks run once after the measured loop (each counts as an op). */
  def finish(): Unit = ()
  /** Untimed batches between the cold batch and the measured ones, for
    * the JIT to compile the batch's driver-side paths: the batches it
    * slows most are the ones most exposed to host noise. Fewer where
    * set-up already runs the batch's code. */
  def warmupBatches: Int = 1
  /** Workload-specific per-layer values, read after the loop. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, cpus: Int,
      breakInput: Boolean)

  val SetupRepeats = 3
  /** Per-layer values only some workloads produce; 0 on the others. */
  val WorkloadLayerMetrics = Seq(
    "sources.manifest.files_scanned_ratio" -> "ratio",
    "sources.manifest.dv_positions_live" -> "count",
    "sources.manifest.write_amp" -> "ratio",
    "sources.manifest.files_rewritten" -> "count",
    "sources.manifest.files_dv" -> "count",
    "sources.manifest.space_amp" -> "ratio",
    "operators.dedup.candidates_per_doc" -> "count")
  /** Warm batches at least, whatever --seconds says: three in an
    * end-to-end run; four in a traced run, two traced and two not. The
    * JVM is still warming up over these batches, so their median moves
    * with their count; a short --seconds keeps the count fixed. */
  def minWarmBatches(trace: Boolean): Int = if (trace) 4 else 3
  /** Traced runs trace the first and fourth of every four measured
    * batches: each parity of batch (table_maintenance alternates its
    * make-up) gets traced and untraced batches, in both orders. */
  def traced(j: Int): Boolean = j % 4 == 0 || j % 4 == 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case x => throw new IllegalArgumentException(
        s"bad argument ${x.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("work")), Paths.get(m("out")),
      m("cpus").toInt, m.get("break-input").contains("1"))
  }

  def session(a: Args): SparkSession = {
    // graft.Bench's session settings, with every scratch path inside
    // the run's own work directory
    sys.props("graft.work.dir") = a.work.resolve("graft-work").toString
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(a: Args, spark: SparkSession, tracer: Tracer, ledger: Ledger,
      dir: Path): Workload = a.workload match {
    case "catalog_refresh" =>
      new CatalogRefresh(spark, tracer, ledger, dir, a.seed, a.breakInput)
    case "corpus_curation" =>
      new CorpusCuration(spark, tracer, ledger, dir, a.seed)
    case "table_maintenance" =>
      new TableMaintenance(spark, tracer, ledger, dir, a.seed)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val start0 = System.nanoTime()
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    val tracer = new Tracer(spark, a.trace)
    val ledger = new Ledger(tracer)
    val compiles0 = Codegen.compiles()
    val compileNs0 = Codegen.compileNs()

    // set up several times, each from scratch, and keep the last
    var wl: Workload = null
    val setupS = (1 to SetupRepeats).map { r =>
      val dir = a.work.resolve(s"setup-$r")
      Util.deleteTree(a.work.resolve(s"setup-${r - 1}"))
      val t0 = System.nanoTime()
      wl = make(a, spark, tracer, ledger, dir)
      tracer.span("setup")(wl.setup())
      (System.nanoTime() - t0) / 1e9
    }

    val batchS = mutable.ArrayBuffer.empty[Double]
    val batchCpu = mutable.ArrayBuffer.empty[Double]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val pinnedMb = mutable.ArrayBuffer.empty[Double]
    val coverage = mutable.ArrayBuffer.empty[Double]
    var cold: Option[Double] = None
    var coldCompiles = 0L
    var coldCompileNs = 0L
    val warmIters = mutable.ArrayBuffer.empty[Int]
    val gcS = mutable.Map.empty[Int, Double]

    def runBatch(i: Int): Option[(Double, Double)] = {
      val r = tracer.iteration(i)(ledger.batch(wl.batch(i)))
      gcS(i) = ledger.lastGcS
      tracer.drain()
      heapMb += Tracer.liveHeapMb()
      pinnedMb += Tracer.pinnedMb(spark)
      r
    }

    // the cold batch: first run of the batch's plans in this JVM,
    // untraced in every run so that its time means the same everywhere
    tracer.recording = false
    cold = runBatch(0).map(_._1)
    coldCompiles = Codegen.compiles() - compiles0
    coldCompileNs = Codegen.compileNs() - compileNs0
    (1 to wl.warmupBatches).foreach(runBatch)
    ledger.clearSamples() // operation latencies are warm ones

    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    val first = 1 + wl.warmupBatches
    var i = first
    while ((elapsed < a.seconds ||
        (batchS.size < minWarmBatches(a.trace) && ledger.failed == 0)) &&
        elapsed < 4.0 * a.seconds + 60.0) {
      tracer.recording = a.trace && traced(i - first)
      runBatch(i).foreach { case (s, c) =>
        batchS += s; batchCpu += c
        warmIters += i
      }
      // the batch's top-level spans must account for its wall time
      if (tracer.recording)
        tracer.spans.find(s => s.iter == i && s.name == "iteration")
          .foreach { it =>
            val kids = tracer.children(it.id).map(k => (k.startNs, k.endNs)).toSeq
            coverage += Tracer.unionLength(kids).toDouble / (it.endNs - it.startNs)
          }
      i += 1
    }
    tracer.recording = a.trace
    tracer.iteration(i)(ledger.batch(wl.finish()))
    tracer.drain()

    val ok = ledger.failed == 0 && cold.isDefined && batchS.nonEmpty
    val p50 = Stats.median(batchS)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)

    if (!a.trace) {
      put("setup_s", Stats.median(setupS), "s")
      put("batch_s_p50", p50, "s")
      put("rows_per_s", if (p50 > 0) wl.rowsPerBatch / p50 else 0.0, "1/s")
      put("cpu_s_per_batch", Stats.median(batchCpu), "s")
      put("live_heap_mb", Stats.median(heapMb), "MB")
      put("output_ok", if (ok) 1.0 else 0.0, "bool")
    } else {
      val layer = Layers.metrics(tracer, ledger,
        warmIters.toSeq.filter(i => traced(i - first)), gcS.toMap)
      layer.foreach { case (k, (v, u)) => put(k, v, u) }
      val own = wl.layerMetrics()
      WorkloadLayerMetrics.foreach { case (k, u) => put(k, own.getOrElse(k, 0.0), u) }
      put("cold_batch_s", cold.getOrElse(0.0), "s")
      put("spark.codegen_compiles", coldCompiles.toDouble, "count")
      put("spark.codegen_compile_s", coldCompileNs / 1e9, "s")
      put("spark.pinned_mb", if (pinnedMb.isEmpty) 0.0 else pinnedMb.last, "MB")
      val growing = pinnedMb.size >= 3 &&
        pinnedMb.sliding(2).forall(p => p(1) > p(0))
      if (growing) Console.err.println(
        s"[perfbench] LEAK: pinned storage grew after every batch: " +
          pinnedMb.map(v => f"$v%.2f").mkString(" -> ") + " MB")
      put("spark.pinned_growth", if (growing) 1.0 else 0.0, "bool")
      put("trace.coverage", if (coverage.isEmpty) 0.0 else coverage.min, "ratio")
      // per operation kind, so batches of different make-up compare
      val kinds = ledger.samples.keys.filter(k =>
        ledger.bySide.contains((k, true)) && ledger.bySide.contains((k, false)))
      def total(side: Boolean) =
        kinds.map(k => Stats.median(ledger.bySide((k, side)))).sum
      put("trace.overhead_frac",
        if (kinds.isEmpty) 0.0 else total(true) / total(false) - 1.0, "ratio")
      put("failed_frac", ledger.failed.toDouble / ledger.attempted.max(1L),
        "ratio")
      Files.createDirectories(a.out)
      tracer.writeSpans(a.out.resolve(s"${a.workload}-seed${a.seed}.spans.jsonl"))
    }
    Console.err.println(s"[perfbench] heap MB " + heapMb.map(v => f"$v%.1f").mkString(" ") +
      s", pinned MB " + pinnedMb.map(v => f"$v%.1f").mkString(" "))
    Console.err.println(s"[perfbench] ${a.workload} seed ${a.seed}: " +
      s"setup ${setupS.map(s => f"$s%.2f").mkString("/")} s, " +
      s"cold ${cold.map(s => f"$s%.3f").getOrElse("-")} s, " +
      s"batches ${batchS.map(s => f"$s%.3f").mkString(" ")}")
    ledger.samples.foreach { case (k, xs) =>
      Console.err.println(f"[perfbench]   $k%-40s n=${xs.size}%3d " +
        f"p50=${Stats.median(xs.toSeq)}%.4f s")
    }

    val json = Json.obj(Seq(
      "correct" -> ok,
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
    val stop0 = System.nanoTime()
    spark.stop()
    Console.err.println(f"[perfbench] stopped in ${(System.nanoTime() - stop0) / 1e9}%.2f s, " +
      f"run ${(System.nanoTime() - start0) / 1e9}%.1f s")
    println(json)
  }
}

object Codegen {
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, n). With ten samples or fewer there is no such
    * percentile and the maximum is reported as percentile 100. */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else {
      val rank = n - 11 // ten samples above this one
      (s(rank), 100.0 * (rank + 1) / n, n)
    }
  }
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        var sum = 0L
        st.filter(x => Files.isRegularFile(x))
          .forEach(x => sum += Files.size(x))
        sum
      } finally st.close()
    }
}

object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
