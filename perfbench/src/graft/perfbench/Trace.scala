package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One recorded layer call. `parent` is the enclosing span's id (-1 at
  * the top of an iteration); `iter` is the iteration it ran in (-1 for
  * set-up). Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, name: String, iter: Int,
    startNs: Long, var endNs: Long = 0L)

/** One Spark job and the task metrics of its stages. */
final class JobRec(val span: Int, val startMs: Long) {
  var endMs = 0L
  var tasks = 0L
  var taskFailures = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Spans around every call into a graft layer, plus engine counters
  * from a SparkListener, all kept in memory and written at exit.
  *
  * With `enabled = false` (the end-to-end runs) `span` only runs its
  * body and `boundary` is the identity, so the measured pipeline is
  * exactly the lazy one a user builds. In a traced run `recording` is
  * switched per iteration: traced iterations record spans and
  * materialize each layer's output at its boundary, so a layer span
  * holds that layer's own work rather than whatever a later action
  * happened to pull through it; the untraced iterations in between
  * give the tracing overhead.
  *
  * Jobs are attributed to spans through a Spark local property set on
  * the driver thread, which the streaming micro-batch thread inherits. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val SpanProp = "graft.perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var iter = -1
  var recording: Boolean = enabled

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  /** Executor CPU of every task so far, traced or not. */
  @volatile var executorCpuNs = 0L
  val planNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val running = mutable.Map.empty[Int, JobRec]
  private val pinned = mutable.Map.empty[Int, mutable.ArrayBuffer[DataFrame]]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
        val j = new JobRec(span, e.time)
        jobs += j
        running(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        running.remove(e.jobId).foreach(_.endMs = e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        Option(e.taskMetrics).foreach(m => executorCpuNs += m.executorCpuTime)
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1
          if (!e.taskInfo.successful) j.taskFailures += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  /** Catalyst's analysis, optimization and planning time per iteration
    * (the bus is drained at every iteration end, so `iter` is still the
    * iteration that ran the query). */
  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      Tracer.this.synchronized {
        planNs(iter) += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  // the job listener also feeds cpu_s_per_batch, so it runs untraced too
  sc.addSparkListener(Listener)
  if (enabled) spark.listenerManager.register(PlanListener)

  /** Run one iteration (a batch) under its own top-level span. */
  def iteration[T](i: Int)(body: => T): T = {
    iter = i
    try span("iteration")(body)
    finally pinned.remove(i).foreach(_.foreach(_.unpersist(blocking = true)))
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, iter,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** In a traced iteration, compute `df` here, inside the caller's
    * span, and hand back the cached result (freed when the iteration
    * ends). Otherwise `df` itself, unevaluated. */
  def boundary(df: DataFrame): DataFrame =
    if (!recording) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      pinned.getOrElseUpdate(iter, mutable.ArrayBuffer.empty) += p
      p
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def children(id: Int): Iterator[Span] = spans.iterator.filter(_.parent == id)

  /** Ids of a span and all spans under it. */
  def subtree(id: Int): Set[Int] =
    children(id).foldLeft(Set(id))((acc, k) => acc ++ subtree(k.id))

  /** Jobs started inside a span or any span under it. */
  def jobsUnder(id: Int): Seq[JobRec] = synchronized {
    val ids = subtree(id)
    jobs.filter(j => ids.contains(j.span)).toSeq
  }

  /** Span duration minus the part of it that child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = children(s.id).map(k => (k.startNs, k.endNs)).toSeq
    (s.endNs - s.startNs) - Tracer.unionLength(kids)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "iter" -> s.iter, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> selfNs(s), "jobs" -> jobsUnder(s.id).size))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Process-wide probes that need no listener. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Live heap after a full collection, in MB. Collected twice: the
    * first collection lets Spark's ContextCleaner release the blocks of
    * broadcasts and shuffles the batch left unreachable, the second
    * frees them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Storage blocks (cached and checkpointed RDDs) still held, in MB. */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
}
