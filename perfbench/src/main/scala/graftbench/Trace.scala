package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One clock for spans and Spark task times: epoch microseconds, read from
  * `nanoTime` offset to the wall clock once per JVM, so span bounds and
  * the listener's epoch-millisecond task times share a time base.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
}

object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}

/** Peak bytes held by cached and checkpoint blocks (RDD blocks, memory plus
  * disk), from block-update events. Registered on every run, traced or not.
  */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        total += now - sizes.getOrElse(key, 0L)
        if (now == 0L) sizes.remove(key) else sizes(key) = now
        peakBytes = math.max(peakBytes, total)
      case _ =>
    }
  }

  /** Start a new peak window from the bytes currently held. */
  def reset(): Unit = synchronized { peakBytes = total }
  def peak: Long = synchronized { peakBytes }
}

/** Spans around the benchmark's calls into the engine. Untraced runs keep
  * no spans and set nothing on the SparkContext; traced runs tag every
  * Spark job with the innermost open span (job description plus the
  * `graftbench.span` local property), so jobs become child spans.
  */
final class Spans(sc: SparkContext, val traced: Boolean) {
  import Spans.Span

  val done = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1

  def apply[A](name: String)(f: => A): A = {
    if (!traced) return f
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0), Clock.micros)
    nextId += 1
    stack = s :: stack
    tag(Some(s))
    val gc0 = Jvm.gcMs
    try f
    catch { case e: Throwable => s.error = e.toString; throw e }
    finally {
      s.endUs = Clock.micros
      s.gcMs = Jvm.gcMs - gc0
      stack = stack.tail
      tag(stack.headOption)
      done += s
    }
  }

  private def tag(s: Option[Span]): Unit = {
    sc.setJobDescription(s.map(_.name).orNull)
    sc.setLocalProperty(Spans.Property, s.map(_.id.toString).orNull)
  }

  def records: Seq[Map[String, Any]] = done.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "gc_ms" -> s.gcMs, "error" -> s.error)
  }.toSeq
}

object Spans {
  val Property = "graftbench.span"

  final case class Span(id: Int, name: String, parent: Int, startUs: Long,
                        var endUs: Long = -1L, var gcMs: Long = 0L, var error: String = null)
}

/** Raw Spark scheduler events for the traced run: one row per job and per
  * task, tagged with the span that submitted the job. The Python side
  * derives every per-layer number from these rows.
  */
final class TraceListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobRows = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  val tasks = ArrayBuffer.empty[Seq[Any]]
  var stagesRetried = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach { s => stageSpan.getOrElseUpdate(s, span); stageJob.getOrElseUpdate(s, e.jobId) }
    jobRows(e.jobId) = mutable.Map("job" -> e.jobId, "span" -> span,
      "start_us" -> e.time * 1000L, "end_us" -> -1L, "stages" -> e.stageIds.size, "ok" -> true)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRows.get(e.jobId).foreach { j =>
      j("end_us") = e.time * 1000L
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) stagesRetried += 1
  }

  /** Columns of [[tasks]]. */
  val taskColumns = Seq("span", "job", "stage", "launch_us", "finish_us", "failed", "run_ms",
    "cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "shuffle_read_records", "spill_bytes")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks += Seq(
      stageSpan.getOrElse(e.stageId, 0), stageJob.getOrElse(e.stageId, -1), e.stageId,
      i.launchTime * 1000L, i.finishTime * 1000L, if (i.successful) 0 else 1,
      metric(_.executorRunTime), metric(_.executorCpuTime) / 1000000L, metric(_.jvmGCTime),
      metric(_.shuffleWriteMetrics.bytesWritten), metric(_.shuffleWriteMetrics.recordsWritten),
      metric(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      metric(_.shuffleReadMetrics.recordsRead),
      metric(t => t.memoryBytesSpilled + t.diskBytesSpilled))
  }

  def jobs: Seq[Map[String, Any]] = synchronized { jobRows.values.map(_.toMap).toSeq }
}

/** Catalyst planning time (analysis, optimization, physical planning) of
  * every action the engine ran, from the query planning tracker.
  */
final class PlanListener extends QueryExecutionListener {
  private var planMs = 0L
  private var queries = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  private def add(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    queries += 1
  }

  /** Start counting at the measured window. */
  def reset(): Unit = synchronized { planMs = 0L; queries = 0L }

  def snapshot: Map[String, Any] = synchronized { Map("plan_ms" -> planMs, "actions" -> queries) }
}
