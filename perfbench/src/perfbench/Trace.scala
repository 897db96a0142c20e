package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the epoch-microsecond clock. */
final case class Ival(s: Long, e: Long) { def len: Long = math.max(0L, e - s) }

object Ival {
  /** Merge into disjoint sorted intervals, clipped to [lo, hi]. */
  def union(xs: Iterable[Ival], lo: Long, hi: Long): Vector[Ival] = {
    val out = ArrayBuffer.empty[Ival]
    xs.iterator.map(i => Ival(math.max(i.s, lo), math.min(i.e, hi))).filter(_.len > 0)
      .toVector.sortBy(_.s).foreach { i =>
        if (out.nonEmpty && i.s <= out.last.e) out(out.size - 1) = Ival(out.last.s, math.max(out.last.e, i.e))
        else out += i
      }
    out.toVector
  }

  def total(xs: Iterable[Ival]): Long = xs.iterator.map(_.len).sum

  /** Length of `a` not covered by `b` (both already merged). */
  def minusLen(a: Vector[Ival], b: Vector[Ival]): Long =
    a.iterator.map(i => i.len - total(union(b, i.s, i.e))).sum
}

/** Everything the listeners attribute to one span: a query's build or its
  * execute phase. Jobs and stages carry the span id in a local property;
  * tasks inherit it from their stage.
  */
final class SpanAcc {
  var jobs, stages, tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs, deserMs, delayMs = 0L
  var shWriteB, shReadB, fetchWaitMs, spillB = 0L
  var inB, inRec, outB, outRec = 0L
  val jobIvals = ArrayBuffer.empty[Ival]
  val taskIvals = ArrayBuffer.empty[Ival]
}

/** The traced run's listeners: a SparkListener for the scheduler/task/
  * exchange/source layers and a QueryExecutionListener for Catalyst's
  * phase timings. State is kept in memory and read after the window.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val spans = new ConcurrentHashMap[String, SpanAcc]()
  private val jobOf = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageOf = new ConcurrentHashMap[(Int, Int), String]()
  /** (phase name, start ms, end ms) from every finished QueryExecution. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  /** Tagged jobs whose JobEnd never arrived: lost listener events. */
  def openJobs: Int = jobOf.size

  def span(id: String): SpanAcc = spans.computeIfAbsent(id, _ => new SpanAcc)
  def spanOpt(id: String): Option[SpanAcc] = Option(spans.get(id))

  private def spanProp(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))

  override def onJobStart(ev: SparkListenerJobStart): Unit =
    spanProp(ev.properties).foreach { id =>
      jobOf.put(ev.jobId, (id, ev.time))
      span(id).synchronized { span(id).jobs += 1 }
    }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    Option(jobOf.remove(ev.jobId)).foreach { case (id, t0) =>
      val a = span(id)
      a.synchronized { a.jobIvals += Ival(t0 * 1000, ev.time * 1000) }
    }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
    spanProp(ev.properties).foreach { id =>
      stageOf.put((ev.stageInfo.stageId, ev.stageInfo.attemptNumber()), id)
      span(id).synchronized { span(id).stages += 1 }
    }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
    Option(stageOf.get((ev.stageId, ev.stageAttemptId))).foreach { id =>
      val a = span(id)
      val info = ev.taskInfo
      val m = ev.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskIvals += Ival(info.launchTime * 1000, info.finishTime * 1000)
        if (m != null) {
          val sr = m.shuffleReadMetrics
          val gettingResult =
            if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          a.shWriteB += m.shuffleWriteMetrics.bytesWritten
          a.shReadB += sr.remoteBytesRead + sr.localBytesRead
          a.fetchWaitMs += sr.fetchWaitTime
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inB += m.inputMetrics.bytesRead
          a.inRec += m.inputMetrics.recordsRead
          a.outB += m.outputMetrics.bytesWritten
          a.outRec += m.outputMetrics.recordsWritten
          if (m.inputMetrics.recordsRead + sr.recordsRead == 0) a.emptyTasks += 1
        }
      }
    }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def allPhases: Vector[(String, Long, Long)] = phases.asScala.toVector
}

object Tracer {
  /** Local property that ties every job to the benchmark span that ran it. */
  val SpanKey = "graft.bench.span"
}
