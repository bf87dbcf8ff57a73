package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as the scheduler's event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into a layer (`kind = "call"`) or one Spark job run on
  * its behalf (`kind = "job"`). `trace` is the id of the op-level root
  * span, shared by every span the op caused. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      layer: String, kind: String, start: Double,
                      end: Double, attrs: Map[String, Double]) {
  def dur: Double = end - start
}

/** Counters of one Spark job, filled by [[JobListener]]. */
final class JobRec(val jobId: Int, val span: Long, val submit: Double) {
  @volatile var end: Double = submit
  @volatile var firstTask: Double = Double.MaxValue
  var stages, tasks = 0
  var cpuMs, gcMs, shuffleReadB, shuffleWriteB, spillB, inputB,
      inputRecords = 0.0
}

/** Attaches Spark jobs to the span whose job group submitted them. Spans
  * set the job group `perfbench-<spanId>` on their thread; the group is
  * inherited by the threads Spark runs broadcasts and subqueries on. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)
    val r = new JobRec(e.jobId, span, e.time.toDouble)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(stageJob.put(_, r))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r =>
      r.synchronized { r.stages += 1 })
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach(r => r.synchronized {
      r.firstTask = math.min(r.firstTask, e.taskInfo.launchTime.toDouble)
    })
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.cpuMs += m.executorCpuTime / 1e6
          r.gcMs += m.jvmGCTime
          r.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          r.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          r.inputB += m.inputMetrics.bytesRead
          r.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
}

/** Spans around the benchmark's calls into the library's layers, kept in
  * memory and written as JSONL at the end. Disabled, [[span]] only runs
  * its body: untraced runs pay no tracing cost. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val notes = new ThreadLocal[List[scala.collection.mutable.Map[String, Double]]] {
    override def initialValue() = Nil
  }
  /** Spans are recorded only while true: the timed part, not set-up. */
  @volatile var recording = false
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, trace) = outer.headOption.map { case (p, t) => (p, t) }
        .getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val attrs = scala.collection.mutable.Map.empty[String, Double]
      notes.set(attrs :: notes.get)
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        stack.set(outer)
        notes.set(notes.get.tail)
        outer.headOption match {
          case Some((p, _)) =>
            sc.setJobGroup(Tracer.GroupPrefix + p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        done.add(Span(id, parent, trace, name, layer, "call", start, end,
          attrs.toMap))
      }
    }

  /** Attach a count to the innermost open span (no-op when disabled). */
  def note(key: String, value: Double): Unit =
    if (enabled && recording) notes.get.headOption.foreach(_(key) = value)

  /** Call spans plus one child span per Spark job, after the listener bus
    * has delivered every event. */
  def spans(): Seq[Span] = listener match {
    case None => Nil
    case Some(l) =>
      ListenerDrain.drain(sc)
      val calls = done.asScala.toSeq
      val byId = calls.map(s => s.id -> s).toMap
      val jobs = l.jobs.values().asScala.toSeq.flatMap { j =>
        byId.get(j.span).map { p =>
          Span(-(j.jobId + 1L), p.id, p.trace, s"job ${j.jobId}", "spark",
            "job", j.submit, math.max(j.end, j.submit), Map(
              "stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
              "queue_wait_ms" -> (if (j.firstTask == Double.MaxValue) 0.0
                else math.max(0.0, j.firstTask - j.submit)),
              "cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs,
              "shuffle_read_b" -> j.shuffleReadB,
              "shuffle_write_b" -> j.shuffleWriteB, "spill_b" -> j.spillB,
              "input_b" -> j.inputB, "input_records" -> j.inputRecords))
        }
      }
      calls ++ jobs
  }
}

object Tracer {
  val GroupPrefix = "perfbench-"

  /** Duration of `s` minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN) { cs = a; ce = b }
        else if (a > ce) { covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** All descendants of each span (jobs included), for per-span totals. */
  def descendants(spans: Seq[Span]): Map[Long, Seq[Span]] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(c => c +: (if (c.id > 0) walk(c.id) else Nil))
    spans.filter(_.id > 0).map(s => s.id -> walk(s.id)).toMap
  }

  def toJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "layer" -> s.layer, "kind" -> s.kind, "start_ms" -> s.start,
    "end_ms" -> s.end, "attrs" -> s.attrs))
}
