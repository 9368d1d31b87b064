package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark's side of
  * the call. `req` groups the spans of one request or pass. Counter
  * fields are filled in by [[Tracer.finish]] from the listener's events
  * and the Hadoop FileSystem statistics. */
final case class Span(id: Int, parent: Int, name: String, req: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      attrs: Map[String, String],
                      fsBytesRead: Long, fsBytesWritten: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Counters a span accumulates over its interval. */
final case class Counts(jobs: Int, tasks: Int, cpuMs: Double,
                        inputBytes: Long, inputRows: Long,
                        shuffleMb: Double, spillMb: Double, noJobMs: Double)

/** Benchmark-owned listener: records every job's interval and every
  * task's metrics. Attribution to spans happens after the run, by time,
  * so the listener does no work on the scheduler's critical path. */
final class JobLog extends SparkListener {
  import JobLog._
  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  /** Time spent in this listener's callbacks, on the listener bus thread. */
  var callbackNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs += Job(e.jobId, e.time, Long.MaxValue, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorCpuTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  def taskCpuNs: Long = synchronized { tasks.foldLeft(0L)(_ + _.cpuNs) }
}

object JobLog {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, cpuNs: Long, inputBytes: Long, inputRows: Long,
                        shuffleBytes: Long, spillBytes: Long)
}

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing, so the untraced path pays only a branch. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var req = 0
  private val log: Option[JobLog] =
    if (enabled) { val l = new JobLog; sc.addSparkListener(l); Some(l) } else None

  // Hadoop FileSystem byte counters (the local file system keeps no
  // operation counts, only bytes)
  private def fsTotals: (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  // time the tracer spends on its own bookkeeping, outside span bodies
  private var selfNs = 0L

  def span[A](name: String, attrs: (String, String)*)(body: => A): A =
    if (!enabled) body
    else {
      val in0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val fs0 = fsTotals
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
        val fs1 = fsTotals
        stack = stack.tail
        spans += Span(id, parent, name, req, ns0, ns1, ms0, ms1, attrs.toMap,
          fs1._1 - fs0._1, fs1._2 - fs0._2)
        selfNs += (ns0 - in0) + (System.nanoTime() - ns1)
      }
    }

  /** Tracing cost so far: the tracer's own bookkeeping plus its
    * listener's callbacks, in nanoseconds. */
  def overheadNs: Long = selfNs + log.map(l => l.synchronized(l.callbackNs)).getOrElse(0L)

  /** A zero-length span that only carries `attrs`: a count or id list
    * taken at that point, for the per-layer ratios. */
  def event(name: String, attrs: (String, String)*): Unit = span(name, attrs: _*)(())

  /** Drain the listener bus and attribute jobs and tasks to spans. */
  def finish(): Seq[(Span, Counts)] = log match {
    case None => Nil
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(sc)
      l.synchronized {
        val stageJob = l.jobs.flatMap(j => j.stages.map(_ -> j)).toMap
        val tasksByJob = l.tasks.groupBy(t => stageJob.get(t.stage).map(_.id))
        spans.toSeq.map { s =>
          val js = l.jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
          val ts = js.flatMap(j => tasksByJob.getOrElse(Some(j.id), Nil))
          // wall time of the span with no job of its own running
          val covered = js.map(j => (j.startMs, math.min(j.endMs, s.endMs)))
            .sortBy(_._1)
            .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
              val from = math.max(a, reach)
              (acc + math.max(0L, b - from), math.max(reach, b))
            }._1
          s -> Counts(js.size, ts.size, ts.map(_.cpuNs).sum / 1e6,
            ts.map(_.inputBytes).sum, ts.map(_.inputRows).sum,
            ts.map(_.shuffleBytes).sum / 1e6, ts.map(_.spillBytes).sum / 1e6,
            math.max(0.0, (s.endMs - s.startMs) - covered))
        }
      }
  }
}
