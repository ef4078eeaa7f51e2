package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A call into one engine layer, timed from the benchmark's side; the
  * wall-clock ends line spans up with Spark's job timestamps. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single driver thread. Spans are kept
  * only while an op is traced; untraced ops pay one boolean test. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1
  def active: Boolean = op >= 0

  def beginOp(id: Int): Unit = { op = id; stack = Nil }
  def endOp(): Unit = { op = -1; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the slot so children get later ids
      stack = id :: stack
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime(), m0,
          System.currentTimeMillis())
        stack = stack.tail
      }
    }

  /** The most recently finished span with this name in the current op. */
  def last(name: String): Span =
    spans.reverseIterator.find(s => s != null && s.name == name && s.op == op)
      .getOrElse(throw new IllegalStateException(s"no span $name in op $op"))

  /** Self time per layer (ms): each span's duration minus the part of it
    * its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Stats.unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.startNs.toDouble, c.endNs.toDouble)).toSeq)
      s.layer -> ((s.endNs - s.startNs) - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Spark work in one interval, from the benchmark's own listener. */
final case class SparkWork(jobs: Int, tasks: Int, busyCoreS: Double, maxTaskMs: Double,
                           shuffleBytes: Long,
                           jobIntervalsMs: Seq[(Double, Double)]) {
  /** Wall of [startMs, endMs] not covered by any running job, in ms. */
  def driverGapMs(startMs: Double, endMs: Double): Double = {
    val clipped = jobIntervalsMs.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) }.filter(i => i._2 > i._1)
    math.max(0.0, (endMs - startMs) - Stats.unionLength(clipped))
  }
}

/** Records every job with its tasks' busy time, longest task and shuffle
  * bytes. Ops run one at a time, so the jobs an op (or one
  * section of it) caused are those submitted inside its wall-clock span. */
final class WorkListener(sc: SparkContext) extends SparkListener {
  private final class Job(val startMs: Long) {
    var endMs = -1L; var tasks = 0; var busyMs = 0L; var maxTaskMs = 0L
    var shuffle = 0L
  }
  private val jobs = scala.collection.mutable.HashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val d = e.taskInfo.duration
      j.tasks += 1; j.busyMs += d; j.maxTaskMs = math.max(j.maxTaskMs, d)
      Option(e.taskMetrics).foreach(m => j.shuffle += m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Forget everything recorded so far. */
  def clear(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { jobs.clear(); stageJob.clear() }
  }

  /** Jobs submitted within [fromMs, toMs] (wall-clock). */
  def work(fromMs: Long, toMs: Long): SparkWork = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val js = jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
      SparkWork(js.length, js.map(_.tasks).sum, js.map(_.busyMs).sum / 1e3,
        (0L +: js.map(_.maxTaskMs)).max.toDouble, js.map(_.shuffle).sum,
        js.map(j => (j.startMs.toDouble, (if (j.endMs < 0) toMs else j.endMs).toDouble)))
    }
  }
}
