package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed region of a traced run. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Engine counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val schedWaitMs = mutable.ArrayBuffer.empty[Double]
}

/** Span recorder for traced runs. Spans nest per thread; each span's
  * id rides the Spark job properties of every job its thread submits
  * (and of streaming queries started inside it, whose execution thread
  * inherits the properties), so the listener attributes stage and task
  * counters to the span that was open when the job was submitted.
  * Spans live in memory and are written once, at exit. */
final class SpanRecorder(spark: SparkSession, val runId: String)
    extends SparkListener {
  private val Prop = "graft.perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()

  spark.sparkContext.addSparkListener(this)

  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  /** [[span]] that also returns the closed span. */
  def timed[T](name: String)(body: => T): (T, Span) = {
    val stack = open.get()
    val s = spans.synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime())
      spans += sp
      sp
    }
    open.set(s :: stack)
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try (body, s)
    finally {
      s.end = System.nanoTime()
      sc.setLocalProperty(Prop, saved)
      open.set(stack)
    }
  }

  private def ctr(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    id.foreach { s =>
      val span = s.toInt
      e.stageIds.foreach { st => stageSpan.put(st, span); stageJob.put(st, e.jobId) }
      jobSubmit.put(e.jobId, e.time)
      jobSpan.put(e.jobId, span)
      val c = ctr(span)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val job = stageJob.get(e.stageId)
    if (stageJob.containsKey(e.stageId)) {
      val submitted = jobSubmit.remove(job)
      if (submitted != null) {
        val c = ctr(jobSpan.get(job))
        c.synchronized(c.schedWaitMs += (e.taskInfo.launchTime - submitted).toDouble)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageSpan.containsKey(e.stageId) && e.taskMetrics != null) {
      val c = ctr(stageSpan.get(e.stageId))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }

  /** Delivers every pending listener event, so counters are complete. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def finish(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Duration minus what the span's children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def countersOf(s: Span): Counters = Option(counters.get(s.id)).getOrElse(new Counters)

  /** Per-name totals over every instance of the name: `<name>.self_frac`
    * (self time as a share of the traced wall time), `.tasks`,
    * `.shuffle_mb`, `.spill_mb` and `.gc_frac` (task GC time as a share
    * of task run time). Shares rather than seconds, because every
    * workload reports every span and a span it does not run reads 0. */
  def perName(names: Seq[String], wallSeconds: Double): Map[String, Double] =
    names.flatMap { n =>
      val inst = all.filter(_.name == n)
      val cs = inst.map(countersOf)
      val runMs = cs.map(_.runMs).sum
      Seq(s"$n.self_frac" -> inst.map(selfSeconds).sum / wallSeconds,
        s"$n.tasks" -> cs.map(_.tasks).sum.toDouble,
        s"$n.shuffle_mb" -> cs.map(_.shuffleBytes).sum / 1048576.0,
        s"$n.spill_mb" -> cs.map(_.spillBytes).sum / 1048576.0,
        s"$n.gc_frac" -> (if (runMs == 0) 0.0 else cs.map(_.gcMs).sum.toDouble / runMs))
    }.toMap

  /** Engine counters over every span, plus the traced wall time and the
    * part of it no span covers. `busy` is the thread time the spans ran
    * in: the wall time for one driving thread, the sum of the clients'
    * times for concurrent clients. */
  def totals(wallSeconds: Double, busy: Double): Map[String, Double] = {
    val cs = all.map(countersOf)
    val waits = cs.flatMap(_.schedWaitMs)
    Map("trace.wall_s" -> wallSeconds,
      "trace.uncovered_s" -> (busy - all.map(selfSeconds).sum),
      "engine.jobs" -> cs.map(_.jobs).sum.toDouble,
      "engine.tasks" -> cs.map(_.tasks).sum.toDouble,
      "engine.task_s" -> cs.map(_.runMs).sum / 1000.0,
      "engine.shuffle_mb" -> cs.map(_.shuffleBytes).sum / 1048576.0,
      "engine.spill_mb" -> cs.map(_.spillBytes).sum / 1048576.0,
      "engine.sched_wait_ms.mean" ->
        (if (waits.isEmpty) 0.0 else waits.sum / waits.size))
  }

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    val c = countersOf(s)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run_id" -> s.runId, "start_ns" -> s.start, "end_ns" -> s.end,
      "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
      "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
      "gc_ms" -> c.gcMs)
  }
}
