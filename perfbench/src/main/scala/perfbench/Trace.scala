package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Load-independent work counters, summed over every job the session runs. */
final case class Counts(jobs: Long, stages: Long, taskMs: Long, shuffleRead: Long,
                        shuffleWrite: Long, spill: Long, bytesWritten: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    taskMs - o.taskMs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, bytesWritten - o.bytesWritten)
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "task_ms" -> taskMs, "shuffle_read" -> shuffleRead,
    "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "bytes_written" -> bytesWritten)
}

/** SparkListener that accumulates [[Counts]], in total and per layer. A
  * job belongs to the layer of the first engine frame (`graft.*`) in its
  * call site: `graft.sources.Sinks` is `sources`, `graft.pipeline.*` is
  * `pipeline`, `graft.Scratch`/`Memo`/`Tables` are `Scratch`, and so on;
  * a job with no engine frame (stream bookkeeping, broadcast threads) is
  * `other`. Installed only in traced runs.
  */
final class CountingListener extends SparkListener {
  private final class Acc {
    val jobs, stages, taskMs, shRead, shWrite, spill, written, jobMs = new AtomicLong
    def counts: Counts = Counts(jobs.get, stages.get, taskMs.get, shRead.get,
      shWrite.get, spill.get, written.get)
  }
  private val total = new Acc
  private val layers = new ConcurrentHashMap[String, Acc]
  private val stageLayer = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]
  private val sqlLayer = new ConcurrentHashMap[Long, String]
  private def acc(layer: String): Acc = layers.computeIfAbsent(layer, _ => new Acc)
  private def both(layer: String)(f: Acc => Unit): Unit = { f(total); f(acc(layer)) }

  // a SQL execution's call site is taken on the thread that ran the action;
  // the jobs it submits (adaptive query stages, broadcasts) may run on others
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlLayer.put(s.executionId, CountingListener.layerOf(Seq(s.details)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val sql = Seq(SQLExecution.EXECUTION_ID_KEY, SQLExecution.EXECUTION_ROOT_ID_KEY).iterator
      .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
      .flatMap(id => Option(sqlLayer.get(id.toLong))).find(_ != "other")
    val layer = sql.getOrElse(CountingListener.layerOf(e.stageInfos.map(_.details)))
    e.stageIds.foreach(stageLayer.put(_, layer))
    jobStart.put(e.jobId, (layer, e.time))
    both(layer)(_.jobs.incrementAndGet())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (layer, t0) =>
      both(layer)(_.jobMs.addAndGet(e.time - t0))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    both(stageLayer.getOrDefault(e.stageInfo.stageId, "other"))(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      both(stageLayer.getOrDefault(e.stageId, "other")) { a =>
        a.taskMs.addAndGet(m.executorRunTime)
        a.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.written.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  def snapshot: Counts = total.counts

  /** Per layer: counts plus the summed wall of its jobs, in ms. */
  def byLayer: Map[String, (Counts, Long)] =
    layers.asScala.map { case (k, a) => k -> (a.counts, a.jobMs.get) }.toMap
}

object CountingListener {
  private val TopLevel = Map("Scratch$" -> "Scratch", "Memo$" -> "Scratch",
    "Tables$" -> "Scratch")

  /** Layer of the first `graft.*` frame in the stages' long call sites. */
  def layerOf(callSites: Seq[String]): String =
    callSites.iterator.flatMap(_.split("\n").iterator.map(_.trim))
      .find(_.startsWith("graft."))
      .map { frame =>
        val parts = frame.takeWhile(_ != '(').split('.')
        if (parts.length > 3) parts(1) else TopLevel.getOrElse(parts(1), parts(1))
      }.getOrElse("other")
}

/** One traced call into a layer: name, wall interval, parent span, and the
  * counter deltas of the work it ran (children included).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, delta: Counts, ok: Boolean) {
  def toMap(origin: Long): Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_s" -> (startNs - origin) / 1e9,
    "end_s" -> (endNs - origin) / 1e9, "ok" -> ok) ++ delta.toMap
}

/** Spans kept in memory and written when the run ends. With tracing off,
  * `span` only runs its body: no listener, no bus drains, no snapshots.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new CountingListener
  if (enabled) spark.sparkContext.addSparkListener(listener)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  private var overheadNs = 0L
  val origin: Long = System.nanoTime()

  private def counts(): Counts = {
    val t0 = System.nanoTime()
    BusDrain.drain(spark.sparkContext)
    val c = listener.snapshot
    overheadNs += System.nanoTime() - t0
    c
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val before = counts()
      val t0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, t0, t1, counts() - before, ok)
        stack = stack.tail
      }
    }

  /** Per-layer counts so far, after draining the listener bus. */
  def layers(): Map[String, (Counts, Long)] =
    if (!enabled) Map.empty
    else { val t0 = System.nanoTime(); BusDrain.drain(spark.sparkContext)
      val l = listener.byLayer; overheadNs += System.nanoTime() - t0; l }

  def overheadSeconds: Double = overheadNs / 1e9
  def all: Seq[Span] = spans.toSeq
}

/** Counts ERROR (and FATAL) log events and keeps the first few messages. */
final class ErrorCounter
    extends AbstractAppender("perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  val samples = new ConcurrentLinkedQueue[String]
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      if (count.incrementAndGet() <= 5) {
        val thrown = Option(e.getThrown).map(t => s" [${t.getClass.getName}: ${t.getMessage}]")
        samples.add((s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}" +
          thrown.getOrElse("")).take(400))
      }
    }
  def sampleList: Seq[String] = samples.asScala.toSeq
}

object ErrorCounter {
  def install(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new ErrorCounter
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}
