package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.{CommercePulse, EventGenerator}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the engine: wall and JVM process CPU time (all
  * threads: tasks, driver, JIT and GC). A failed call keeps its exception.
  */
final case class Call(name: String, phase: String, pass: Int, wallS: Double,
                      cpuS: Double, error: Option[String]) {
  def toMap: Map[String, Any] = Map("name" -> name, "phase" -> phase,
    "pass" -> pass, "wall_s" -> wallS, "cpu_s" -> cpuS, "ok" -> error.isEmpty,
    "error" -> error)
}

/** One correctness verdict made inside the JVM. */
final case class Check(name: String, ok: Boolean, detail: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

object Record {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
}

final class Record {
  val calls = ArrayBuffer.empty[Call]
  val checks = ArrayBuffer.empty[Check]

  /** Times `body` (closed loop: the next call starts after this returns). */
  def time(name: String, phase: String, pass: Int)(body: => Unit): Call = {
    val c0 = Record.cpuNanos
    val t0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    val c = Call(name, phase, pass, (System.nanoTime() - t0) / 1e9,
      (Record.cpuNanos - c0) / 1e9, err)
    println(f"[call] $phase%s $name%s#$pass%d ${c.wallS}%.3fs${err.fold("")(" FAILED " + _)}%s")
    calls += c
    c
  }
}

object Dirs {
  def walk(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }

  /** Data files a sink committed (parquet/csv parts, not markers or checksums). */
  def dataFiles(dir: String): Int = walk(dir).count { p =>
    val n = p.getFileName.toString
    n.startsWith("part-") && !n.endsWith(".crc")
  }
}

/** Seeded `EventGenerator` corpus: `days` daily JSONL drops of `events`
  * events each (per-day seed = seed * 100 + day index) plus one historical
  * JSON-array export of events / 5 events (seed * 100 + 99), and the
  * generator-side truth the checks compare against.
  */
object Corpus {
  val FirstDay: LocalDate = LocalDate.of(2026, 2, 1)

  def write(seed: Long, days: Int, events: Int, out: String): Unit = {
    val live = (0 until days).map { i =>
      val cfg = EventGenerator.Config(events = events, seed = seed * 100 + i,
        day = FirstDay.plusDays(i.toLong))
      EventGenerator.writeJsonl(cfg, s"$out/live")
      EventGenerator.generate(cfg)
    }
    val hist = EventGenerator.generate(EventGenerator.Config(events = math.max(1, events / 5),
      seed = seed * 100 + 99, day = FirstDay.minusDays(20)))
    Files.createDirectories(Paths.get(s"$out/historical"))
    Files.writeString(Paths.get(s"$out/historical/export.json"),
      hist.map(_.line).mkString("[\n", ",\n", "\n]\n"))
    val all = live.flatten ++ hist
    Files.writeString(Paths.get(s"$out/truth.json"), Json(Map(
      "raw_lines" -> all.size,
      "distinct_events" -> all.map(_.eventId).distinct.size,
      "distinct_payments" -> all.flatMap(_.paymentId).distinct.size)))
  }

  def liveFiles(in: String): Seq[String] =
    Dirs.walk(s"$in/live").map(_.toString).filter(_.endsWith(".jsonl")).sorted
}

/** `elt_daily`: one cold `CommercePulse.runAll` over the corpus into a
  * fresh output dir, then the incremental refresh of [[Refresh]] over the
  * same daily drops: a fixed amount of work.
  *
  * With tracing on, `runAll` is one span and the listener splits its jobs
  * by call site (jobs `runAll` triggers through `graft.sources` are
  * `sources`, its own counts are `pipeline`). `runAll` builds its layers
  * lazily, so their work runs inside the sink jobs; after `runAll`, one
  * isolated call of each layer's public function, forced with `count()`
  * over the previous layer's cached output, gives each layer its own span.
  */
object Elt {
  private val Tables = Seq("fact_orders", "fact_payments", "fact_refunds",
    "fact_order_daily", "dim_customer", "dim_date", "dim_product", "quality_report")

  def run(spark: SparkSession, tracer: Tracer, rec: Record, in: String,
          work: String): Map[String, Any] = {
    val hist = Seq(s"$in/historical/export.json")
    val live = Corpus.liveFiles(in)
    val out = s"$work/out/elt"
    var counts = Map.empty[String, Long]
    rec.time("runAll", "cold", 0) {
      counts = tracer.span("pipeline.runAll")(CommercePulse.runAll(spark, hist, live, out))
    }
    val layers = tracer.layers().map { case (k, (n, ms)) => k -> (n.toMap + ("job_ms" -> ms)) }
    if (tracer.enabled) layerCalls(spark, tracer, hist, live)
    Map("counts" -> counts, "layers" -> layers,
      "files_written" -> Tables.map(t => Dirs.dataFiles(s"$out/$t")).sum) ++
      Refresh.run(spark, tracer, rec, in, work)
  }

  /** One isolated, forced call of each layer's public function. */
  private def layerCalls(spark: SparkSession, t: Tracer, hist: Seq[String],
                         live: Seq[String]): Unit = {
    def forced(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val events = t.span("pipeline.ingest")(forced(CommercePulse.ingest(
      hist.map(CommercePulse.readHistorical(spark, _)) ++
        live.map(CommercePulse.readLive(spark, _)))))
    val (o, p, r) = t.span("normalize")((forced(CommercePulse.normalizeOrders(events)),
      forced(CommercePulse.normalizePayments(events)),
      forced(CommercePulse.normalizeRefunds(events))))
    t.span("operators.daily")(CommercePulse.factOrderDaily(o, p, r).count())
    t.span("operators.quality")(CommercePulse.qualityReport(o, p, r).count())
    Seq(events, o, p, r).foreach(_.unpersist(blocking = true))
  }
}

/** `catalog`: named catalog queries, one cold pass, then warm passes for
  * `seconds` (at least two, so each query's warm median has two calls).
  * Each call is `fn(spark, dir)` plus a noop write of every column, as in
  * `graft.Bench`. Each result is captured once afterwards, untimed, for
  * the oracle check.
  */
object Catalog {
  def run(spark: SparkSession, tracer: Tracer, rec: Record, names: Seq[String],
          in: String, work: String,
          seconds: Double): Map[String, Any] = {
    val fns = SparkEntry.queries
    def call(name: String, dir: String, phase: String, pass: Int): Unit =
      rec.time(name, phase, pass) {
        spark.sparkContext.setJobDescription(s"$phase:$name#$pass")
        if (!tracer.enabled) fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
        else tracer.span(s"$phase#$pass/$name") {
          val df = tracer.span("queries.construct")(fns(name)(spark, dir))
          tracer.span("plans.plan")(df.queryExecution.executedPlan)
          tracer.span("operators.execute")(
            df.write.format("noop").mode("overwrite").save())
        }
      }
    names.foreach(call(_, in, "cold", 0))
    val w0 = System.nanoTime()
    var pass = 1
    while (pass <= 2 || (System.nanoTime() - w0) / 1e9 < seconds) {
      names.foreach(call(_, in, "warm", pass)); pass += 1
    }
    spark.sparkContext.setJobDescription(null)
    val captured = names.map { n =>
      val dir = s"$work/capture/$n"
      val err = try {
        fns(n)(spark, in).write.mode("overwrite").parquet(dir); None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      Map("query" -> n, "dir" -> dir, "error" -> err)
    }
    Map("captures" -> captured, "oracle_sql" -> names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}

/** The incremental refresh: daily drops through `readLiveStream(
  * maxFilesPerTrigger = 1)` -> `dedupWithWatermark` -> `startDailyRefresh`,
  * one micro-batch per drop; then the final fact is compared grain by grain
  * with the batch `factOrderDaily` over the same files. A listener reads
  * the process CPU clock at each batch's progress event, so each batch
  * carries the CPU seconds spent since the previous one.
  */
object Refresh {
  def run(spark: SparkSession, tracer: Tracer, rec: Record, in: String,
          work: String): Map[String, Any] = {
    val out = s"$work/out/fact_order_daily"
    val glob = s"$in/live/*/events.jsonl"
    val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        cpuAt.put(e.progress.batchId, Record.cpuNanos)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(progress)
    val cpu0 = Record.cpuNanos
    val q = EventStream.startDailyRefresh(spark,
      EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, glob, Some(1))),
      out, s"$work/out/checkpoint")
    val stream = rec.time("refresh", "stream", 0)(tracer.span("streaming.refresh") {
      q.awaitTermination()
    })
    // progress events are delivered asynchronously
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (cpuAt.size < q.recentProgress.length && System.nanoTime() < deadline) Thread.sleep(10)
    spark.streams.removeListener(progress)
    var prev = cpu0
    val batches = q.recentProgress.toSeq.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val cpu = Option(cpuAt.get(p.batchId)).fold(0L)(c => { val x = c - prev; prev = c; x })
      rec.calls += Call("batch", "batch", p.batchId.toInt,
        d.getOrElse("triggerExecution", 0L) / 1000.0, cpu / 1e9, None)
      Map("batch" -> p.batchId, "input_rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
    if (stream.error.isEmpty) compare(spark, rec, in, out)
    Map("batches" -> batches)
  }

  private def compare(spark: SparkSession, rec: Record, in: String, out: String): Unit = {
    val events = CommercePulse.ingest(
      Seq(CommercePulse.readLive(spark, s"$in/live/*/events.jsonl")))
    val batch = CommercePulse.factOrderDaily(CommercePulse.normalizeOrders(events),
      CommercePulse.normalizePayments(events), CommercePulse.normalizeRefunds(events))
    def byGrain(df: DataFrame): Map[String, String] = df.collect().map { r =>
      val key = s"${r.getAs[Any]("order_date")}/${r.getAs[Any]("vendor")}"
      key -> df.columns.map(c => s"$c=${r.getAs[Any](c)}").mkString(" ")
    }.toMap
    val want = byGrain(batch)
    val got = byGrain(spark.read.parquet(out))
    (want.keySet ++ got.keySet).toSeq.sorted.foreach { g =>
      val ok = want.get(g) == got.get(g)
      rec.checks += Check(s"refresh_grain:$g", ok, if (ok) "" else
        s"incremental ${got.getOrElse(g, "missing")} vs batch ${want.getOrElse(g, "missing")}")
    }
  }
}
