package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` starts one JVM per mode:
  *
  *  - `--mode gen-events`: write a seeded `EventGenerator` corpus (daily
  *    JSONL drops plus one historical JSON-array export) and its ground truth;
  *  - `--mode run`: run one workload and write its record as JSON.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "gen-events" =>
        Corpus.write(opts("seed").toLong, opts("days").toInt, opts("events").toInt,
          opts("out"))
      case "run" => run(opts)
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** The `graft.Bench` session: local[cpus], shuffle partitions = cores,
    * nanosAsLong, UTC, GraftExtensions, DPP reuseBroadcastOnly=false. The
    * scratch, local and warehouse dirs live in the bench's work dir.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(opts: Map[String, String]): Unit = {
    val work = opts("work")
    val errors = ErrorCounter.install()
    val spark = session(opts("cpus").toInt, work)
    val readyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, opts("trace") == "1")
    val rec = new Record
    val t0 = System.nanoTime()
    val extra = opts("kind") match {
      case "elt" => Elt.run(spark, tracer, rec, opts("inputs"), work)
      case "catalog" => Catalog.run(spark, tracer, rec, opts("queries").split(",").toSeq,
        opts("inputs"), work, opts("seconds").toDouble)
      case k => sys.error(s"unknown workload kind $k")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val record = Map(
      "kind" -> opts("kind"),
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "ready_ms" -> readyMs,
      "run_wall_s" -> wall,
      "calls" -> rec.calls.map(_.toMap),
      "checks" -> rec.checks.map(_.toMap),
      "spans" -> tracer.all.map(_.toMap(tracer.origin)),
      "trace_overhead_s" -> tracer.overheadSeconds,
      "error_events" -> errors.count.get,
      "error_samples" -> errors.sampleList,
      "rss_mb" -> vmHwmMb,
      "heap_peak_mb" -> heapPeakMb,
      "extra" -> extra)
    Files.writeString(Paths.get(opts("out")), Json(record))
    spark.stop()
  }

  /** Sum of the heap pools' peak usage, as the JVM reports it. */
  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  /** Peak resident set of this JVM (driver and executors in local mode). */
  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
