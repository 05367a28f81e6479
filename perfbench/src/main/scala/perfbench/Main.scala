package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM. Drives the engine from outside, through its
  * public entry points only, and writes raw measurements to
  * `<work>/jvm.json` (and spans to `<work>/spans.json` when traced).
  * `run.py` launches it, checks the outputs and prints the metrics.
  *
  * Usage: perfbench.Main <workload> <work dir> <trace 0|1> [key=value ...]
  */
object Main {
  /** Spark runs at local[Cpus], with as many shuffle partitions. */
  val Cpus = 4

  final case class Ctx(spark: SparkSession, work: String, tracer: Tracer, probes: Option[Probes],
                       opts: Map[String, String]) {
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing option $k"))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, trace) = args.take(3)
    val opts = args.drop(3).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyS = (System.currentTimeMillis() - Probes.jvmStartMs) / 1000.0
    val tracer = new Tracer(trace == "1")
    val probes = if (tracer.on) Some(new Probes(spark, tracer)) else None
    codegenAtStart = Probes.codegen()
    val ctx = Ctx(spark, work, tracer, probes, opts)
    val out: Map[String, Any] = try workload match {
      case "query_mix" => QueryMix.run(ctx)
      case "landuse_pipeline" => Pipeline.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally probes.foreach(_.close())
    // before retainedHeapMb, whose full collections would count as GC time
    val (gcMs, heapPeakMb, rssMb) = (Probes.gcMs(), Probes.heapPeakMb(), Probes.peakRssMb())
    val common = Map(
      "ready_s" -> readyS,
      "cpus" -> Cpus,
      "peak_rss_mb" -> rssMb,
      "retained_heap_mb" -> Probes.retainedHeapMb(),
      "jvm_gc_ms" -> gcMs,
      "jvm_heap_peak_mb" -> heapPeakMb,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    if (tracer.on)
      Files.writeString(Paths.get(s"$work/spans.json"), Json(tracer.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "req" -> s.req, "start_us" -> s.start, "end_us" -> s.end))))
    Files.writeString(Paths.get(s"$work/jvm.json"), Json(common ++ out))
    spark.stop()
    sys.exit(0) // TileServer's request pool is not daemon
  }

  private var codegenAtStart = (0L, 0.0)

  /** Spark job and codegen totals over the run, as per-layer numbers. */
  def sparkLayer(p: Probes, wallT0Ms: Long, wallT1Ms: Long): Map[String, Any] = {
    p.drain()
    val t = p.t
    val (compiles, compileMs) = Probes.codegen()
    t.synchronized(Map(
      "plans.codegen_compiles" -> (compiles - codegenAtStart._1),
      "plans.codegen_ms" -> (compileMs - codegenAtStart._2),
      "spark.jobs" -> t.jobs, "spark.stages" -> t.stages, "spark.tasks" -> t.tasks,
      "spark.task_overhead_ms" -> (t.taskDurMs - t.taskRunMs),
      "spark.driver_gap_ms" -> Probes.uncovered(wallT0Ms, wallT1Ms, t.jobIntervals.toSeq),
      "spark.task_run_ms" -> t.taskRunMs, "spark.shuffle_read_b" -> t.shuffleRead,
      "spark.shuffle_write_b" -> t.shuffleWrite, "spark.spill_b" -> t.spill,
      "spark.input_b" -> t.input, "spark.gc_ms" -> t.gcMs,
      "plans.analysis_ms" -> t.analysisMs, "plans.optimizer_ms" -> t.optimizerMs,
      "plans.physical_ms" -> t.physicalMs))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
