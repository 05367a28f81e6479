package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** query_mix: one client, one cold pass over the named queries in the
  * given order (closed loop: each query starts when the last ended).
  * A query's time is its builder call plus `collect()` of its result.
  * Results are written for the oracle check only after the pass. */
object QueryMix {
  /** A query that runs longer than this fails. */
  val TimeoutS = 60L
  val Warmup = Seq("q_pricing_summary", "a_streaks", "t_dedup_exact", "r_histogram_bins")

  private final case class Outcome(name: String, ok: Boolean, error: String, buildMs: Double,
                                   wallMs: Double, t0Ms: Long, tBuiltMs: Long, t1Ms: Long,
                                   rows: Array[Row], schema: StructType)

  def run(ctx: Main.Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val data = ctx.opt("data")
    val names = Files.readAllLines(Paths.get(ctx.opt("queries"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val registry = SparkEntry.queries
    // a query that overruns its timeout may ignore the interrupt: the next
    // query then gets a fresh thread instead of queueing behind it
    def newPool() = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "query-mix"); t.setDaemon(true); t
    }
    var pool = newPool()
    // a few fixed queries outside the pass first, so that whichever
    // queries the seed puts first do not also pay the session's
    // first-query costs; they count as set-up
    val (_, warmupMs) = ctx.tracer.span("queries", "warm-up", "warm-up") {
      Warmup.foreach(q => registry(q)(spark, data).collect())
    }

    val passT0 = System.currentTimeMillis()
    val outcomes = names.map { name =>
      val sc = spark.sparkContext
      val task = new Callable[Outcome] {
        override def call(): Outcome = {
          sc.setJobGroup(name, name, interruptOnCancel = true)
          sc.setLocalProperty(Probes.ReqKey, name)
          val t0 = System.currentTimeMillis()
          val ((df, built), wall) = ctx.tracer.span("queries", name, name) {
            val (df, _) = ctx.tracer.span("queries", "build", name)(registry(name)(spark, data))
            val built = System.currentTimeMillis()
            val (rows, _) = ctx.tracer.span("spark", "collect", name)(df.collect())
            ((df.schema, rows), built)
          }
          Outcome(name, ok = true, "", (built - t0).toDouble, wall, t0, built, t0 + wall.toLong,
            df._2, df._1)
        }
      }
      val started = System.nanoTime()
      val fut = pool.submit(task)
      try fut.get(TimeoutS, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(name)
          pool.shutdownNow()
          pool = newPool()
          failed(name, s"timeout after ${TimeoutS}s", started)
        case e: java.util.concurrent.ExecutionException =>
          failed(name, String.valueOf(e.getCause), started)
      }
    }
    val passT1 = System.currentTimeMillis()
    pool.shutdownNow()

    // outside the timed pass: results to parquet for the oracle check
    val results = s"${ctx.work}/results"
    val writers = Executors.newFixedThreadPool(4)
    outcomes.filter(_.ok).map { o =>
      writers.submit(new Runnable {
        override def run(): Unit = spark.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$results/${o.name}")
      })
    }.foreach(_.get())
    writers.shutdown()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"${ctx.work}/oracle_sql.json"), Json(oracle))

    val layers: Map[String, Any] = ctx.probes.map { p =>
      val sl = Main.sparkLayer(p, passT0, passT1)
      val intervals = p.t.synchronized(p.t.jobIntervals.toSeq)
      val eager = outcomes.filter(_.ok).map(o => intervals.count { case (s, _) => s >= o.t0Ms && s < o.tBuiltMs }).sum
      sl ++ Map(
        "queries.build_ms" -> outcomes.filter(_.ok).map(_.buildMs).sum,
        "queries.eager_jobs" -> eager.toLong)
    }.getOrElse(Map.empty)

    Map(
      "warmup_s" -> warmupMs / 1000.0,
      "pass_wall_s" -> (passT1 - passT0) / 1000.0,
      "queries" -> outcomes.map(o => Map(
        "name" -> o.name, "ok" -> o.ok, "error" -> o.error, "wall_ms" -> o.wallMs,
        "build_ms" -> o.buildMs, "rows" -> (if (o.ok) o.rows.length else 0))),
      "layers" -> layers)
  }

  private def failed(name: String, error: String, startedNs: Long): Outcome =
    Outcome(name, ok = false, error, 0.0, (System.nanoTime() - startedNs) / 1e6, 0L, 0L, 0L,
      Array.empty, new StructType())
}
