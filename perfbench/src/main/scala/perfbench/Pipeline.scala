package perfbench

import java.io.File
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.apps.{ConvolveLayer, IngestLayer, NdviLayer, PixelizeLayer, PyramidLayer}
import graft.catalog.LayerStore
import graft.core.TileMath
import graft.ops.Export
import graft.serve.TileServer
import graft.streaming.PixelStream

/** landuse_pipeline: one pass of the reference's job chain into a fresh
  * catalog, each step timed around its public call; the pass's layers
  * are dumped for the check afterwards. Zoom 1 holds the 2x2-tile grid,
  * so the pyramid step builds exactly one zoom-0 parent. */
object Pipeline {
  def run(ctx: Main.Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val in = ctx.opt("inputs")
    val radius = ctx.opt("radius")
    val tile = graft.apps.Apps.tileSize
    // one small ingest first (one tile), so the first timed step does not
    // also pay the session's first-job costs; it counts as set-up
    val (_, warmupMs) = ctx.tracer.span("ops", "warm-up", "warm-up")(
      IngestLayer.run(spark, Array(s"$in/warmup.parquet", s"${ctx.work}/catalog-warmup", "warmup", "0")))
    val cat = s"${ctx.work}/catalog"
    val done = pass(ctx, cat, in, radius, tile)

    // outside the timed pass: dump the layers for the check
    val store = new LayerStore(spark, cat)
    val check = s"${ctx.work}/check"
    for ((layer, zoom) <- Seq(("ndvi", 1), ("focal", 1), ("focal", 0), ("nir", 1)))
      store.read(layer, zoom).select("tile_col", "tile_row", "cells")
        .write.mode("overwrite").parquet(s"$check/${layer}_z$zoom")

    val layers: Map[String, Any] = ctx.probes.map { p =>
      val t0 = done("t0_ms").asInstanceOf[Long]
      val t1 = done("t1_ms").asInstanceOf[Long]
      Main.sparkLayer(p, t0, t1) ++ catalogDirect(ctx, store) ++ kernels(ctx, store, tile, radius.toInt) ++
        serve(ctx, p, cat, tile)
    }.getOrElse(Map.empty)
    Map("warmup_s" -> warmupMs / 1000.0, "pass" -> done, "layers" -> layers)
  }

  private def pass(ctx: Main.Ctx, cat: String, in: String, radius: String, tile: Int): Map[String, Any] = {
    val spark = ctx.spark
    val store = new LayerStore(spark, cat)
    val files = new FileLedger(new File(cat))
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setLocalProperty(Probes.ReqKey, name)
      times(name) = ctx.tracer.span("ops", name, name)(f)._2
      files.scan()
    }
    val t0 = System.currentTimeMillis()
    step("ingest") {
      IngestLayer.run(spark, Array(s"$in/nir.parquet", cat, "nir", "1"))
      IngestLayer.run(spark, Array(s"$in/red.parquet", cat, "red", "1"))
    }
    step("ndvi")(NdviLayer.run(spark, Array(cat, "nir", "red", "ndvi", "1")))
    step("focal")(ConvolveLayer.run(spark, Array(cat, "ndvi", "focal", "1", radius)))
    step("pyramid")(PyramidLayer.run(spark, Array(cat, "focal", "1")))
    val before = store.publishedVersions("nir", 1).map(_._1).max
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    step("update") {
      import spark.implicits._
      val schema = StructType(Seq(StructField("tile_col", IntegerType), StructField("tile_row", IntegerType),
        StructField("px", IntegerType), StructField("py", IntegerType), StructField("v", DoubleType)))
      val pixels = spark.readStream.schema(schema).parquet(s"$in/patch").as[PixelStream.PixelEvent]
      val tiles = PixelStream.reassemble(pixels, tile, tile, timeoutMs = 0).toDF()
      val q = PixelStream.upsertSink(tiles, store, "nir", 1)
        .option("checkpointLocation", s"${ctx.work}/stream-ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      progress = q.recentProgress.toSeq
      for (b <- progress) {
        val s0 = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000L
        ctx.tracer.add("streaming", s"batch ${b.batchId}", "update", s0, s0 + b.batchDuration * 1000L)
      }
      require(store.publishedVersions("nir", 1).map(_._1).max > before, "merge was not published")
    }
    val after = store.publishedVersions("nir", 1).map(_._1).max
    var changed = Seq.empty[(Int, Int, String)]
    step("diff") {
      changed = store.readDiff("nir", 1, before, after).collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    }
    step("export")(PixelizeLayer.run(spark, Array(cat, "ndvi", "1", s"${ctx.work}/export.csv")))
    val t1 = System.currentTimeMillis()
    val live = files.live(store)
    val batches = progress.filter(_.numInputRows > 0)
    Map(
      "t0_ms" -> t0, "t1_ms" -> t1,
      "pipeline_s" -> times.values.sum / 1000.0,
      "update_visible_s" -> times("update") / 1000.0,
      "steps_ms" -> times.toMap,
      "changed" -> changed.map { case (c, r, kind) => Seq(c.toString, r.toString, kind) },
      "export" -> s"${ctx.work}/export.csv",
      "files_written" -> files.written, "bytes_written" -> files.writtenBytes,
      "live_files" -> live._1, "live_bytes" -> live._2,
      "streaming" -> Map(
        "batches" -> batches.size,
        "batch_ms" -> batches.map(_.batchDuration).sum,
        "add_batch_ms" -> batches.map(p => Long2long(p.durationMs.getOrDefault("addBatch", 0L))).sum,
        "state_rows" -> batches.flatMap(_.stateOperators.map(_.numRowsUpdated)).sum,
        "state_bytes" -> batches.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L)))
  }

  /** Direct catalog calls, for the traced run only. */
  private def catalogDirect(ctx: Main.Ctx, store: LayerStore): Map[String, Any] = {
    val cached = store.read("ndvi", 1).cache()
    cached.count()
    val (_, writeMs) = ctx.tracer.span("catalog", "write", "catalog.write")(store.write(cached, "probe", 1))
    cached.unpersist()
    val reads = for (c <- 0 to 1; r <- 0 to 1) yield
      ctx.tracer.span("catalog", "readTile", s"catalog.read $c,$r")(
        store.readTile("focal", 1, c, r).select("cells").collect())._2
    store.delete("probe")
    Map("catalog.write_ms" -> writeMs, "catalog.read_tile_ms" -> Main.median(reads))
  }

  /** Spark-free kernel timings on this seed's own tiles, ns per output cell. */
  private def kernels(ctx: Main.Ctx, store: LayerStore, tile: Int, radius: Int): Map[String, Any] = {
    def cells(layer: String) =
      store.readTile(layer, 1, 0, 0).select("cells").head().getSeq[Double](0).toArray
    val nir = cells("nir"); val red = cells("red")
    val n = nir.length
    val pad = radius
    val padded = TileMath.empty(tile + 2 * pad, tile + 2 * pad)
    for (y <- 0 until tile) System.arraycopy(nir, y * tile, padded, (y + pad) * (tile + 2 * pad) + pad, tile)
    def nsPerCell(name: String, cellsOut: Int)(f: => Any): (String, Double) = {
      val samples = (0 until 15).map { _ =>
        ctx.tracer.span("core", name, "kernels")(f)._2 * 1e6 / cellsOut
      }
      s"core.${name}_ns_per_cell" -> Main.median(samples.drop(5)) // the first reps warm the JIT
    }
    Map(
      nsPerCell("ndvi", n)(TileMath.combine(nir, red)(TileMath.ndvi)),
      nsPerCell("focal_mean", n)(TileMath.focalMean(padded, tile, tile, pad, radius, true)),
      nsPerCell("downsample2", n / 4)(TileMath.downsample2(nir, tile, tile)),
      nsPerCell("merge", n)(TileMath.merge(nir, red)))
  }


  /** The serve layer over the focal pyramid, through TileServer's HTTP
    * surface: /meta (no Spark job, no render: the HTTP floor), each tile
    * once (LRU misses), then repeated hits; and one direct render. Every
    * request must answer 200 and every PNG decode to the tile's size; the
    * ones that do not are listed in `serve.failures`. */
  private def serve(ctx: Main.Ctx, p: Probes, cat: String, tile: Int): Map[String, Any] = {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val server = new TileServer(ctx.spark, cat, "focal", tile)
    val port = server.start(0)
    val http = HttpClient.newHttpClient()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(path: String, png: Boolean): Double = ctx.tracer.span("serve", "GET", path) {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val img = if (png && r.statusCode == 200)
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.body))) else None
      if (r.statusCode != 200 || (png && !img.exists(i => i.getWidth == tile && i.getHeight == tile)))
        failures += s"GET $path: status ${r.statusCode}"
    }._2
    val paths = Seq("/1/0/0", "/1/1/0", "/1/0/1", "/1/1/1", "/0/0/0")
    try {
      val meta = (0 until 20).map(_ => get("/meta", png = false))
      val t0 = System.currentTimeMillis()
      val misses = paths.map(get(_, png = true))
      val hits = (0 until 50).map(i => get(paths(i % paths.size), png = true))
      val t1 = System.currentTimeMillis()
      p.drain()
      val jobs = p.t.synchronized(p.t.jobIntervals.count { case (s, _) => s >= t0 && s <= t1 })
      val store = new LayerStore(ctx.spark, cat)
      val cells = store.readTile("focal", 0, 0, 0).select("cells").head().getSeq[Double](0)
      val breaks = store.readAttributes("focal", 0).get.quantileBreaks(10)
      val renders = (0 until 5).map(_ => ctx.tracer.span("serve", "renderPng", "direct")(
        Export.renderPng(cells, tile, tile, breaks, s"${ctx.work}/render.png"))._2)
      Map("serve.meta_ms" -> Main.median(meta), "serve.miss_ms" -> Main.median(misses),
        "serve.hit_ms" -> Main.median(hits), "serve.jobs_per_request" -> jobs.toDouble / (misses.size + hits.size),
        "serve.render_ms" -> Main.median(renders.drop(1)),
        "serve.requests" -> (meta.size + misses.size + hits.size), "serve.failures" -> failures.toSeq)
    } finally server.stop()
  }
}

/** Files under a catalog: the ones that appeared since the last scan count
  * as written; the live ones are those of each layer's current versions. */
final class FileLedger(root: File) {
  private val seen = scala.collection.mutable.Set.empty[String]
  var written = 0L
  var writtenBytes = 0L

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  private def dataFile(f: File) = !f.getName.startsWith(".") && !f.getName.startsWith("_")

  def scan(): Unit = walk(root).filter(dataFile).foreach { f =>
    if (seen.add(f.getPath)) { written += 1; writtenBytes += f.length() }
  }

  def live(store: LayerStore): (Long, Long) = {
    val layers = Option(new File(root, "tiles").listFiles()).toSeq.flatten
      .map(_.getName.stripPrefix("layer_name="))
    val files = for {
      layer <- layers; zoom <- store.zoomsOf(layer); v <- store.currentVersion(layer, zoom).toSeq
      f <- walk(new File(s"${store.root}/tiles/layer_name=$layer/zoom=$zoom/$v"))
    } yield f
    (files.count(dataFile).toLong, files.map(_.length()).sum)
  }
}
