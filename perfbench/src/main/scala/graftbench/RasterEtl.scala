package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.core.{Geometry, GeoTransform, ResamplingAlg}
import graft.raster.{Los, Overview, PixelFrame, RasterOps, Viewshed}
import graft.sources.GeoTiff
import graft.trans.Trans

/** `raster-etl`: one batch pass over a seeded fractal DEM — plan and
  * export a two-overview COG, read it back, a three-raster calc,
  * terrain, a polygon cutline, catalog routing of the observers, a
  * viewshed over the observer table and LOS over seeded pairs.
  * Per-pixel kernels, codegen and the COG write/read path do the work,
  * with few Spark jobs; `llm` is idle.
  */
final class RasterEtl(spark: SparkSession, t: Tracer, dir: String, seed: Long,
                      wrongExpected: Boolean)
    extends Workload(spark, t, dir, seed, wrongExpected) {
  import RasterEtl._
  import spark.implicits._

  private val gt = GeoTransform(35.0, CellDeg, 0, 32.0, 0, -CellDeg)
  private val ndv = PixelFrame.Dem.Ndv
  private var demArr: Array[Short] = _
  private var ringGeo: Seq[(Double, Double)] = _
  private var calcExpected: Seq[Any] = _
  private var sample: Seq[(Int, Int, Boolean)] = _
  private var observers: Seq[(Int, Int, Int, Double, Double, Double, Double)] = _
  private var routeExpected: Map[Int, Int] = _
  private var cogBytes = 0L

  def unitsPerStep: Double = W.toDouble * H / 1e6

  /** The DEM and the two other calc inputs, as one three-value pixel table. */
  private def writeRasters(): Unit = {
    val bands = spark.sparkContext.broadcast(
      (demArr, Gen.dem(seed + 1, W, H), Gen.dem(seed + 2, W, H)))
    val w = W
    spark.sparkContext.parallelize(0 until H, spark.sparkContext.defaultParallelism)
      .flatMap { y =>
        val (a, b, c) = bands.value
        (0 until w).map { x => val i = y * w + x; (0, 1, x, y, a(i).toDouble, b(i).toDouble, c(i).toDouble) }
      }
      .toDF("rid", "band", "px", "py", "v", "vb", "vc")
      .write.mode("overwrite").parquet(path("rasters"))
    bands.destroy()
  }

  private def raster(col: String): DataFrame =
    readParquet("rasters").select($"rid", $"band", $"px", $"py", $"$col".as("v"))

  def prepare(): Unit = {
    demArr = Gen.dem(seed, W, H)
    writeRasters()
    observers = Gen.observers(seed + 3, Observers, W, H, 8, MaxR * CellM)
    observers.toDF("oid", "ox", "oy", "oz", "maxr", "dirdeg", "aperturedeg")
      .write.mode("overwrite").parquet(path("observers"))
    Catalog.synthetic(spark, CatalogRows).write.mode("overwrite").parquet(path("catalog"))
    Gen.losPairs(seed + 4, Pairs, W, H, W / 4.0).toDF(
      "pair_id", "ox", "oy", "oz", "tx", "ty", "tz", "freq_mhz")
      .write.mode("overwrite").parquet(path("pairs"))
    ringGeo = Gen.ring(seed + 5, RingVertices, W * 0.5, H * 0.5, W * 0.2)
      .map { case (x, y) => gt.pixelToGeo(x, y) }
  }

  override def expect(): Unit = {
    // expected answers, each from an independent path: calc as plain
    // Spark SQL, cutline membership from the driver-side point test
    readParquet("rasters").createOrReplaceTempView("etl_rasters")
    calcExpected = Workload.row(Workload.digest(spark.sql(
      s"SELECT band, px, py, $CalcExpr AS v FROM " +
        "(SELECT band, px, py, v AS A, vb AS B, vc AS C FROM etl_rasters)")).collect())
    if (wrongExpected) calcExpected = calcExpected.updated(0, calcExpected.head.asInstanceOf[Long] + 1)
    val rnd = new java.util.SplittableRandom(seed + 6)
    sample = (0 until SamplePixels).map { _ =>
      val (x, y) = (rnd.nextInt(W), rnd.nextInt(H))
      val cx = gt.c0 + (x + 0.5) * gt.c1 + (y + 0.5) * gt.c2
      val cy = gt.c3 + (x + 0.5) * gt.c4 + (y + 0.5) * gt.c5
      (x, y, Geometry.pointInPolygon(cx, cy, ringGeo))
    }.distinct
    // nearest zone center, lowest rid on ties (the catalog's naming
    // scheme: zone 30 + rid % 8, center zone * 6 - 183)
    routeExpected = observers.map { o =>
      val x = routeX(o._2)
      o._1 -> (0 until CatalogRows).minBy(r => (math.abs(x - ((30 + r % 8) * 6 - 183)), r))
    }.toMap
  }

  /** Observer longitude, stretched over the catalog's zones. */
  private def routeX(px: Int): Double = -40.0 + 80.0 * px / W

  /** Driver-side Horn gradient + hillshade of one interior pixel, in the
    * same arithmetic order as the engine's column expressions.
    */
  private def shadeAt(x: Int, y: Int): Int = {
    var sx = 0.0; var sy = 0.0
    for (dy <- -1 to 1; dx <- -1 to 1) {
      val v = demArr((y + dy) * W + x + dx).toDouble
      sx += (dx * (2 - math.abs(dy))) * v
      sy += (dy * (2 - math.abs(dx))) * v
    }
    val p = sx / (8 * CellM); val q = sy / (8 * CellM)
    val az = math.toRadians(315.0); val alt = math.toRadians(45.0)
    val raw = (math.sin(alt) - math.cos(alt) * (p * math.sin(az) - q * math.cos(az))) /
      math.sqrt(1.0 + p * p + q * q)
    math.floor(math.max(0.0, raw) * 255.0 + 0.5).toInt
  }

  def step(i: Int): Unit = {
    val dem = raster("v")
    val cog = path("dem_cog.tif")

    var plan: Option[Trans.TransPlan] = None
    op("trans.plan") {
      plan = t.eager("trans", "plan")(Trans.plan(dem, gt, W, H, Trans.TransOptions()))
      plan.isDefined
    }
    op("trans.export") {
      t.eager("trans", "export")(Trans.exportGeoTiffSharded(plan.get, cog, ovrLevels = 2))
      Files.exists(Paths.get(cog))
    }

    // read back through the GeoTIFF reader: level 0 must equal the DEM
    // pixel for pixel, overview sums must match Overview.buildLevel
    var levelSums = Seq.empty[(Long, Long)]
    op("sources.decode") {
      val (lossless, sums) = t.eager("sources", "decode") {
        val infos = GeoTiff.readInfos(cog)
        var lossless = infos.size == 3
        val sums = infos.zipWithIndex.map { case (info, k) =>
          var sum = 0L; var n = 0L
          info.segments.foreach { seg =>
            val px = GeoTiff.decodeSegment(cog, info, seg)
            var y = 0
            while (y < seg.h && seg.y0 + y < info.height) {
              var x = 0
              while (x < seg.w && seg.x0 + x < info.width) {
                val v = px(y * seg.w + x).toLong
                sum += v; n += 1
                if (k == 0 && v != demArr((seg.y0 + y) * W + seg.x0 + x)) lossless = false
                x += 1
              }
              y += 1
            }
          }
          (sum, n)
        }
        (lossless, sums)
      }
      cogBytes = Files.size(Paths.get(cog))
      levelSums = sums
      lossless
    }
    op("raster.overview") {
      val got = t.query("raster", "overview") {
        val l1 = Overview.buildLevel(dem, ResamplingAlg.Average, ndv)
        l1.withColumn("lvl", lit(1)).unionByName(
          Overview.buildLevel(l1, ResamplingAlg.Average, ndv).withColumn("lvl", lit(2)))
      } { df =>
        df.groupBy("lvl").agg(sum($"v".cast("int").cast("long")), count(lit(1))).orderBy("lvl")
      }.map(r => (r.getLong(1), r.getLong(2))).toSeq
      levelSums.size == 3 && got == levelSums.tail
    }
    op("functions.calc") {
      val got = t.query("functions", "calc") {
        graft.functions.Calc.calc(Map("A" -> dem, "B" -> raster("vb"),
          "C" -> raster("vc")), CalcExpr)
      }(Workload.digest)
      Workload.row(got) == calcExpected
    }
    val sampleDf = sample.map(s => (s._1, s._2)).toDF("px", "py").withColumn("s", lit(1))
    op("raster.terrain") {
      val got = t.query("raster", "terrain")(RasterOps.hillshade(dem, CellM)) { df =>
        df.join(broadcast(sampleDf), Seq("px", "py"), "left")
          .agg(count(lit(1)), map_from_entries(collect_list(when($"s" === 1,
            struct($"py".cast("long") * W + $"px", $"shade")))))
      }.head
      val shades = got.getMap[Long, Int](1)
      val expected = sample.filter { case (x, y, _) => x > 0 && y > 0 && x < W - 1 && y < H - 1 }
        .map { case (x, y, _) => (y.toLong * W + x) -> shadeAt(x, y) }.toMap
      got.getLong(0) == (W - 2).toLong * (H - 2) && shades == expected
    }
    op("raster.cutline") {
      val got = t.query("raster", "cutline")(RasterOps.cutline(dem, gt, W, H, ringGeo)) { df =>
        df.join(broadcast(sampleDf), Seq("px", "py"), "left")
          .agg(count(lit(1)), sort_array(collect_list(
            when($"s" === 1, $"py".cast("long") * W + $"px"))))
      }.head
      val inside = got.getSeq[Long](1).toSet
      val expected = sample.filter(_._3).map(s => s._2.toLong * W + s._1).toSet
      inside == expected && same("cutline", Seq(got.getLong(0)))
    }
    op("catalog.route") {
      val got = t.query("catalog", "route") {
        val points = readParquet("observers").select($"oid".as("point_id"),
          (lit(-40.0) + lit(80.0) * $"ox" / W).as("x"))
        Catalog.route(points, readParquet("catalog"))
      }(_.select("point_id", "rid")).map(r => r.getInt(0) -> r.getInt(1)).toMap
      got == routeExpected
    }
    // viewshed and LOS have no independent reference here: their checks
    // are structural, plus equality with the run's first pass
    op("raster.viewshed") {
      val got = t.query("raster", "viewshed") {
        Viewshed.viewshedCombineTable(dem, readParquet("observers"), op = "count",
          cellSize = CellM, tilePx = 32)
      }(df => df.agg(count(lit(1)), min($"v".cast("double")), max($"v".cast("double")),
        sum($"v".cast("double")))).head
      got.getLong(0) == W.toLong * H && got.getDouble(1) >= 0 &&
        got.getDouble(2) <= Observers && same("viewshed", got.toSeq)
    }
    op("raster.los") {
      val got = t.query("raster", "los") {
        Los.summary(readParquet("pairs"), dem, nStations = Stations, cellSize = CellM)
      }(df => df.agg(count(lit(1)), min($"visible".cast("int")), max($"visible".cast("int")),
        sum("dist"))).head
      got.getLong(0) == Pairs && got.getInt(1) >= 0 && got.getInt(2) <= 1 &&
        same("los", got.toSeq)
    }
  }

  override def extras(): Map[String, Double] = Map(
    "sources.cog_mb" -> cogBytes / 1048576.0,
    "sources.bytes_per_pixel" -> cogBytes.toDouble / (W.toLong * H))
}

object RasterEtl {
  val W = 384
  val H = 384
  val CellDeg = 0.0003
  val CellM = 30.0
  val Observers = 4
  val MaxR = 50.0
  val Pairs = 48
  val Stations = 48
  val RingVertices = 48
  val CatalogRows = 32
  val SamplePixels = 2000
  val CalcExpr = "greatest(A, B) - C / 4 + 1"
}
