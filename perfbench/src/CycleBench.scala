package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.control._
import graft.sources.{AfricaShp, Grib1}

/** The ingestion-cycle workload: the service's first year after its
  * normal window, on the reference's AOI clipped to Africa.
  *
  * Set-up writes the monthly GRIB1 files (both variables, `StepMilli` AOI
  * lattice) of the `WindowYears` years of the normal window and of the
  * months the run's ops reach, and lands the window; state starts cold.
  * One op lands the next month's file with `Grib1.landToGrid` and runs one
  * `Cycle.run` (parquet layers and GeoTIFFs published) over a fresh
  * `GridSource` on the re-read landed grid clipped by
  * `GeoContains(AfricaShp.rings)`. Every op's cursor is a new calendar
  * month, so every op also builds both variables' normals of that month.
  * One op thus crosses every layer of the cycle: GRIB1 decode and landing,
  * the clip ray cast, the climatology scan, the parquet, GeoTIFF and binary
  * publish, and the state commits.
  */
object CycleBench {
  val FirstYear = 1991
  val StepMilli = 2000
  val WindowYears = 1
  /** Ops a run may make: one per calendar month, so each builds normals. */
  val MaxOps = 12

  val registry: Seq[DatasetDef] = Seq(
    DatasetDef("grid-temperature-2-m", "TMP", "K", "K", anomaly = false),
    DatasetDef("grid-temperature-2-m-anomaly", "TMP", "K", "K", anomaly = true),
    DatasetDef("grid-precipitation", "PRATE", "mm", "m", anomaly = false),
    DatasetDef("grid-precipitation-anomaly", "PRATE", "m", "m", anomaly = true))

  def iso(d: LocalDate): String = d.toString + "T00:00:00.000Z"

  /** Times a source's `forage` and tags its Spark jobs, for traced runs. */
  final class TimedSource(inner: ForageSource, tracer: Tracer) extends ForageSource {
    val name: String = inner.name
    var lastS = 0.0
    def forage(state: SourceState, datasets: Seq[DatasetDef], keepalive: () => Unit)
              (implicit spark: SparkSession): ForageResult = {
      val t0 = System.nanoTime()
      try tracer.inGroup("forage")(inner.forage(state, datasets, keepalive))
      finally lastS = (System.nanoTime() - t0) / 1e9
    }
  }
}

final class CycleBench(spark: SparkSession, root: String, seed: Long,
                       tracer: Option[Tracer]) extends Main.Workload {
  import CycleBench._

  private val lattice = Lattice(StepMilli)
  private val (y0, y1) = (FirstYear, FirstYear + WindowYears - 1)
  /** Months of the normal window; op 0's cursor is the month after. */
  private val windowMonths = 12 * WindowYears
  private val vars = Fields.variables(seed)
  private val first = LocalDate.of(FirstYear, 1, 1)
  private val gridDir = s"$root/grid"
  private lazy val rings: Seq[Array[(Double, Double)]] = AfricaShp.rings.toSeq
  private lazy val mask: Array[Boolean] = Fields.mask(lattice, rings)
  private def liveCells: Int = mask.count(identity)

  /** Month index (from January of FirstYear) of op k's cursor. */
  private def cursorIndex(k: Int): Int = windowMonths + k
  private def monthAt(idx: Int): LocalDate = first.plusMonths(idx.toLong)

  private val cursors = scala.collection.mutable.ArrayBuffer[Option[String]]()
  private var failed = 0
  override def failedOps: Int = failed

  private def gribFile(dir: String, idx: Int): Unit = {
    val m = monthAt(idx)
    Grib1.writeFile(Paths.get(dir, f"era5-${m.getYear}-${m.getMonthValue}%02d.grib"),
      vars.map(_.gribField(lattice, m.atStartOfDay())))
  }

  private def source(): ForageSource = {
    val grid = spark.read.parquet(gridDir).select("variable", "time", "lat", "lon", "value")
      .where(graft.functions.GeoContains(rings)(col("lon"), col("lat")))
    val gs = new GridSource(grid, root, iso(monthAt(windowMonths)), (y0, y1))
    tracer.fold[ForageSource](gs)(t => new TimedSource(gs, t))
  }

  /** Op count over the whole run, to write the ops' inputs in set-up. */
  private var plannedOps = 0
  override def plan(totalOps: Int): Unit = {
    require(totalOps <= MaxOps, s"at most $MaxOps cycle ops, asked for $totalOps")
    plannedOps = totalOps
  }

  def setup(): Unit = {
    Files.createDirectories(Paths.get(root))
    (0 until windowMonths).foreach(gribFile(s"$root/in/history", _))
    (0 until plannedOps).foreach(k => gribFile(s"$root/in/op-$k", cursorIndex(k)))
    Main.log("GRIB1 inputs written")
    Grib1.landToGrid(spark, s"$root/in/history", gridDir)
    Main.log("history landed")
    mask // the lattice mask is the checks' own; build it before timing
  }

  // per-op trace state
  private var landS = 0.0
  private var cycleS = 0.0
  private var src: ForageSource = _
  private var before: Map[String, Map[String, Long]] = Map.empty
  private var gcBefore = 0.0
  private var normalsBefore = 0
  private var opStartMs = 0L

  def op(k: Int): Unit = {
    tracer.foreach { t =>
      t.drain()
      before = Seq("land", "forage", "publish").map(g => g -> t.group(g)).toMap
      gcBefore = t.gcS
      normalsBefore = normalsInState
      opStartMs = System.currentTimeMillis()
    }
    val t0 = System.nanoTime()
    def land(): Int = Grib1.landToGrid(spark, s"$root/in/op-$k", gridDir)
    tracer.fold(land())(_.inGroup("land")(land()))
    val t1 = System.nanoTime()
    src = source()
    def cycle() = Cycle.run(root, src, registry, writeOutputs = true,
      binaryLayout = Some(lattice.layout))(spark)
    val result = tracer.fold(cycle())(_.inGroup("publish")(cycle()))
    val t2 = System.nanoTime()
    landS = (t1 - t0) / 1e9
    cycleS = (t2 - t1) / 1e9
    result match {
      case Success(st) => cursors += st.date
      case Failure(e) =>
        System.err.println(s"[perfbench] cycle op $k failed: $e")
        failed += 1
        cursors += None
    }
  }

  private def normalsInState: Int = {
    val p = Paths.get(s"$root/state/grid.json")
    if (!Files.exists(p)) 0
    else (JsonMethods.parse(Files.readString(p)) \ "normals") match {
      case JObject(vs) => vs.map { case (_, JObject(ms)) => ms.size; case _ => 0 }.sum
      case _ => 0
    }
  }

  private def filesWrittenSince(ms: Long, dirs: Seq[String]): Seq[Path] =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        Files.getLastModifiedTime(p).toMillis >= ms).toList
      finally s.close()
    }

  override def layerMetrics(): Seq[(String, Double, String)] = {
    val t = tracer.get
    t.drain()
    def delta(g: String, key: String): Long = t.group(g)(key) - before(g)(key)
    val forageS = src match { case ts: TimedSource => ts.lastS; case _ => 0.0 }
    val inputRows = delta("forage", "inputRecords")
    val cellsPublished = 4.0 * liveCells
    val published = filesWrittenSince(opStartMs,
      Seq(s"$root/outputs", s"$root/rasters", s"$root/state") ++
        Seq("heart.json", "inventory.json.br", "state.json").map(f => s"$root/$f"))
    val tifs = published.filter(_.toString.endsWith(".tif"))
    val groups = Seq("land", "forage", "publish")
    def sum(key: String): Double = groups.map(delta(_, key)).sum.toDouble
    val landedCells = 2.0 * lattice.cells
    Seq(
      ("land.s", landS, "s"),
      ("land.cells_per_s", if (landS > 0) landedCells / landS else 0.0, "cells/s"),
      ("forage.s", forageS, "s"),
      ("forage.input_rows", inputRows.toDouble, "rows"),
      ("forage.cells_per_row", if (inputRows > 0) cellsPublished / inputRows else 0.0, "ratio"),
      ("forage.task_cpu_s", delta("forage", "cpuNs") / 1e9, "s"),
      ("normals.built", (normalsInState - normalsBefore).toDouble, "count"),
      ("publish.s", cycleS - forageS, "s"),
      ("publish.output_mb", published.map(Files.size(_)).sum / 1048576.0, "MB"),
      ("geotiff.kb", if (tifs.isEmpty) 0.0 else tifs.map(Files.size(_)).sum / 1024.0 / tifs.size, "KB"),
      ("cycle.jobs", sum("jobs"), "count"),
      ("cycle.stages", sum("stages"), "count"),
      ("cycle.tasks", sum("tasks"), "count"),
      ("cycle.gc_s", t.gcS - gcBefore, "s"))
  }

  // ------------------------------------------------------------- checks

  private def close(v: Double, e: Double): Boolean =
    math.abs(v - e) <= 1e-6 * math.max(1.0, math.abs(e))

  private def closeF(v: Float, e: Double): Boolean =
    math.abs(v - e) <= math.max(1e-6 * math.max(1.0, math.abs(e)), 2.0 * Math.ulp(e.toFloat))

  /** Expected published value of a dataset at one cell of one month. */
  private def expected(d: DatasetDef, year: Int, month: Int, i: Int, j: Int): Double = {
    val v = vars.find(_.name == d.variable).get
    if (d.anomaly) v.anomaly(year, month, y0, y1, i, j)
    else v.raw(year, month, i, j) * (if (d.unit == "mm" && d.originalUnit == "m") 1000.0 else 1.0)
  }

  def check(opsRun: Int): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val months = (0 until opsRun).map(k => monthAt(cursorIndex(k)))
    def readJson(p: String): Option[JValue] =
      scala.util.Try(JsonMethods.parse(Files.readString(Paths.get(p)))).toOption

    // control plane: the cursor advanced one month per op
    if (cursors.nonEmpty && cursors.toSeq != months.map(m => Some(iso(m))))
      problems += s"cursor sequence ${cursors.mkString(",")} != one month per op from ${iso(months.head)}"
    val state = readJson(s"$root/state/grid.json")
    (state.map(_ \ "date")) match {
      case Some(JString(d)) if d == iso(months.last) => ()
      case other => problems += s"state cursor $other != ${iso(months.last)}"
    }
    readJson(s"$root/inventory.json.br") match {
      case Some(JArray(items)) =>
        val names = items.map(_ \ "name").collect { case JString(n) => n }.toSet
        if (names != registry.map(_.name).toSet)
          problems += s"inventory lists ${names.toSeq.sorted.mkString(",")}"
      case other => problems += s"inventory unreadable: $other"
    }

    // memoized normals equal the closed-form means
    val normalPaths = for (v <- vars; m <- months.map(_.getMonthValue).distinct) yield {
      val key = f"$m%02d"
      (v, m, state.map(_ \ "normals" \ v.name \ key) match {
        case Some(JString(path)) => Some(path)
        case other => problems += s"normal ${v.name}/$key missing from state ($other)"; None
      })
    }
    val found = normalPaths.collect { case (v, m, Some(p)) => (v, m, p) }
    if (found.nonEmpty) {
      val rows = spark.read.parquet(found.map(_._3): _*)
        .select(input_file_name(), col("lat"), col("lon"), col("normal")).collect()
      found.foreach { case (v, m, path) =>
        val uri = Paths.get(path).toUri.toString.stripSuffix("/") + "/"
        val mine = rows.filter(r => r.getString(0).startsWith(uri) ||
          r.getString(0).startsWith("file:" + path + "/"))
        if (mine.length != liveCells)
          problems += s"normal ${v.name}/$m has ${mine.length} cells, expected $liveCells"
        val bad = mine.count { r =>
          val (i, j) = (lattice.col(r.getDouble(2)), lattice.row(r.getDouble(1)))
          !mask(j * lattice.ni + i) || !close(r.getDouble(3), v.normal(m, y0, y1, i, j))
        }
        if (bad > 0) problems += s"normal ${v.name}/$m: $bad cells differ from the closed form"
      }
    }

    registry.foreach { d =>
      val v = vars.find(_.name == d.variable).get
      // one GeoTIFF per (layer, month), LZW + floating-point predictor,
      // every cell equal to the closed form (nodata outside the clip)
      val rasterDir = Paths.get(s"$root/rasters/${d.layerName}")
      val tifNames = months.map(m => s"${v.name}_$m-00-00-00.tif").toSet
      val present =
        if (!Files.isDirectory(rasterDir)) Set.empty[String]
        else {
          val s = Files.list(rasterDir)
          try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".tif")).toSet
          finally s.close()
        }
      if (present != tifNames)
        problems += s"${d.layerName}: GeoTIFFs ${(present -- tifNames).mkString(",")} unexpected, " +
          s"${(tifNames -- present).mkString(",")} missing"
      months.filter(m => present.contains(s"${v.name}_$m-00-00-00.tif")).foreach { m =>
        val f = rasterDir.resolve(s"${v.name}_$m-00-00-00.tif")
        scala.util.Try(TiffReader.read(Files.readAllBytes(f))) match {
          case Failure(e) => problems += s"$f unreadable: $e"
          case Success(img) =>
            if (img.compression != 5 || img.predictor != 3)
              problems += s"$f: Compression=${img.compression} Predictor=${img.predictor}, expected 5 and 3"
            if (img.width != lattice.ni || img.height != lattice.nj)
              problems += s"$f: ${img.width}x${img.height}, expected ${lattice.ni}x${lattice.nj}"
            else {
              val nodata = img.nodata.map(_.toFloat).getOrElse(Float.NaN)
              var bad = 0
              var outside = 0
              var n = 0
              while (n < lattice.cells) {
                val x = img.values(n)
                if (mask(n)) {
                  if (!closeF(x, expected(d, m.getYear, m.getMonthValue, n % lattice.ni, n / lattice.ni)))
                    bad += 1
                } else if (x != nodata) outside += 1
                n += 1
              }
              if (bad > 0) problems += s"$f: $bad cells differ from the closed form"
              if (outside > 0) problems += s"$f: $outside live cells outside the clip polygon"
            }
        }
      }

    }

    // the parquet layers: same cells, same values, one partition per month
    // (one Spark job over all four layers)
    val present = registry.indices.filter { n =>
      val ok = Files.isDirectory(Paths.get(s"$root/outputs/${registry(n).layerName}"))
      if (!ok) problems += s"$root/outputs/${registry(n).layerName} missing"
      ok
    }
    if (present.nonEmpty) {
      val lat = lattice
      val msk = mask
      val (a0, a1) = (y0, y1)
      val defs = registry.map(d => (vars.find(_.name == d.variable).get, d.anomaly,
        if (d.unit == "mm" && d.originalUnit == "m") 1000.0 else 1.0))
      val ok = udf { (layer: Int, la: Double, lo: Double, y: Int, m: Int, value: Double) =>
        val (v, isAnomaly, factor) = defs(layer)
        val (i, j) = (lat.col(lo), lat.row(la))
        i >= 0 && i < lat.ni && j >= 0 && j < lat.nj && msk(j * lat.ni + i) && {
          val e = if (isAnomaly) v.anomaly(y, m, a0, a1, i, j) else v.raw(y, m, i, j) * factor
          math.abs(value - e) <= 1e-6 * math.max(1.0, math.abs(e))
        }
      }
      val all = present.map { n =>
        spark.read.parquet(s"$root/outputs/${registry(n).layerName}")
          .select(lit(n).as("layer"), col("lat"), col("lon"), col("year"), col("month"), col("value"))
      }.reduce(_ unionByName _)
      val perMonth = all.groupBy(col("layer"), col("year"), col("month"))
        .agg(count(lit(1)).as("n"),
          sum(when(ok(col("layer"), col("lat"), col("lon"), col("year"), col("month"),
            col("value")), 0).otherwise(1)).as("bad"))
        .collect()
        .groupBy(_.getInt(0))
      present.foreach { n =>
        val out = s"$root/outputs/${registry(n).layerName}"
        val got = perMonth.getOrElse(n, Array.empty).map(r =>
          LocalDate.of(r.getInt(1), r.getInt(2), 1) -> (r.getLong(3), r.getLong(4))).toMap
        if (got.keySet != months.toSet)
          problems += s"$out: months ${got.keySet.toSeq.sortBy(_.toEpochDay).mkString(",")} " +
            s"!= ${months.mkString(",")}"
        got.foreach { case (m, (cells, bad)) =>
          if (cells != liveCells) problems += s"$out $m: $cells cells, expected $liveCells"
          if (bad > 0) problems += s"$out $m: $bad cells differ from the closed form"
        }
      }
    }
    problems.result()
  }
}
