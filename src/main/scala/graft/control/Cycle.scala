package graft.control

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.Serialization

/** Dataset (layer) registry entry — the reference's per-dataset ES module
  * surface (src/datasets/era5monthly-temperature-2-m.js:1-8): name, unit
  * descriptors, physical variable, anomaly flag; `layerName` is the
  * `-`→`_` mangle of the name (src/rabbit.js:38-39).
  */
case class DatasetDef(
    name: String,
    variable: String,
    unit: String,
    originalUnit: String,
    anomaly: Boolean) {
  def layerName: String = name.replace('-', '_')
  /** P4: dataset belongs to the source whose name prefixes its own
    * (src/rabbit.js:28-30). */
  def source: String = name.takeWhile(_ != '-')
}

/** A source's single-cycle result (src/rabbit.js:51): the successor state
  * plus the observation window each dataset produced this cycle.
  */
case class ForageResult(
    newState: SourceState,
    observed: Map[String, (String, String)], // dataset name -> (start, end)
    outputs: Map[String, DataFrame] = Map.empty)

/** The Source abstraction (SURVEY.md §1.1): one forage() per cycle, pure
  * with respect to injected state — the reference's
  * `forage(current_state, datasets)` contract (src/rabbit.js:23,51).
  */
trait ForageSource {
  def name: String
  def forage(state: SourceState, datasets: Seq[DatasetDef], keepalive: () => Unit)
            (implicit spark: SparkSession): ForageResult
}

/** One full ingestion cycle — the rabbit.js worker body re-expressed as a
  * driver-side function (SURVEY.md §3.1): heartbeat, state load, forage,
  * atomic state commit, per-dataset metadata, inventory + state rollups.
  */
object Cycle {
  implicit val formats: Formats = DefaultFormats

  /** K5: heartbeat written at cycle start (src/rabbit.js:14-16). */
  def heartbeat(rootDir: String, clock: Clock): Unit =
    StateStore.writeJsonAtomic(s"$rootDir/heart.json",
      Map("last_beat" -> java.time.Instant.ofEpochMilli(clock.nowMillis()).toString))

  def run(rootDir: String, source: ForageSource, registry: Seq[DatasetDef],
          clock: Clock = SystemClock, keepalive: () => Unit = () => (),
          writeOutputs: Boolean = false,
          binaryLayout: Option[graft.sources.RasterBinarySink.Layout] = None)
         (implicit spark: SparkSession): Try[SourceState] = Try {
    heartbeat(rootDir, clock)

    // P4: datasets of this source only (src/rabbit.js:28-30)
    val datasets = registry.filter(_.source == source.name)
    val stateDir = s"$rootDir/state"
    val state = StateStore.readJson(s"$stateDir/${source.name}.json", SourceState())

    val result = source.forage(state, datasets, keepalive)(spark)

    // data-plane outputs land first (partition overwrite is idempotent);
    // only then is state advanced — a retried cycle redoes the same month.
    // With a binary layout configured, each layer additionally exports the
    // reference's GeoTIFF-analog raster files (K1: .bin/.hdr/metadata.json
    // per (variable, time), see [[graft.sources.RasterBinarySink]]).
    if (writeOutputs) result.outputs.foreach { case (name, df) =>
      graft.operators.Raster.writePartitioned(df, s"$rootDir/outputs/$name")
      // rasters land OUTSIDE the parquet dataset dir (a foreign subdir
      // would break Spark's partition discovery on read-back)
      binaryLayout.foreach { layout =>
        graft.sources.RasterBinarySink
          .write(df, s"$rootDir/rasters/$name", layout).collect()
      }
    }

    // atomic state commit, then last_successful_update (src/rabbit.js:53-54)
    val committed = result.newState.copy(
      last_successful_update = Some(java.time.Instant.ofEpochMilli(clock.nowMillis()).toString))
    StateStore.writeJsonAtomic(s"$stateDir/${source.name}.json", committed)

    // per-dataset metadata.json: state extent merged with layer descriptors
    // (src/rabbit.js:56-71)
    datasets.foreach { d =>
      val dsPath = s"$stateDir/${source.name}/${d.name}.json"
      val prev = StateStore.readJson(dsPath, DatasetState())
      val merged = result.observed.get(d.name) match {
        case Some((s0, e0)) => StateStore.mergeExtent(prev, s0, e0)
        case None => prev
      }
      StateStore.writeJsonAtomic(dsPath, merged)
      StateStore.writeJsonAtomic(s"$rootDir/outputs/${d.name}/metadata.json",
        DatasetMeta(d.name, s"outputs/${d.name}", merged.start, merged.end,
          merged.missing, d.unit, d.originalUnit))
    }

    // A4: inventory rebuild — gather every dataset's metadata.json, drop
    // holes, publish as `.br`-named plain JSON (the reference quirk,
    // src/rabbit.js:73-85)
    val metas = listMetadata(s"$rootDir/outputs")
    StateStore.writeStringAtomic(s"$rootDir/inventory.json.br",
      Serialization.write(metas))

    // A5: state.json summary — nested rollup of the state dir
    // (src/rabbit.js:87-89, src/utility.js:56-69)
    StateStore.writeStringAtomic(s"$rootDir/state.json",
      Serialization.writePretty(jsonDirToObj(stateDir)))

    committed
  }

  def listMetadata(outputsDir: String): Seq[DatasetMeta] = {
    val dir = Paths.get(outputsDir)
    if (!Files.exists(dir)) Nil
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala
        .toSeq.sortBy(_.getFileName.toString)
        .flatMap { sub =>
          val m = sub.resolve("metadata.json")
          if (Files.exists(m))
            Try(Serialization.read[DatasetMeta](
              new String(Files.readAllBytes(m), "UTF-8"))).toOption
          else None
        }
      finally stream.close()
    }
  }

  /** S8: recursive `*.json` directory → nested map keyed by basename
    * (src/utility.js:56-69).
    */
  def jsonDirToObj(dir: String): Map[String, Any] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val stream = Files.list(p)
      try stream.iterator().asScala.toSeq.sortBy(_.getFileName.toString).flatMap { f =>
          val base = f.getFileName.toString
          if (Files.isDirectory(f))
            Some(base -> jsonDirToObj(f.toString))
          else if (base.endsWith(".json"))
            Try(base.stripSuffix(".json") ->
              Serialization.read[Map[String, Any]](
                new String(Files.readAllBytes(f), "UTF-8"))).toOption
          else None
        }.toMap
      finally stream.close()
    }
  }
}
