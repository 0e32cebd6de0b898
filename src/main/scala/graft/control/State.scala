package graft.control

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.Serialization

/** Control-plane state documents and their durable store (SURVEY.md §1.1,
  * §2.8 T1): per-source and per-dataset JSON state mirroring the reference's
  * `{date, last_updated, normals, last_successful_update}` /
  * `{start, end, missing}` files (src/rabbit.js:25-26,51-54,61;
  * src/utility.js:32-33,135-142).
  *
  * All timestamps are ISO-8601 UTC strings, exactly as the reference keeps
  * them (src/datetime.js:29-31). The data plane never touches these: state
  * documents are tiny driver-side artifacts, so plain-JVM IO (not Spark
  * jobs) is the right tool at any scale.
  */
case class DatasetState(
    start: Option[String] = None,
    end: Option[String] = None,
    missing: Seq[String] = Nil)

case class SourceState(
    date: Option[String] = None,
    last_updated: Option[String] = None,
    normals: Map[String, Map[String, String]] = Map.empty,
    last_successful_update: Option[String] = None)

/** Per-dataset output metadata (src/rabbit.js:56-71): the merge of dataset
  * state with the layer's static descriptors.
  */
case class DatasetMeta(
    name: String,
    path: String,
    start: Option[String],
    end: Option[String],
    missing: Seq[String],
    unit: String,
    originalUnit: String)

object StateStore {
  implicit val formats: Formats = DefaultFormats

  /** S9: read a JSON state file, or the default when absent
    * (reference read_json ENOENT fallback, src/utility.js:71-80).
    */
  def readJson[T: Manifest](path: String, default: => T): T = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Serialization.read[T](new String(Files.readAllBytes(p), "UTF-8"))
    else default
  }

  /** K3: atomic JSON commit — pretty-printed, written through
    * [[graft.AtomicFile]], the reference's write_json_atomically
    * (src/utility.js:94-103).
    */
  def writeJsonAtomic[T <: AnyRef](path: String, value: T): Unit =
    writeStringAtomic(path, Serialization.writePretty(value))

  def writeStringAtomic(path: String, body: String): Unit =
    graft.AtomicFile.write(Paths.get(path), body.getBytes("UTF-8"))

  /** A3: merge a new observation window into dataset state — running
    * min(start)/max(end) across cycles (typical_metadata,
    * src/utility.js:135-142). ISO-8601 strings compare lexicographically in
    * time order, exactly how the reference relies on Date ordering.
    */
  def mergeExtent(prev: DatasetState, obsStart: String, obsEnd: String): DatasetState =
    DatasetState(
      start = Some(prev.start.fold(obsStart)(s => if (s <= obsStart) s else obsStart)),
      end = Some(prev.end.fold(obsEnd)(e => if (e >= obsEnd) e else obsEnd)),
      missing = prev.missing)
}
