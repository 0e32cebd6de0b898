package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.Raster

/** S7/T1 streaming flavor: the reference watches a directory and schedules
  * work per discovered file (chokidar on `sources/`, reference
  * src/main.js:9-11), with a per-source cursor making each month
  * exactly-once (era5monthly.js:37-41). The Spark-native equivalent is a
  * file-source `readStream` over a landing directory + `foreachBatch`
  * writing idempotent month partitions, with the checkpoint directory
  * playing the role of the reference's state JSON (offsets survive
  * restarts; a re-run re-lands nothing).
  *
  * At scale: the file source lists incrementally, the write is the native
  * partitioned parquet streaming sink (`variable/year/month`): its
  * `_spark_metadata` transaction log makes appends exactly-once across
  * restarts and replays (a re-attempted micro-batch is skipped, never
  * double-landed), and a month arriving split across several micro-batches
  * accumulates instead of each batch clobbering the partition — the
  * failure mode of a per-batch dynamic-overwrite `foreachBatch`.
  */
object LandingIngest {

  /** Start the ingest: grid-schema parquet files landing in `landingDir`
    * stream into the partitioned store at `outputDir`. `transform` is the
    * per-cycle dataflow (unit conversion, anomaly, ... — any
    * `DataFrame => DataFrame` from graft.operators).
    */
  def start(spark: SparkSession, landingDir: String, outputDir: String,
            checkpointDir: String, schema: StructType,
            transform: DataFrame => DataFrame = identity,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(landingDir)
      .transform(transform)
      .transform(Raster.withMonthKeys)
      .writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(Raster.PartitionColumns: _*)
      .trigger(trigger)
      .start()

  /** Run one AvailableNow cycle to completion — the batch-cursor analog of
    * a single reference `forage` (SURVEY.md §3.2).
    */
  def runOnce(spark: SparkSession, landingDir: String, outputDir: String,
              checkpointDir: String, schema: StructType,
              transform: DataFrame => DataFrame = identity): Unit = {
    val q = start(spark, landingDir, outputDir, checkpointDir, schema, transform)
    q.awaitTermination()
  }

  /** One flattened GRIB cell from the raw-file landing stream, or a
    * single quarantine row (`corrupt = true`, variable `__corrupt__`)
    * for a file the codec rejected — the source path rides every row
    * so a bad upstream file is attributable, not fatal.
    */
  final case class LandedCell(variable: String, time: java.time.LocalDateTime,
                              lat: Double, lon: Double, value: Double,
                              src: String, corrupt: Boolean)

  /** RAW GRIB2 files landing in a directory, decoded through the native
    * codec inside a typed streaming flatMap (streaming-legal — no RDD
    * detour) with PER-FILE quarantine: a corrupt file yields one
    * `__corrupt__` row instead of killing the query. This is the
    * operational met-ingest contract — upstream occasionally ships a
    * truncated or torn file mid-cycle, and the stream must land the
    * good files and flag the bad one (the reference's forage loop gets
    * this for free by forking one converter per file; here one query
    * owns the whole landing directory).
    */
  def gribLanding(spark: SparkSession, landingDir: String)
      : org.apache.spark.sql.Dataset[LandedCell] = {
    import org.apache.spark.sql.{Encoders, types => T}
    import spark.implicits._
    val binSchema = T.StructType(Seq(
      T.StructField("path", T.StringType),
      T.StructField("modificationTime", T.TimestampType),
      T.StructField("length", T.LongType),
      T.StructField("content", T.BinaryType)))
    spark.readStream.format("binaryFile").schema(binSchema)
      .load(landingDir)
      .select($"path", $"content")
      .as[(String, Array[Byte])](Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (p, bytes) =>
        // materialize the cell flatten INSIDE the try: Spark consumes
        // the returned iterator lazily after the catch exits, so a
        // decode failure surfacing during cell expansion must be
        // forced here or it escapes quarantine and kills the query.
        // Bounded: one file's cells (the per-task unit already).
        try graft.sources.Grib2.parseMessages(bytes, p).iterator
          .flatMap(graft.sources.Grib2.cells)
          .map(c => LandedCell(c.variable, c.time, c.lat, c.lon, c.value,
            p, corrupt = false))
          .toVector.iterator
        catch {
          // the codec rejects loudly (require/sys.error); any decode
          // failure quarantines THIS file only
          case scala.util.control.NonFatal(_) =>
            Iterator.single(LandedCell("__corrupt__",
              java.time.LocalDateTime.of(1970, 1, 1, 0, 0),
              0.0, 0.0, 0.0, p, corrupt = true))
        }
      }(Encoders.product[LandedCell])
  }
}
