package graft.control

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Raster

/** The era5monthly dataflow (reference src/sources/era5monthly.js:36-124)
  * over the long-format grid table: advance a monthly cursor, slice that
  * month out of the grid (partition pruning does the "download"), then per
  * dataset either unit-convert (plain layers) or subtract the memoized
  * climatology normal (anomaly layers). One grid slice serves every dataset
  * of the source — the reference's one-download-many-datasets share
  * (era5monthly.js:46-60) becomes a cached DataFrame.
  */
final class GridSource(grid: DataFrame, rootDir: String,
                       firstMonth: String = "1995-01-01T00:00:00.000Z",
                       normalYears: (Int, Int) = (1995, 2000)) extends ForageSource {

  val name = "grid"

  private def monthOf(iso: String): java.time.LocalDate =
    java.time.LocalDate.parse(iso.take(10)).withDayOfMonth(1)

  override def forage(state: SourceState, datasets: Seq[DatasetDef], keepalive: () => Unit)
                     (implicit spark: SparkSession): ForageResult = {
    // T1: monthly cursor — `state.date + 1 month`, else the epoch start
    // (era5monthly.js:37-41; add_months clamping semantics are irrelevant on
    // day-1 anchors)
    val cursor = state.date.map(d => monthOf(d).plusMonths(1)).getOrElse(monthOf(firstMonth))
    val cursorIso = cursor.toString + "T00:00:00.000Z"
    val cursorTs = lit(cursor.toString + " 00:00:00").cast("timestamp_ntz")

    keepalive()

    // one slice serves all datasets of the cycle; on the variable/year/month
    // store, MonthPartitionPruning derives `year = Y AND month = M` from
    // `time = cursor`, so this scan reads one partition per variable
    val monthSlice = grid.where(col("time") === cursorTs).cache()
    try {
      // P6: no-data short-circuit — month absent upstream: keep state, no
      // outputs (era5monthly.js:59-66)
      if (monthSlice.isEmpty)
        return ForageResult(state.copy(date = Some(cursorIso)), Map.empty)

      var st = state
      val outputs = Map.newBuilder[String, DataFrame]
      val observed = Map.newBuilder[String, (String, String)]
      datasets.foreach { d =>
        val slice = monthSlice.where(col("variable") === d.variable)
        val out =
          if (!d.anomaly) {
            val factor = (d.unit, d.originalUnit) match {
              case ("mm", "m") => 1000.0
              case _ => 1.0
            }
            Raster.convertUnit(slice, factor)
          } else {
            val (normal, st2) = Normals.getOrCompute(spark, st, s"$rootDir/normals",
              grid.where(col("variable") === d.variable), d.variable,
              cursor.getMonthValue, normalYears._1, normalYears._2)
            st = st2
            keepalive() // the normal build is the cycle's long pole, as in T4
            slice.join(broadcast(normal), Seq("lat", "lon"))
              .select(col("variable"), col("time"), col("lat"), col("lon"),
                      (col("value") - col("normal")).as("value"))
          }
        // Materialize each layer eagerly (the service loop writes layers out
        // anyway) so the cached slice can be dropped before returning —
        // otherwise cached blocks accumulate across scheduler cycles.
        outputs += d.layerName -> out.localCheckpoint(true)
        observed += d.name -> ((cursorIso, cursorIso))
      }
      ForageResult(st.copy(date = Some(cursorIso)), observed.result(), outputs.result())
    } finally monthSlice.unpersist()
  }
}
