package graft.control

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** T9: climatology-normal memoization (reference get_normal,
  * src/sources/era5monthly.js:126-155): each (variable, calendar-month)
  * 30-year mean is computed once, persisted, and reused forever; the state
  * document records the path (`normals[variable][month] ??= ...`).
  *
  * Spark shape: a cache-aside materialized aggregate. The computed normal
  * is a clipped single grid (~100 k cells), so the persisted parquet is
  * small and its re-read broadcasts into the anomaly join (Raster.anomaly).
  */
object Normals {

  /** Return the normal grid for (variable, calMonth), computing and
    * persisting it only when `state` has no path yet. Returns the updated
    * state alongside the DataFrame.
    */
  def getOrCompute(spark: SparkSession, state: SourceState, normalsDir: String,
                   grid: DataFrame, variable: String, calMonth: Int,
                   startYear: Int, endYear: Int): (DataFrame, SourceState) = {
    val monthKey = f"$calMonth%02d"
    state.normals.get(variable).flatMap(_.get(monthKey)) match {
      case Some(path) if Files.exists(Paths.get(path)) =>
        (spark.read.parquet(path), state)
      case _ =>
        val path = s"$normalsDir/$variable/$monthKey"
        graft.operators.Raster
          .climatologyNormal(grid, variable, calMonth, startYear, endYear)
          .coalesce(1) // one small grid — a single file broadcasts cleanly
          .write.mode("overwrite").parquet(path)
        val varMap = state.normals.getOrElse(variable, Map.empty) + (monthKey -> path)
        (spark.read.parquet(path),
         state.copy(normals = state.normals + (variable -> varMap)))
    }
  }
}
