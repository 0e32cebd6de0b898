package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.functions.{Geo, GeoContains}
import graft.operators.Raster
import graft.sources.Grib1

/** `MonthPartitionPruning` and the conjunct order of `GeoBboxPushdown` on
  * the grid store as the service reads it: landed GRIB1, re-read with the
  * partition columns projected away and clipped by `GeoContains`.
  */
class MonthPartitionPruningSpec extends SparkSpec {

  private val ni = 10; private val nj = 7
  private val years = 1995 to 1997
  private val months = 1 to 4

  // TMP and PRATE for every (year, month): 24 partitions of 70 cells
  private lazy val gridDir: String = {
    val in = Files.createTempDirectory("graft-mpp-in")
    val dir = Files.createTempDirectory("graft-mpp-grid").resolve("grid").toString
    for (y <- years; m <- months) {
      val f = Grib1.Field(11, LocalDateTime.of(y, m, 1, 0, 0), ni, nj,
        la1Milli = 6000, lo1Milli = 10000, diMilli = 1000, djMilli = 1000,
        decimalScale = 1,
        Array.tabulate(nj * ni)(k => Some(100 * (y - 1990) + 10 * m + k)))
      Grib1.writeFile(in.resolve(f"f-$y-$m%02d.grib"), Seq(f, f.copy(param = 61)))
    }
    Grib1.landToGrid(spark, in.toString, dir) shouldBe years.size * months.size
    dir
  }

  private val ring: Geo.Ring =
    Array((11.5, 1.5), (16.5, 1.5), (16.5, 4.5), (11.5, 4.5), (11.5, 1.5))

  private def grid: DataFrame =
    spark.read.parquet(gridDir).select("variable", "time", "lat", "lon", "value")
      .where(GeoContains(Seq(ring))(col("lon"), col("lat")))

  private val cursor = lit("1996-03-01 00:00:00").cast("timestamp_ntz")

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  private def partitionFilterSql(df: DataFrame): Seq[String] =
    scans(df).flatMap(_.partitionFilters).map(_.sql)

  private def withoutRules[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key,
      "graft.functions.MonthPartitionPruning,graft.functions.GeoBboxPushdown")
    try body finally spark.conf.unset(key)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a month slice of the clipped grid prunes to that year/month") {
    val slice = grid.where(col("time") === cursor)
    val pf = partitionFilterSql(slice)
    pf should contain("(year = 1996)")
    pf should contain("(month = 3)")
    // ray cast last in the scan's filter
    val cond = slice.queryExecution.optimizedPlan.collect { case f: Filter => f.condition.sql }
    cond should have length 1
    cond.head.indexOf("geocontains") should be > cond.head.lastIndexOf("time")
    val got = rows(slice)
    got should have length (2 * 15) // 2 variables x the 15 cells in the ring
    val (want, unpruned) = withoutRules {
      val s = grid.where(col("time") === cursor)
      (rows(s), partitionFilterSql(s))
    }
    unpruned shouldBe empty
    got shouldBe want
  }

  test("a climatology normal build prunes to its calendar month and years") {
    val normal = Raster.climatologyNormal(grid, "TMP", calMonth = 3, 1995, 1996)
    val pf = partitionFilterSql(normal)
    pf should contain("(year >= 1995)")
    pf should contain("(year <= 1996)")
    pf should contain("(month = 3)")
    pf.exists(_.contains("variable")) shouldBe true
    val got = rows(normal)
    got should have length 15
    got shouldBe withoutRules(rows(Raster.climatologyNormal(grid, "TMP", 3, 1995, 1996)))
  }

  test("the month slice reads one partition per variable") {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def rowsRead(df: DataFrame): Long = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
    }
    rowsRead(grid.where(col("time") === cursor)) shouldBe 2L * ni * nj
    withoutRules(rowsRead(grid.where(col("time") === cursor))) shouldBe
      2L * ni * nj * years.size * months.size
  }

  test("no derived conjunct when year/month are data columns") {
    val dir = Files.createTempDirectory("graft-mpp-flat").toString
    spark.read.parquet(gridDir).write.mode("overwrite").parquet(dir)
    val flat = spark.read.parquet(dir).where(col("time") === cursor)
    flat.schema.fieldNames should contain allOf ("year", "month")
    partitionFilterSql(flat) shouldBe empty
    derivedConjuncts(flat) shouldBe empty
    flat.count() shouldBe 2L * ni * nj
  }

  test("no derived conjunct when time is a session-zoned timestamp") {
    val dir = Files.createTempDirectory("graft-mpp-ltz").resolve("g").toString
    spark.read.parquet(gridDir).withColumn("time", col("time").cast("timestamp"))
      .write.partitionBy("variable", "year", "month").parquet(dir)
    val ltz = spark.read.parquet(dir)
    ltz.schema("time").dataType shouldBe org.apache.spark.sql.types.TimestampType
    val slice = ltz.where(col("time") === lit("1996-03-01 00:00:00").cast("timestamp") &&
      year(col("time")) === 1996 && month(col("time")) === 3)
    partitionFilterSql(slice) shouldBe empty
    derivedConjuncts(slice) shouldBe empty
    slice.count() shouldBe 2L * ni * nj
  }

  /** Comparisons over the bare `year`/`month` columns in the optimized plan. */
  private def derivedConjuncts(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .flatMap(_.collect {
        case b: BinaryComparison if b.children.exists {
          case a: Attribute => a.name == "year" || a.name == "month"
          case _ => false
        } => b
      })
}
