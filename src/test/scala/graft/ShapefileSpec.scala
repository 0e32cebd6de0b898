package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.sources.Shapefile
import graft.functions.Geo

/** S10: real .shp parsing + multi-ring even-odd containment — the
  * reference's actual clip geometry (src/shp/africa.shp, consumed by
  * gdalwarp -cutline in src/file-conversions.js:174-195).
  */
class ShapefileSpec extends AnyFunSuite with Matchers {

  // vendored bytes — the spec (like the engine) needs no reference checkout
  private lazy val polys = Shapefile.readPolygonsFromBytes(graft.sources.AfricaShp.bytes)
  private lazy val rings = graft.sources.AfricaShp.rings

  test("vendored bytes are byte-identical to the reference .shp when present") {
    val ref = java.nio.file.Paths.get("/root/reference/src/shp/africa.shp")
    if (java.nio.file.Files.exists(ref)) {
      java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(ref), graft.sources.AfricaShp.bytes) shouldBe true
    }
  }

  test("africa.shp parses: single polygon record, 55 rings, 7124 points") {
    polys.length shouldBe 1
    val p = polys.head
    p.rings.length shouldBe 55
    p.rings.map(_.length).sum shouldBe 7124
    // header AOI bbox (era5monthly.js:34 area [N 37, W -21.36, S -39.34, E 65.49])
    p.box._1 should be >= -26.0 // xmin west of mainland (Cape Verde not in AOI)
    p.box._3 should be <= 66.0
  }

  test("every ring is closed (first vertex == last vertex)") {
    polys.head.rings.foreach { r =>
      r.length should be >= 4
      r.head shouldBe r.last
    }
  }

  test("containment on real-world geography (concave coastline, islands, sea)") {
    Geo.containsMulti(rings)(20.0, 5.0) shouldBe true    // central Africa
    Geo.containsMulti(rings)(10.0, 22.0) shouldBe true   // Sahara interior
    Geo.containsMulti(rings)(31.2, 30.0) shouldBe true   // Nile delta
    Geo.containsMulti(rings)(47.0, -19.0) shouldBe true  // Madagascar (island ring)
    Geo.containsMulti(rings)(0.0, 0.0) shouldBe false    // Gulf of Guinea (concave notch)
    Geo.containsMulti(rings)(-15.0, -20.0) shouldBe false // south Atlantic
    Geo.containsMulti(rings)(60.0, -25.0) shouldBe false  // Indian Ocean
  }

  test("even-odd: a point inside a hole ring is outside the polygon") {
    val outer: Geo.Ring = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole: Geo.Ring = Array((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0))
    Geo.containsMulti(Seq(outer, hole))(5.0, 5.0) shouldBe false // in the hole
    Geo.containsMulti(Seq(outer, hole))(2.0, 2.0) shouldBe true  // in the solid part
    Geo.containsMulti(Seq(outer, hole))(11.0, 5.0) shouldBe false // outside everything
  }

  test("concave single ring: point in the notch is outside") {
    // C-shape opening to the right
    val c: Geo.Ring = Array(
      (0.0, 0.0), (8.0, 0.0), (8.0, 2.0), (2.0, 2.0), (2.0, 6.0),
      (8.0, 6.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0))
    Geo.containsMulti(Seq(c))(5.0, 4.0) shouldBe false // inside the notch
    Geo.containsMulti(Seq(c))(1.0, 4.0) shouldBe true  // in the spine
    Geo.containsMulti(Seq(c))(5.0, 1.0) shouldBe true  // in the lower arm
  }

  test("codegen'd st_contains agrees with the UDF ray cast on 10k random points") {
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random points over the AOI bbox
    val pts = spark.range(0, 10000).select(
      (pmod(xxhash64($"id"), lit(100000)) / 100000.0 * 86.85 - 21.36).as("lon"),
      (pmod(xxhash64($"id" + 1), lit(100000)) / 100000.0 * 76.34 - 39.34).as("lat"))
    val ringSeq = rings.toSeq
    val native = graft.functions.GeoContains(ringSeq)($"lon", $"lat")
    val viaUdf = graft.functions.Geo.containsMultiUdf(ringSeq)($"lon", $"lat")
    pts.where(native =!= viaUdf).count() shouldBe 0L
    // and the native path actually selects a nontrivial subset
    val n = pts.where(native).count()
    n should (be > 1000L and be < 9000L)
  }

  test("st_contains keeps the filter inside WholeStageCodegen (no ScalaUDF stage break)") {
    val spark = TestSession.spark
    import spark.implicits._
    val pts = spark.range(0, 10).selectExpr("cast(id as double) as lon", "cast(id as double) as lat")
    val plan = pts.where(graft.functions.GeoContains(Seq(
      Array((0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0), (0.0, 0.0)): graft.functions.Geo.Ring
    ))($"lon", $"lat")).queryExecution.executedPlan.toString
    // "*(n) Filter" is the WholeStageCodegen stage marker; a UDF filter
    // would print as an un-starred Filter over a ScalaUDF
    plan should include regex """\*\(\d+\) Filter .*geocontains"""
    plan should not include "ScalaUDF"
  }

  test("GeoBboxPushdown: the polygon's bbox reaches the parquet scan as pushed filters") {
    val spark = TestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bboxpush").toString
    spark.range(0, 1000).select(
      (($"id" % 40) - 20.0).as("lon"), (($"id" % 30) - 15.0).as("lat"),
      $"id".as("v")).write.mode("overwrite").parquet(dir)
    val ring: Geo.Ring = Array((-3.0, -2.0), (4.0, -2.0), (4.0, 5.0), (-3.0, 5.0), (-3.0, -2.0))
    val df = spark.read.parquet(dir)
      .where(graft.functions.GeoContains(Seq(ring))($"lon", $"lat"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    formatted should include("PushedFilters")
    formatted should include regex """GreaterThanOrEqual\(lon,-3\.0\)"""
    formatted should include regex """LessThanOrEqual\(lat,5\.0\)"""
    // semantics unchanged: same rows as the UDF without the rule's help
    val want = spark.read.parquet(dir)
      .where(Geo.containsUdf(ring)($"lon", $"lat"))
    df.count() shouldBe want.count()
    df.except(want).count() shouldBe 0
  }

  test("GeoBboxPushdown is idempotent (fixpoint-safe): conjunct added once") {
    val spark = TestSession.spark
    import spark.implicits._
    val ring: Geo.Ring = Array((0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0), (0.0, 0.0))
    val df = spark.range(0, 10)
      .selectExpr("cast(id as double) as lon", "cast(id % 7 as double) as lat")
      .where(graft.functions.GeoContains(Seq(ring))($"lon", $"lat"))
    val optimized = df.queryExecution.optimizedPlan.toString
    // exactly one bbox conjunct per (expression, bound), not one per
    // optimizer iteration (the attribute may be rewritten through the
    // project, so match the bound literal, which only the rule introduces)
    ">= 0.0".r.findAllIn(optimized).length shouldBe 2 // one for lon, one for lat
    "<= 5.0".r.findAllIn(optimized).length shouldBe 2
  }

  test("GeoBboxPushdown orders the ray cast after every other conjunct; a second pass is a no-op") {
    val spark = TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.PredicateHelper
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import graft.functions.{GeoBboxPushdown, GeoContains}
    object Split extends PredicateHelper {
      def apply(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        splitConjunctivePredicates(e)
    }
    val ring: Geo.Ring = Array((0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0), (0.0, 0.0))
    // the cheap test arrives after the containment, as a month slice over
    // a clipped grid does
    val df = spark.range(0, 10)
      .selectExpr("cast(id as double) as lon", "cast(id % 7 as double) as lat", "id")
      .where(GeoContains(Seq(ring))($"lon", $"lat"))
      .where($"id" =!= 3L)
    val optimized = df.queryExecution.optimizedPlan
    val conds = optimized.collect { case f: Filter => f.condition }
    conds should have length 1
    val conjuncts = Split(conds.head)
    val isGeo = conjuncts.map(_.exists(_.isInstanceOf[GeoContains]))
    isGeo.count(identity) shouldBe 1
    isGeo.last shouldBe true
    // the 4 bbox bounds and the id test precede the ray cast
    conjuncts.length should be >= 6
    // the rule leaves its own output alone, and so does a whole second
    // optimizer pass
    (GeoBboxPushdown(optimized) eq optimized) shouldBe true
    val again = spark.sessionState.optimizer.execute(optimized)
    again.collect { case f: Filter => Split(f.condition).map(_.sql) } shouldBe
      Seq(conjuncts.map(_.sql))
    // semantics unchanged
    val want = spark.range(0, 10)
      .selectExpr("cast(id as double) as lon", "cast(id % 7 as double) as lat", "id")
      .where(Geo.containsUdf(ring)($"lon", $"lat") && $"id" =!= 3L)
    df.collect().map(_.getLong(2)).sorted shouldBe want.collect().map(_.getLong(2)).sorted
  }

  test("parser round-trips a synthesized multi-part .shp byte-for-byte") {
    // build a spec-conformant two-record file: one 2-ring polygon (outer +
    // hole), one single-ring polygon — exercises offsets, part arrays, and
    // the BE/LE boundary without relying on the fixture file
    import java.nio.{ByteBuffer, ByteOrder}
    val rings1: Array[Geo.Ring] = Array(
      Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)),
      Array((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)))
    val rings2: Array[Geo.Ring] = Array(
      Array((20.0, 20.0), (25.0, 20.0), (25.0, 25.0), (20.0, 25.0), (20.0, 20.0)))

    def record(num: Int, rings: Array[Geo.Ring]): Array[Byte] = {
      val points = rings.flatten
      val content = 4 + 32 + 4 + 4 + 4 * rings.length + 16 * points.length
      val buf = ByteBuffer.allocate(8 + content)
      buf.order(ByteOrder.BIG_ENDIAN).putInt(num).putInt(content / 2)
      buf.order(ByteOrder.LITTLE_ENDIAN).putInt(5)
      val xs = points.map(_._1); val ys = points.map(_._2)
      buf.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
      buf.putInt(rings.length).putInt(points.length)
      rings.scanLeft(0)(_ + _.length).dropRight(1).foreach(buf.putInt)
      points.foreach { case (x, y) => buf.putDouble(x).putDouble(y) }
      buf.array()
    }

    val recs = record(1, rings1) ++ record(2, rings2)
    val fileLen = 100 + recs.length
    val header = ByteBuffer.allocate(100)
    header.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, fileLen / 2)
    header.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
    val path = java.nio.file.Files.createTempFile("graft-synth", ".shp")
    java.nio.file.Files.write(path, header.array() ++ recs)

    val polys = Shapefile.readPolygons(path.toString)
    polys.length shouldBe 2
    polys(0).rings.map(_.toSeq).toSeq shouldBe rings1.map(_.toSeq).toSeq
    polys(1).rings.map(_.toSeq).toSeq shouldBe rings2.map(_.toSeq).toSeq
    // and the hole semantics carry through containment
    val all = Shapefile.readRings(path.toString)
    Geo.containsMulti(all)(5.0, 5.0) shouldBe false // hole
    Geo.containsMulti(all)(2.0, 2.0) shouldBe true
    Geo.containsMulti(all)(22.0, 22.0) shouldBe true // second record
  }

  test("disjoint island rings: inside either island is inside") {
    val a: Geo.Ring = Array((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0))
    val b: Geo.Ring = Array((5.0, 5.0), (7.0, 5.0), (7.0, 7.0), (5.0, 7.0), (5.0, 5.0))
    Geo.containsMulti(Seq(a, b))(1.0, 1.0) shouldBe true
    Geo.containsMulti(Seq(a, b))(6.0, 6.0) shouldBe true
    Geo.containsMulti(Seq(a, b))(3.5, 3.5) shouldBe false
  }
}
