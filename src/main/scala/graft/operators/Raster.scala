package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Geo
import graft.implicits._

/** Raster-domain operators over the long-format grid table
  * `(variable, time, lat, lon, value)` (SURVEY.md §1.1) — the Spark-native
  * re-expression of the reference's per-file GRIB/GeoTIFF kernels.
  *
  * Layout contract: the grid is partitioned `variable/year/month` on disk
  * ([[withMonthKeys]]), so the monthly-cursor access pattern (reference
  * src/sources/era5monthly.js:37-41) prunes to exactly one partition per
  * variable, and climatology scans prune to 30 partitions per calendar
  * month: [[graft.functions.MonthPartitionPruning]] turns their `time`
  * predicates into partition filters.
  */
object Raster {

  /** Deterministic demo grid derived from the `lineitem` fixture (TESTDATA.md
    * forbids synthesizing independent inputs): variable = returnflag,
    * time = ship month, a 20×30 (lat,lon) cell from the part/supplier keys,
    * value = mean quantity per cell. Quantities are integer-valued, so the
    * per-cell mean is an exact double in any summation order — bit-identical
    * between Spark and the DuckDB oracle.
    */
  def demoGrid(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(gridKeyCols: _*).agg(avg($"l_quantity").as("value"))

  /** Integer-valued twin of [[demoGrid]] (per-cell SUM of quantities):
    * every value is a whole number, so downstream means over it are exact
    * doubles in any aggregation order — the r11 regrid gate feeds on this
    * so its block means hash-compare bit-for-bit (the s04 lesson: means
    * of non-integer doubles are summation-order dependent).
    */
  def demoGridSum(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(gridKeyCols: _*)
      .agg(sum($"l_quantity").cast("double").as("value"))

  /** The ONE cell-key derivation both grid twins (and their SQL mirrors
    * below) share — a key change (modulus, truncation) lands everywhere
    * or nowhere.
    */
  private def gridKeyCols: Seq[org.apache.spark.sql.Column] = Seq(
    $"l_returnflag".as("variable"),
    date_trunc("month", $"l_shipdate").cast("timestamp_ntz").as("time"),
    ($"l_partkey" % 20 - 10).cast("double").as("lat"),
    ($"l_suppkey" % 30 - 15).cast("double").as("lon"))

  private val gridKeySql: String =
    """l_returnflag AS variable,
      |         date_trunc('month', l_shipdate) AS time,
      |         CAST(l_partkey % 20 - 10 AS DOUBLE) AS lat,
      |         CAST(l_suppkey % 30 - 15 AS DOUBLE) AS lon""".stripMargin

  /** The DuckDB mirror of [[demoGrid]], shared by every raster oracle. */
  val demoGridSql: String =
    s"""grid AS (
      |  SELECT $gridKeySql,
      |         avg(l_quantity) AS value
      |  FROM lineitem GROUP BY 1, 2, 3, 4)""".stripMargin

  /** The DuckDB mirror of [[demoGridSum]]. */
  val demoGridSumSql: String =
    s"""gridsum AS (
      |  SELECT $gridKeySql,
      |         CAST(sum(l_quantity) AS DOUBLE) AS value
      |  FROM lineitem GROUP BY 1, 2, 3, 4)""".stripMargin

  /** DENSE twin of [[demoGridSum]]: the per-month slices of the demo grid
    * are sparse at the gate SFs (no full 5×5 window exists at sf0.01, so
    * the r38/r41 stencil gates passed VACUOUSLY with 0 rows — round-9
    * verdict #2); collapsing `time` to a constant epoch folds every month
    * into one 20×30 lattice per variable, which is fully populated from
    * sf0.001 up (96 full 5×5 windows at sf0.001, 416 at sf0.01). Same
    * schema as the sparse twin — a constant timestamp keeps every grid
    * operator reusable unchanged — and still exact: integer quantity sums
    * are order-independent doubles.
    */
  def demoGridDense(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(
        $"l_returnflag".as("variable"),
        lit("1992-01-01 00:00:00").cast("timestamp_ntz").as("time"),
        ($"l_partkey" % 20 - 10).cast("double").as("lat"),
        ($"l_suppkey" % 30 - 15).cast("double").as("lon"))
      .agg(sum($"l_quantity").cast("double").as("value"))

  /** The DuckDB mirror of [[demoGridDense]]. */
  val demoGridDenseSql: String =
    """griddense AS (
      |  SELECT l_returnflag AS variable,
      |         TIMESTAMP '1992-01-01 00:00:00' AS time,
      |         CAST(l_partkey % 20 - 10 AS DOUBLE) AS lat,
      |         CAST(l_suppkey % 30 - 15 AS DOUBLE) AS lon,
      |         CAST(sum(l_quantity) AS DOUBLE) AS value
      |  FROM lineitem GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Focal (moving-window) mean (r32) — the 3×3 neighborhood smoother
    * every raster toolbox ships (GRASS r.neighbors, ArcGIS Focal
    * Statistics; the reference's cdo/gdal stack exposes it as
    * `smooth9`): each cell's output is the mean of the up-to-9 cells
    * in its unit-lattice neighborhood, with edge cells averaging only
    * their existing neighbors (`n_nbrs` is the audit, the r11
    * discipline). Missing interior cells simply don't contribute —
    * count-based normalization, not a fixed /9.
    *
    * Relational shape (the 100 TB point): a windowed 2-D stencil can't
    * ride Spark's 1-D sort windows, so each cell EXPLODES to the 9
    * target positions it contributes to (a ×9 map-side multiply,
    * columnar and codegen'd) and ONE cell-keyed partial-aggregating
    * shuffle folds each target's neighborhood; the semi-join back to
    * the grid trims the one-cell halo and reuses the same hash
    * partitioning. Never a self-join per offset (8 shuffles), never a
    * collect. Values are integer-valued doubles, so sums are exact and
    * the single division is bit-identical cross-engine.
    */
  def focalMean(grid: DataFrame): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    // round-14 (guide §2.4): the center marker rides the same explode,
    // so cell-presence is a conditional aggregate instead of the old
    // semi-join back to the grid — one exchange total, and the grid
    // derivation itself is computed once, not once per consumer
    val contrib = grid
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .select($"variable", $"time",
        ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"), $"value",
        ($"dy" === 0 && $"dx" === 0).as("ctr"))
    contrib.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_nbrs"), sum($"value").as("s"),
        max(when($"ctr", lit(1))).as("present"))
      .where($"present".isNotNull)
      .select($"variable", $"time", $"lat", $"lon", $"n_nbrs",
        round($"s" / $"n_nbrs", 4).as("focal_mean"))
      .orderBy(keys: _*)
  }

  /** Horn 3×3 gradient (r33) — the weighted-stencil kernel of `gdaldem
    * slope`/`aspect`/`hillshade` (Horn 1981), the step every DEM
    * pipeline runs after ingest; the reference reaches the same family
    * through gdaldem on its exported GeoTIFFs. Differs from [[focalMean]]
    * (uniform weights) in carrying a per-offset WEIGHT, and from
    * [[gradient]] (1-D irregular forward differences per axis) in being
    * the standard 2-D 8-neighbor convolution:
    *
    *   gx = Σ_ry (2−|ry|)·z[lat+ry, lon+1] − Σ_ry (2−|ry|)·z[lat+ry, lon−1]
    *   gy = Σ_rx (2−|rx|)·z[lat+1, lon+rx] − Σ_rx (2−|rx|)·z[lat−1, lon+rx]
    *
    * Exactness: on the integer-valued grid twin gx/gy/slope_sq are pure
    * BIGINT arithmetic — `slope_sq = gx² + gy²` is the un-normalized
    * squared slope magnitude and `quadrant` the r21 integer aspect
    * (atan2/sqrt hillshade shading is non-portable transcendental
    * territory and stays out by design; sqrt alone is portable but the
    * 8·cellsize normalization divides exactness away). Only cells with
    * the FULL 9-cell window emit (`HAVING count = 9`) — Horn is
    * undefined on edge cells, and emitting a partial-window guess would
    * invent terrain.
    *
    * Scale shape: identical to [[focalMean]] — explode-to-9 with the
    * weight pair riding each contribution (source at relative offset
    * (−dy, −dx) of its target, hence the negated weights), ONE
    * cell-keyed partial-aggregating shuffle, no per-offset self-joins.
    */
  def hornGradient(grid: DataFrame): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    val contrib = grid
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .select($"variable", $"time",
        ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"),
        (-$"dx" * (lit(2) - abs($"dy"))).cast("long").as("wx"),
        (-$"dy" * (lit(2) - abs($"dx"))).cast("long").as("wy"),
        $"value".cast("long").as("v"))
    contrib.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_nbrs"),
        sum($"wx" * $"v").as("gx"), sum($"wy" * $"v").as("gy"))
      .where($"n_nbrs" === 9)
      .select($"variable", $"time", $"lat", $"lon", $"gx", $"gy",
        ($"gx" * $"gx" + $"gy" * $"gy").as("slope_sq"),
        when($"gx" >= 0 && $"gy" >= 0, 1L).when($"gx" < 0 && $"gy" >= 0, 2L)
          .when($"gx" < 0, 3L).otherwise(4L).as("quadrant"))
      .orderBy(keys: _*)
  }

  /** R37: terrain ruggedness battery — the remaining three `gdaldem`
    * single-window products (TRI, TPI, roughness; Riley et al. 1999,
    * Wilson & Gallant 2000) the reference family reaches through
    * gdaldem on its exported GeoTIFFs, in ONE pass over the same
    * explode-to-9 contribution relation as [[hornGradient]]:
    *
    *   - `tri_sq`   = Σ_{n∈8-nbrs} (z_n − z_c)²   (TRI, squared form —
    *     the sqrt is presentation, the sum is the signal)
    *   - `tpi_num`  = 9·z_c − Σ_{9-window} z      (TPI numerator ×8:
    *     z_c − mean(8 nbrs) = (9·z_c − Σ_window)/8, kept integral)
    *   - `roughness` = max − min over the 3×3 window
    *
    * The algebra that keeps it one aggregate: Σ(z_n − z_c)² over the 8
    * neighbours equals Σ_{window}(z − z_c)² (the center term is 0) =
    * ssq − 2·z_c·s + 9·z_c², so per-target SUM/SUM-of-squares/MIN/MAX
    * plus the flagged center value suffice — no second join to fetch
    * z_c. All BIGINT on the integer-valued grid twin; full-window
    * cells only (Horn's discipline — a partial-window TRI would invent
    * terrain).
    *
    * Scale shape: identical to [[focalMean]]/[[hornGradient]] — a ×9
    * codegen'd map-side multiply and ONE cell-keyed partial-aggregating
    * shuffle; never per-offset self-joins, never a collect.
    */
  def ruggedness(grid: DataFrame): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    val contrib = grid
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .select($"variable", $"time",
        ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"),
        $"value".cast("long").as("v"),
        ($"dy" === 0 && $"dx" === 0).as("ctr"))
    contrib.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_nbrs"), sum($"v").as("s"),
        sum($"v" * $"v").as("ssq"), min($"v").as("vmin"),
        max($"v").as("vmax"), max(when($"ctr", $"v")).as("c"))
      .where($"n_nbrs" === 9)
      .select($"variable", $"time", $"lat", $"lon", $"c".as("center"),
        ($"ssq" - lit(2L) * $"c" * $"s" + lit(9L) * $"c" * $"c").as("tri_sq"),
        (lit(9L) * $"c" - $"s").as("tpi_num"),
        ($"vmax" - $"vmin").as("roughness"))
      .orderBy(keys: _*)
  }

  /** R38: landform classification by two-scale TPI (Weiss 2001 — the
    * ridge/valley/slope taxonomy terrain pipelines derive right after
    * [[ruggedness]]): TPI at the 3×3 scale (numerator ×8, from r37's
    * identity) and at the 5×5 scale (24-neighbour form, ×24), both
    * pure BIGINT, compared against the threshold WITHOUT ever
    * dividing — `u3 = 3·tpi3` puts both numerators on the ×24 scale,
    * so class boundaries are integer comparisons (integral division
    * of signed numerators is a cross-engine floor/truncate trap and
    * stays out). Classes: ridge (both above +T), valley (both below
    * −T), upper_slope (local high on a broad slope), lower_slope
    * (local low on a broad slope), flat_slope otherwise. Only cells
    * with the FULL 5×5 window emit (which implies the full 3×3).
    *
    * Scale shape (round-14, guide §2.4): ONE explode-to-25 stencil fold
    * computing BOTH scales — the 3×3 sums are conditional aggregates
    * over the |dy|≤1 ∧ |dx|≤1 contributions of the same ×25 explode, and
    * a full 5×5 window implies the full 3×3, so the old second fold and
    * the cell-keyed join between the two disappear. Never per-offset
    * self-joins.
    */
  def landforms(grid: DataFrame, threshold: Long = 5L): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    val inner = abs($"dy") <= 1 && abs($"dx") <= 1
    val folded = grid
      .withColumn("dy", explode(sequence(lit(-2), lit(2))))
      .withColumn("dx", explode(sequence(lit(-2), lit(2))))
      .select($"variable", $"time",
        ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"),
        $"value".cast("long").as("v"),
        ($"dy" === 0 && $"dx" === 0).as("ctr"), inner.as("inner"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum($"v").as("s5"),
        sum(when($"inner", $"v")).as("s3"),
        max(when($"ctr", $"v")).as("c"))
      .where($"n" === 25)
      .select($"variable", $"time", $"lat", $"lon",
        (lit(9L) * $"c" - $"s3").as("tpi1"),
        (lit(25L) * $"c" - $"s5").as("tpi2"))
    val t24 = threshold * 24
    folded
      .select($"variable", $"time", $"lat", $"lon",
        $"tpi1".as("tpi3_num"), $"tpi2".as("tpi5_num"),
        (lit(3L) * $"tpi1").as("u3"), $"tpi2".as("u5"))
      .withColumn("landform",
        when($"u3" > t24 && $"u5" > t24, "ridge")
          .when($"u3" < -t24 && $"u5" < -t24, "valley")
          .when($"u3" > t24, "upper_slope")
          .when($"u3" < -t24, "lower_slope")
          .otherwise("flat_slope"))
      .select($"variable", $"time", $"lat", $"lon", $"tpi3_num",
        $"tpi5_num", $"landform")
      .orderBy(keys: _*)
  }

  /** R39: depression filling by the Planchon–Darboux iteration (2001)
    * — the DEM-conditioning step hydrology runs BEFORE [[flowDirection]]
    * (pits break D8 routing; r34 emits code 0 at them — this is the
    * operator that removes them): water level W starts at the terrain
    * on BOUNDARY cells and at a sentinel ceiling inside, and each round
    * relaxes `W(c) ← max(z(c), min over 8 nbrs of W)` — monotone
    * decreasing from the ceiling, anchored at the boundary, fixpoint =
    * the filled DEM. `rounds` is the g10/r35 bounded-iteration
    * discipline: the oracle unrolls exactly the same count (water
    * propagates ≥ one ring inward per round; the demo grid's interior
    * depth is 9, so the default 10 converges there — deeper terrain
    * at the same cadence is a parameter, not a new operator).
    *
    * Scale shape (round-14 restructure, optimization guide §2.4):
    * per round ONE explode-to-9 stencil fold — the CENTER contribution
    * rides the same explode (conditional per-field aggregate slots), so
    * the relaxation is a single cell-keyed aggregation with NO join
    * back (was: explode-to-8 fold + left equi-join = 2 exchanges +
    * join per round; now 1 exchange per round). Rounds are a linear
    * chain (round N consumes only round N−1), so barriers drop to
    * every 4th round ([[graft.Iterate.Cadence.EveryFourth]]) — shuffle
    * outputs cover intra-job retry between barriers.
    */
  def fillSinks(grid: DataFrame, rounds: Int = 10,
                ceiling: Long = 1000000000L): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    // one stencil pass classifies cells: z from the center contribution
    // (null marks a phantom target outside the grid — dropped), interior
    // = all 9 of the 3x3 window present (boundary cells anchor W = z)
    val base = grid
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .select($"variable", $"time",
        ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"),
        when($"dy" === 0 && $"dx" === 0, $"value".cast("long")).as("cz"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), max($"cz").as("z"))
      .where($"z".isNotNull)
      .select($"variable", $"time", $"lat", $"lon", $"z", ($"n" === 9).as("interior"))
    val start = base.select($"variable", $"time", $"lat",
      $"lon", $"z", $"interior",
      when($"interior", lit(ceiling)).otherwise($"z").as("w"))
    // primitive per-field aggregate slots (center z/interior/w by
    // conditional max, neighbour min) keep the fold a codegen'd
    // HashAggregate — the earlier struct-valued max buffer forced
    // SortAggregate, i.e. a full extra sort of the ×9 exploded
    // relation every round
    val w = graft.Iterate.fixed(rounds, start, graft.Iterate.Cadence.EveryFourth) { w =>
      w
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .select($"variable", $"time",
          ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"),
          ($"dy" === 0 && $"dx" === 0).as("ctr"), $"z", $"interior", $"w")
        .groupBy(keys: _*)
        .agg(max(when($"ctr", $"z")).as("z"),
          max(when($"ctr", $"interior")).as("interior"),
          max(when($"ctr", $"w")).as("sw"),
          min(when(!$"ctr", $"w")).as("nbr_min"))
        .where($"z".isNotNull)
        .select($"variable", $"time", $"lat", $"lon", $"z", $"interior",
          when($"interior",
            greatest($"z", least($"sw", $"nbr_min")))
            .otherwise($"z").as("w"))
    }
    w.select($"variable", $"time", $"lat", $"lon", $"z", $"w",
        ($"w" - $"z").as("fill"))
      .orderBy(keys: _*)
  }

  /** R40: Strahler stream order (Strahler 1957) over the D8 flow
    * forest — the stream-network classification hydrology runs after
    * [[flowAccumulation]] (order 1 = headwaters; order rises only
    * where two equal-order streams CONFLUENCE): each cell's order is 1
    * with no inflows, m when exactly one inflow attains the max m, and
    * m+1 when two or more do. Computed by `rounds` fixpoint sweeps from
    * the all-ones field (order stabilizes in ≤ flow-forest-depth
    * rounds — the r35/g10 bounded-iteration discipline, oracle unroll
    * shared); edges keep only in-forest targets (cells draining
    * off-grid are terminals).
    *
    * Scale shape (round-14 restructure, optimization guide §2.4): the
    * r34 pass barriered once into a state that CARRIES its own flow
    * target, so a round needs NO join at all — each cell unions an
    * order-message to its target with one presence row for itself, and
    * ONE cell-keyed fold (collect_list bounded at 8: a D8 cell has at
    * most 8 inflow neighbours) computes the max inflow order, its
    * attain count and the confluence bump row-locally. Was: inflow
    * equi-join + (cell, ord) fold + argmax fold + left join back +
    * barrier per round (~5 exchanges); now 1 exchange per round,
    * barriered every 4th round (linear chain).
    */
  def strahlerOrder(grid: DataFrame, rounds: Int = 8): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    val fd = flowDirectionCore(grid)
    val latOff = when($"flow_code".isin(1L, 16L), 0L)
      .when($"flow_code".isin(2L, 4L, 8L), -1L).otherwise(1L)
    val lonOff = when($"flow_code".isin(4L, 64L), 0L)
      .when($"flow_code".isin(8L, 16L, 32L), -1L).otherwise(1L)
    // state = cell + its flow target (null at pits/flats; a target off
    // the grid simply has no self row at the fold, so its messages drop
    // there — same semantics as the old left_semi in-grid edge check,
    // without the build-time join)
    val start = fd.select($"variable", $"time", $"lat", $"lon",
      when($"flow_code" > 0, $"lat" + latOff).as("tlat"),
      when($"flow_code" > 0, $"lon" + lonOff).as("tlon"),
      lit(1L).as("ord"))
    // typed null twins so the two explode branches line up whatever the
    // grid's coord type is
    val nullSelf = when(lit(false), struct($"tlat", $"tlon"))
    val nullOrd = lit(null).cast("long")
    // ONE scan of the state emits both the presence row and the
    // order-message row (a 2-way explode, not a union of two
    // projections — the union form consumes the state twice per round,
    // which doubles the unbarriered plan per round)
    val ord = graft.Iterate.fixed(rounds, start, graft.Iterate.Cadence.EveryFourth) { ord =>
      ord
        .select($"variable", $"time", explode(array(
            struct($"lat".as("lat"), $"lon".as("lon"), nullOrd.as("mord"),
              struct($"tlat", $"tlon").as("self")),
            struct($"tlat".as("lat"), $"tlon".as("lon"), $"ord".as("mord"),
              nullSelf.as("self")))).as("m"))
        .where($"m.lat".isNotNull)
        .select($"variable", $"time", $"m.lat".as("lat"), $"m.lon".as("lon"),
          $"m.mord".as("mord"), $"m.self".as("self"))
        .groupBy(keys: _*)
        .agg(collect_list($"mord").as("inflows"), max($"self").as("self"))
        .where($"self".isNotNull)
        .select($"variable", $"time", $"lat", $"lon",
          $"self.tlat".as("tlat"), $"self.tlon".as("tlon"),
          when(size($"inflows") === 0, 1L)
            .otherwise(
              when(size(filter($"inflows",
                x => x === array_max($"inflows"))) >= 2,
                array_max($"inflows") + 1L)
                .otherwise(array_max($"inflows"))).as("ord"))
    }
    ord.select($"variable", $"time", $"lat", $"lon", $"ord".as("strahler"))
      .orderBy(keys: _*)
  }

  /** R41: zonal MODE — the majority vote that turns [[landforms]]'
    * per-cell classes into the per-region summary a map legend shows
    * (ArcGIS Zonal Statistics MAJORITY; r31's zonal stats cover the
    * numeric moments, this covers the categorical column): zones are
    * 5°-lat bands, the mode per (variable, zone) with ties broken to
    * the lexicographically smallest class. Composes [[landforms]]
    * verbatim — one classification kernel, two gates.
    *
    * Scale shape: the r38 pass, a (variable, zone, class) fold
    * (bounded by zones × classes), and a metadata-sized argmax window.
    */
  def zonalMode(grid: DataFrame): DataFrame = {
    val lf = landforms(grid)
      .select($"variable", floor($"lat" / 5).cast("long").as("zone"),
        $"landform")
    val counts = lf.groupBy($"variable", $"zone", $"landform")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"variable", $"zone")
      .orderBy($"n".desc, $"landform".asc)
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n_cells",
        sum($"n").over(Window.partitionBy($"variable", $"zone")))
      .where($"rn" === 1)
      .select($"variable", $"zone", $"landform".as("mode_landform"),
        $"n".as("mode_count"), $"n_cells")
      .orderBy($"variable", $"zone")
  }

  /** R34: D8 flow direction (O'Callaghan & Mark 1984; `gdaldem`/
    * ArcGIS FlowDirection, the hydrology kernel every DEM pipeline
    * runs before watershed delineation): each full-window cell routes
    * to the steepest-DESCENT neighbour among its 8, with the diagonal
    * distance handled EXACTLY by cross-multiplied comparison —
    * `drop_s > drop_d/√2  ⟺  2·drop_s² > drop_d²` for positive drops —
    * so the argmax is pure BIGINT (no sqrt, no doubles). Codes are the
    * ESRI powers of two (E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128);
    * ties break to the smallest code; cells with no descending
    * neighbour (pits/flats) emit code 0 — the honest sink answer.
    *
    * Scale shape: [[hornGradient]]'s — explode-to-9 with the D8 code
    * riding each contribution, ONE cell-keyed fold collecting the ≤8
    * neighbour structs (map-side partial), then a row-local fold over
    * that 8-element array picks the argmax. No per-offset self-joins,
    * no second shuffle.
    */
  def flowDirection(grid: DataFrame): DataFrame =
    flowDirectionCore(grid).orderBy($"variable", $"time", $"lat", $"lon")

  /** [[flowDirection]] without the presentation sort — the form the
    * downstream hydrology operators (r35/r36/r40) consume: they join or
    * fold on cell keys immediately, so the global range-sort exchange
    * the r34 gate needs for its own output order would be pure waste in
    * their pipelines (optimization guide §2.4: an orderBy used only to
    * make OUTPUT deterministic does not belong in front of a consumer
    * that re-partitions anyway).
    */
  private[graft] def flowDirectionCore(grid: DataFrame): DataFrame = {
    val keys = Seq($"variable", $"time", $"lat", $"lon")
    // source at relative offset (−dy, −dx) of its target: code/weight
    // are functions of the NEGATED offsets, like hornGradient's weights
    val ody = -$"dy"; val odx = -$"dx"
    val code =
      when(ody === 0 && odx === 1, 1L).when(ody === -1 && odx === 1, 2L)
        .when(ody === -1 && odx === 0, 4L).when(ody === -1 && odx === -1, 8L)
        .when(ody === 0 && odx === -1, 16L).when(ody === 1 && odx === -1, 32L)
        .when(ody === 1 && odx === 0, 64L).when(ody === 1 && odx === 1, 128L)
        .otherwise(0L)
    val weight = when(abs($"dy") + abs($"dx") === 1, 2L).otherwise(1L)
    val contrib = grid
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .select($"variable", $"time",
        ($"lat" + $"dy").as("lat"), ($"lon" + $"dx").as("lon"),
        code.as("code"), weight.as("w"), $"value".cast("long").as("v"))
    val gathered = contrib.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_nbrs"),
        max(when($"code" === 0L, $"v")).as("own"),
        collect_list(when($"code" =!= 0L,
          struct($"code", $"w", $"v"))).as("nbrs"))
      .where($"n_nbrs" === 9)
    val init = struct(lit(-1L).as("key"), lit(0L).as("code"), lit(0L).as("drop"))
    val best = aggregate($"nbrs", init, (acc, x) => {
      val drop = $"own" - x.getField("v")
      val key = when(drop > 0, drop * drop * x.getField("w")).otherwise(lit(-1L))
      val better = (key > acc.getField("key")) ||
        (key === acc.getField("key") && key >= 0 &&
          x.getField("code") < acc.getField("code"))
      when(better && drop > 0,
        struct(key.as("key"), x.getField("code").as("code"), drop.as("drop")))
        .otherwise(acc)
    })
    gathered
      .withColumn("best", best)
      .withColumn("n_descents",
        size(filter($"nbrs", x => $"own" - x.getField("v") > 0)).cast("long"))
      .select($"variable", $"time", $"lat", $"lon",
        when($"best".getField("key") >= 0, $"best".getField("code"))
          .otherwise(0L).as("flow_code"),
        $"best".getField("drop").as("steepest_drop"),
        $"n_descents")
  }

  /** R35: D8 flow accumulation under a hop cap — how many cells drain
    * through each cell within ≤ `maxHops` steps (plus itself), the
    * second hydrology primitive (stream networks = high-accumulation
    * cells). Because [[flowDirection]] routes strictly DOWNHILL
    * (drop > 0), the flow graph is acyclic with out-degree ≤ 1 — an
    * in-forest — so every upstream cell contributes exactly one
    * arrival and the count needs no dedup. The hop cap is the g10
    * discipline: fixed rounds pinned to the oracle's recursion depth,
    * the honest bounded form (full accumulation = depth-of-terrain
    * rounds; a real DEM pipeline caps or runs to fixpoint the same
    * way).
    *
    * Scale shape: the r34 pass (barriered), then `maxHops − 1`
    * co-partitioned equi-joins of the walking frontier against the
    * edge list — each frontier row is four keys + two coords, and the
    * frontier can only shrink as paths exit the grid.
    */
  def flowAccumulation(grid: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, s"flowAccumulation: maxHops must be >= 1")
    val fd = graft.Session.barrier(flowDirectionCore(grid))
    val dyC = when($"flow_code" === 1L || $"flow_code" === 16L, 0L)
      .when($"flow_code" === 2L || $"flow_code" === 4L || $"flow_code" === 8L, -1L)
      .otherwise(1L)
    val dxC = when($"flow_code" === 4L || $"flow_code" === 64L, 0L)
      .when($"flow_code" === 8L || $"flow_code" === 16L || $"flow_code" === 32L, -1L)
      .otherwise(1L)
    // No in-grid semi-join on the targets (round-14, guide §2.4): a
    // walker stepping off the grid lands on a phantom position with no
    // outgoing edge (edge sources are real cells only), so it stops by
    // itself, and phantom arrival counts drop at the final left join
    // whose left side is the real cell set.
    val edges = fd.where($"flow_code" > 0)
      .select($"variable", $"time", $"lat".as("slat"), $"lon".as("slon"),
        ($"lat" + dyC).as("tlat"), ($"lon" + dxC).as("tlon"))
    // Walkers aggregated to (position, count) per hop instead of one row
    // per (origin, position) pair: the k-th state is grid-bounded and
    // each hop is ONE equi-join + ONE partial-aggregating fold. The hop
    // states feed both the next hop and the arrival union; the repeated
    // subtrees across union branches end in IDENTICAL exchanges, which
    // Spark's ReuseExchange collapses to one execution each — measured
    // cheaper here than a per-hop barrier (each eager checkpoint costs
    // ~0.5 s of job + write overhead at local[32]).
    var state = edges.groupBy($"variable", $"time",
        $"tlat".as("lat"), $"tlon".as("lon"))
      .agg(count(lit(1)).as("n"))
    var arrivals = state
    for (_ <- 2 to maxHops) {
      state = state.join(edges.select($"variable", $"time",
          $"slat".as("lat"), $"slon".as("lon"),
          $"tlat", $"tlon"),
        Seq("variable", "time", "lat", "lon"))
        .groupBy($"variable", $"time",
          $"tlat".as("lat"), $"tlon".as("lon"))
        .agg(sum($"n").as("n"))
      arrivals = arrivals.unionByName(state)
    }
    val nUp = arrivals
      .groupBy($"variable", $"time", $"lat", $"lon")
      .agg(sum($"n").as("n_up"))
    fd.join(nUp, Seq("variable", "time", "lat", "lon"), "left")
      .select($"variable", $"time", $"lat", $"lon", $"flow_code",
        (lit(1L) + coalesce($"n_up", lit(0L))).as("acc"))
      .orderBy($"variable", $"time", $"lat", $"lon")
  }

  /** R36: watershed basin labeling by POINTER JUMPING — every cell is
    * labeled with its position after 2^rounds downstream steps (terminals
    * absorb: parent(outlet) = outlet), so cells within 2^rounds hops of
    * their outlet carry the basin outlet itself (`at_outlet` true) and
    * deeper cells carry their 2^rounds-th ancestor — the honest bounded
    * answer. Pointer doubling is THE distributed pattern for path
    * contraction: rounds grow the reach exponentially (log(depth) joins,
    * not depth joins), which is what makes basin labeling viable on a
    * continent-sized DEM where a step-by-step walk would need thousands
    * of rounds.
    *
    * Scale shape: the r34 pass (barriered), one absorption left join,
    * then `rounds` self-joins of the (cell → pointer) relation, pinned
    * between barriers ([[graft.Iterate.pinned]]) — every row is four keys
    * + two coords, constant size per round.
    */
  def watershedBasins(grid: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "watershedBasins: 1 <= rounds <= 20")
    val fd = graft.Session.barrier(flowDirectionCore(grid))
    val dyC = when($"flow_code" === 1L || $"flow_code" === 16L, 0L)
      .when($"flow_code" === 2L || $"flow_code" === 4L || $"flow_code" === 8L, -1L)
      .otherwise(1L)
    val dxC = when($"flow_code" === 4L || $"flow_code" === 64L, 0L)
      .when($"flow_code" === 8L || $"flow_code" === 16L || $"flow_code" === 32L, -1L)
      .otherwise(1L)
    val cells = fd.select($"variable", $"time",
      $"lat".as("plat"), $"lon".as("plon"), lit(1).as("in_grid"))
    // pinned (round-14): parent0 seeds the pointer chain AND anchors the
    // final terminal lookup; each doubling state self-joins (consumed
    // twice). All of it runs as ONE sealed job over pinned states
    // instead of a checkpoint job per doubling.
    val parent0 = fd
      .select($"variable", $"time", $"lat", $"lon",
        when($"flow_code" > 0, $"lat" + dyC).otherwise($"lat").as("plat"),
        when($"flow_code" > 0, $"lon" + dxC).otherwise($"lon").as("plon"))
      .join(cells, Seq("variable", "time", "plat", "plon"), "left")
      .select($"variable", $"time", $"lat", $"lon",
        when($"in_grid".isNotNull, $"plat").otherwise($"lat").as("plat"),
        when($"in_grid".isNotNull, $"plon").otherwise($"lon").as("plon"))
    graft.Iterate.pinned(rounds, parent0) { ptr =>
      val hop = ptr.select($"variable", $"time",
        $"lat".as("plat"), $"lon".as("plon"),
        $"plat".as("gplat"), $"plon".as("gplon"))
      ptr.join(hop, Seq("variable", "time", "plat", "plon"))
        .select($"variable", $"time", $"lat", $"lon",
          $"gplat".as("plat"), $"gplon".as("plon"))
    } { ptr =>
      val term = parent0.select($"variable", $"time",
        ($"plat" === $"lat" && $"plon" === $"lon").as("is_term"),
        $"lat".as("plat"), $"lon".as("plon"))
      ptr.join(term, Seq("variable", "time", "plat", "plon"))
        .select($"variable", $"time", $"lat", $"lon",
          $"plat".as("basin_lat"), $"plon".as("basin_lon"),
          $"is_term".as("at_outlet"))
    }.orderBy($"variable", $"time", $"lat", $"lon")
  }

  /** R11: regrid — block-mean downsampling by per-axis factors (the `cdo
    * remapcon` / `gdalwarp -tr` coarsening every reanalysis pipeline runs
    * when serving lower resolutions): each fine cell belongs to the
    * coarse cell anchored at `floor(coord/factor)·factor`; the coarse
    * value is the mean of its covered fine cells, `n_cells` the coverage
    * audit (a partial coarse cell at the grid edge averages fewer cells —
    * visible, not hidden). One shuffle on the coarse key; the key
    * inherits (variable, time), so at 100 TB the aggregation stays
    * within-layer and partial (map-side) combine collapses each coarse
    * block before the exchange. Anchor arithmetic is floor on exact small
    * doubles — identical in any engine.
    */
  def regrid(grid: DataFrame, latFactor: Double, lonFactor: Double): DataFrame =
    grid.groupBy($"variable", $"time",
        (floor($"lat" / latFactor) * latFactor).as("lat"),
        (floor($"lon" / lonFactor) * lonFactor).as("lon"))
      .agg(avg($"value").as("value"), count(lit(1)).as("n_cells"))

  /** R13: per-axis finite-difference gradient (`cdo gradsx/gradsy`, the
    * slope/aspect kernel of every DEM pipeline) over a possibly SPARSE
    * grid: the difference quotient between consecutive PRESENT cells
    * along each axis — (v − v_prev)/(coord − coord_prev) — which on an
    * irregular lattice is the standard non-uniform forward difference
    * (spacing rides the window; no densification join, no assumption the
    * neighbor sits at distance 1). Axis edges (first present cell of a
    * row/column) are null, the honest boundary answer.
    *
    * Scale shape: one window per axis — ∂x partitions by (variable,
    * time, lat) ordered by lon, ∂y by (variable, time, lon) ordered by
    * lat. Two exchanges total, each over layer-row/column-sized groups
    * (thousands of tiny partitions, no hot key); no join anywhere. Fed
    * by the integer-valued grid twin, the numerator and spacing are
    * exact, so the single IEEE division is bit-identical cross-engine.
    */
  def gradient(grid: DataFrame): DataFrame = {
    val wx = Window.partitionBy($"variable", $"time", $"lat").orderBy($"lon")
    val wy = Window.partitionBy($"variable", $"time", $"lon").orderBy($"lat")
    grid
      .withColumn("ddx",
        ($"value" - lag($"value", 1).over(wx)) /
          ($"lon" - lag($"lon", 1).over(wx)))
      .withColumn("ddy",
        ($"value" - lag($"value", 1).over(wy)) /
          ($"lat" - lag($"lat", 1).over(wy)))
  }

  /** P2: bbox subset — the CDS `area: [N,W,S,E]` filter
    * (src/sources/era5monthly.js:34,55), pushed to parquet min/max stats.
    */
  def bbox(grid: DataFrame, n: Double, w: Double, s: Double, e: Double): DataFrame =
    grid.where($"lat".between(s, n) && $"lon".between(w, e))

  /** P3: polygon clip — keep cells inside the ring
    * (gdalwarp -cutline -crop_to_cutline, src/file-conversions.js:174-195).
    */
  def clip(grid: DataFrame, ring: Geo.Ring): DataFrame =
    grid.where(graft.functions.GeoContains(Seq(ring))($"lon", $"lat"))

  /** P3 nodata variant: null outside the ring (`-dstnodata -9999`;
    * sentinel→null per SURVEY.md §1.2).
    */
  def clipToNull(grid: DataFrame, ring: Geo.Ring): DataFrame =
    grid.withColumn("value", Geo.clipValue(ring)($"lon", $"lat", $"value"))

  /** F1: unit conversion (`cdo -mulc,k` / K→°C offset,
    * src/file-conversions.js:197-204).
    */
  def convertUnit(grid: DataFrame, factor: Double, offset: Double = 0.0): DataFrame =
    grid.withColumn("value", $"value" * lit(factor) + lit(offset))

  /** A1: climatology normal — mean per cell of the same calendar month over
    * [startYear, endYear] (30-year normal, src/sources/era5monthly.js:126-155
    * + cdo timmean src/file-conversions.js:206-217). Null values (nodata)
    * are excluded exactly as `-setmissval` excludes sentinels.
    */
  def climatologyNormal(grid: DataFrame, variable: String, calMonth: Int,
                        startYear: Int, endYear: Int): DataFrame =
    grid.where($"variable" === variable &&
               year($"time").between(startYear, endYear) &&
               month($"time") === calMonth)
      .groupBy($"lat", $"lon")
      .agg(avg($"value").as("normal"))

  /** J1: anomaly = actual − normal (`cdo sub`,
    * src/file-conversions.js:219-231), computed in ONE pass over the
    * calendar-month slice: a conditional window-average per cell supplies
    * the normal, so the grid subtree is scanned once. (The alternative —
    * aggregate the normal separately and broadcast-join it onto the actual
    * month — scans the grid twice; prefer it only when the store is the
    * `variable/year/month` parquet layout, where
    * [[graft.functions.MonthPartitionPruning]] prunes the actual-month scan
    * to one partition and the normal's scan to its calendar month, as
    * [[graft.control.GridSource]] does via [[graft.control.Normals]].)
    * Cells with no climatology coverage drop out, as an inner join would.
    */
  def anomaly(grid: DataFrame, variable: String, monthStart: String,
              startYear: Int = 1991, endYear: Int = 2020): DataFrame = {
    val m = lit(monthStart).cast("timestamp_ntz")
    val calMonth = java.time.LocalDate.parse(monthStart.take(10)).getMonthValue
    val perCell = org.apache.spark.sql.expressions.Window
      .partitionBy($"variable", $"lat", $"lon")
    grid.where($"variable" === variable && month($"time") === calMonth)
      .withColumn("normal",
        avg(when(year($"time").between(startYear, endYear), $"value")).over(perCell))
      .where($"time" === m && $"normal".isNotNull)
      .select($"variable", $"time", $"lat", $"lon",
              ($"value" - $"normal").as("value"))
  }

  /** J2: pairwise accumulation diff — de-accumulate a cumulative field by
    * subtracting the previous timestep per cell
    * (combine_grib([a,b], (a,b)=>a−b), src/file-conversions.js:53-55,158-172).
    * `lag` over (cell) avoids the self-join shuffle: one shuffle on the cell
    * key, then a sorted scan.
    */
  def deaccumulate(grid: DataFrame, factor: Double = 1.0): DataFrame = {
    val w = Window.partitionBy($"variable", $"lat", $"lon").orderBy($"time")
    grid.withColumn("value", ($"value" - lag($"value", 1).over(w)) * lit(factor))
      .where($"value".isNotNull)
  }

  /** A3/A4: per-layer inventory metadata — temporal extent + cell counts
    * (typical_metadata min/max merge src/utility.js:135-142; inventory
    * rebuild src/rabbit.js:73-85).
    */
  def inventory(grid: DataFrame): DataFrame =
    grid.groupBy($"variable")
      .agg(min($"time").as("start"), max($"time").as("end"),
           countDistinct($"time").as("n_months"),
           count($"value").as("n_cells"))
      .orderBy($"variable")

  /** The grid store's partition columns, outermost first. */
  val PartitionColumns: Seq[String] = Seq("variable", "year", "month")

  /** Add the grid store's `year`/`month` partition keys. Every writer of the
    * store derives them here, so the store keeps the layout invariant
    * `year = year(time)` and `month = month(time)`, with `time` a
    * timestamp_ntz (keys independent of the session time zone).
    * [[graft.functions.MonthPartitionPruning]] relies on it to prune those
    * partitions from `time` predicates.
    */
  def withMonthKeys(grid: DataFrame): DataFrame =
    grid.withColumn("year", year($"time")).withColumn("month", month($"time"))

  /** Write the grid with the at-scale layout: partitioned by
    * (variable, year, month), dynamic overwrite so re-running a month is
    * idempotent (the reference's atomic overwrite-by-month, T1).
    */
  def writePartitioned(grid: DataFrame, path: String): Unit =
    withMonthKeys(grid)
      .repartition(PartitionColumns.map(col): _*)
      .write
      .partitionBy(PartitionColumns: _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Threshold-exceedance area per layer (r15) — the "fraction of the
    * region above θ" series every climate-monitoring product publishes
    * (drought area, heat-wave extent; the reference's anomaly maps are
    * one `value > θ` away from this). One map-side-combining aggregate
    * over the grid — counts are exact longs, the area fraction is one
    * IEEE division, the conditional max is order-independent. Scales as
    * a plain hash aggregate: layer keys partition the shuffle, cells per
    * layer only affect the combine.
    */
  def exceedance(grid: DataFrame, threshold: Double): DataFrame =
    grid.groupBy($"variable", $"time")
      .agg(count(lit(1)).as("n_cells"),
        sum(when($"value" > threshold, 1L).otherwise(0L)).as("n_above"),
        max(when($"value" > threshold, $"value")).as("max_above"))
      .withColumn("frac_above", round($"n_above".cast("double") / $"n_cells", 6))
      .orderBy($"variable", $"time")

  /** R18: priority mosaic/composite (`gdal_merge`): overlay a preferred
    * source over a fallback — per cell key, the PRIMARY source's value
    * wins wherever it has coverage, the secondary fills the rest, and
    * the output records which source supplied each cell (the provenance
    * column real composites carry). One union + one map-side-combining
    * `min_by` aggregate on the full grid key: no join, no window — at
    * 100 TB this is a single co-partitioned shuffle over both scans.
    */
  def mosaic(primary: DataFrame, secondary: DataFrame): DataFrame =
    primary.withColumn("src", lit(1))
      .unionByName(secondary.withColumn("src", lit(2)))
      .groupBy($"variable", $"time", $"lat", $"lon")
      .agg(min($"src").cast("long").as("src"),
        min_by($"value", $"src").as("value"))
      .orderBy($"variable", $"time", $"lat", $"lon")

  /** R17: bilinear remap onto an ARBITRARY target lattice — the general
    * `gdalwarp -tr`/`-t_srs` resample (src/file-conversions.js:174-195)
    * that [[regrid]]'s block-mean coarsening does not cover: target
    * points need not align with source cells, so each interpolates from
    * its 4 surrounding source neighbors with distance weights.
    *
    * Exactness design: the target lattice is RATIONAL — axis positions
    * are `startNum/den + k·stepNum/den` — so scaling by `den` makes every
    * position an integer. The surrounding source row is then an exact
    * integer floor (`(pos − pmod(pos, den))/den`, pure integer ops) and
    * the fractional weight an exact integer remainder in [0, den). A
    * corner's weight is `wy·wx ∈ [0, latDen·lonDen]`; on integer-valued
    * grids the weighted sum `num = Σ w·v` is an exact long, so the one
    * IEEE division `num/den_eff` is bit-identical in any engine — the
    * r11/s04 discipline extended to interpolation.
    *
    * Scale shape: targets explode to exactly 4 corner rows each and
    * BROADCAST (a lattice descriptor, bytes per target); the grid scans
    * ONCE and equi-joins on (lat, lon) — grouping by (layer, target)
    * afterwards is equivalent to a per-layer full-key join without the
    * second fact scan a layer spine would cost — then one map-side-
    * combining aggregate back to target cells. Partial-edge
    * audit (r11's discipline): `n_src` counts the corners actually found
    * (the fixture grid is sparse); `den_eff` is the weight mass present;
    * a target with zero present mass reports `value` NULL rather than
    * inventing data.
    */
  def remapBilinear(grid: DataFrame,
                    latStartNum: Long, latStepNum: Long, latDen: Long, nLat: Int,
                    lonStartNum: Long, lonStepNum: Long, lonDen: Long, nLon: Int): DataFrame = {
    require(latDen >= 1 && lonDen >= 1 && latStepNum >= 1 && lonStepNum >= 1 &&
      nLat >= 1 && nLon >= 1, "remapBilinear: degenerate target lattice")
    val spark = grid.sparkSession
    val targets = spark.range(nLat.toLong).select($"id".as("j"))
      .crossJoin(spark.range(nLon.toLong).select($"id".as("i")))
      .withColumn("ynum", lit(latStartNum) + $"j" * latStepNum)
      .withColumn("xnum", lit(lonStartNum) + $"i" * lonStepNum)
      .withColumn("fy", pmod($"ynum", lit(latDen)))
      .withColumn("fx", pmod($"xnum", lit(lonDen)))
      .withColumn("y0", ($"ynum" - $"fy") / latDen)
      .withColumn("x0", ($"xnum" - $"fx") / lonDen)
    val corners = targets
      .withColumn("c", explode(array(
        struct(lit(0L).as("dy"), lit(0L).as("dx")),
        struct(lit(0L).as("dy"), lit(1L).as("dx")),
        struct(lit(1L).as("dy"), lit(0L).as("dx")),
        struct(lit(1L).as("dy"), lit(1L).as("dx")))))
      .withColumn("w",
        (when($"c.dy" === 0, lit(latDen) - $"fy").otherwise($"fy")) *
          (when($"c.dx" === 0, lit(lonDen) - $"fx").otherwise($"fx")))
      .select($"j", $"i", $"ynum", $"xnum", $"w",
        ($"y0" + $"c.dy").cast("double").as("lat"),
        ($"x0" + $"c.dx").cast("double").as("lon"))
    // joining on (lat, lon) ALONE and grouping by (layer, target) is
    // equivalent to a layer-spine cross + full-key join — every grid row
    // meets its corner positions across all layers — but reads the grid
    // ONCE (the spine formulation rescanned the fact table for the
    // distinct layers; PlanGuardSpec pins the single scan)
    grid.join(broadcast(corners), Seq("lat", "lon"))
      .groupBy($"variable", $"time", $"j", $"i", $"ynum", $"xnum")
      .agg(count(lit(1)).as("n_src"),
        sum($"w").as("den_eff"),
        sum(($"w" * $"value").cast("long")).as("num"))
      .select($"variable", $"time",
        ($"ynum" / latDen.toDouble).as("tlat"),
        ($"xnum" / lonDen.toDouble).as("tlon"),
        when($"den_eff" > 0, $"num" / $"den_eff").as("value"),
        $"num", $"den_eff", $"n_src")
      .orderBy($"variable", $"time", $"tlat", $"tlon")
  }

  /** R29: first-order CONSERVATIVE remap onto an arbitrary rational
    * target lattice — `cdo remapcon`, the flux-preserving regrid every
    * climate pipeline uses for quantities where interpolation would
    * invent mass (precipitation, fluxes; reference reach via cdo in
    * src/file-conversions.js). Each target cell's value is the
    * overlap-area-weighted mean of the source cells it intersects;
    * unlike [[regrid]] (targets aligned to whole source blocks) and
    * [[remapBilinear]] (point sampling), PARTIAL overlaps carry
    * fractional weight, so mass is conserved over the remap domain.
    *
    * Exactness design: source cells are the unit squares
    * `[lat, lat+1)×[lon, lon+1)` of the integer grid twin; target edges
    * are rational (`startNum/den + k·stepNum/den`), so in den-scaled
    * units every edge is an integer and each axis overlap
    * `max(0, min(srcHi, tgtHi) − max(srcLo, tgtLo))` is an exact
    * integer. The cell weight is the product of the two axis overlaps
    * (areas separate on a rectilinear lattice); on integer-valued grids
    * `num = Σ w·v` is an exact long and the one IEEE division
    * `num/den_eff` is bit-identical in any engine. Weighting is
    * coordinate-plane area (equirectangular) — spherical cos(lat)
    * weighting is non-portable transcendental territory and out of
    * scope by design.
    *
    * Normalization is `fracarea` (SCRIP/CDO terminology): divide by the
    * weight mass of the source cells actually PRESENT, so sparse grids
    * report the mean over observed area; `covered_ppm` audits how much
    * of each target cell that mass covers (1 000 000 = fully covered).
    * Targets intersecting no present source cell vanish (no invented
    * data — the r17 discipline).
    *
    * Scale shape: the overlap structure factorizes per axis, so the two
    * axis tables are lattice-descriptor-sized (`nTgt·(step/den + 1)`
    * rows each) and BROADCAST; the grid scans ONCE, equi-joins on its
    * own integer coordinates (each source row fans out only to the ≤
    * `(step/den+1)²` targets it actually touches), and one map-side-
    * combining aggregate lands on target cells. No range join, no
    * explode of the fact table beyond the bounded per-axis
    * multiplicity.
    */
  def remapConservative(grid: DataFrame,
                        latStartNum: Long, latStepNum: Long, latDen: Long, nLat: Int,
                        lonStartNum: Long, lonStepNum: Long, lonDen: Long, nLon: Int): DataFrame = {
    require(latDen >= 1 && lonDen >= 1 && latStepNum >= 1 && lonStepNum >= 1 &&
      nLat >= 1 && nLon >= 1, "remapConservative: degenerate target lattice")
    val spark = grid.sparkSession

    // per-axis overlap table: target index -> (source coordinate, exact
    // integer overlap length in den-scaled units)
    def axis(startNum: Long, stepNum: Long, den: Long, n: Int,
             idx: String, src: String, w: String): DataFrame = {
      val t0 = lit(startNum) + col(idx) * stepNum
      val t1 = t0 + stepNum
      // floorDiv via pmod (exact integer ops, negative-safe); the
      // long cast restores the integral type sequence() requires
      val lo = ((t0 - pmod(t0, lit(den))) / den).cast("long")
      val hiNum = t1 - 1
      val hi = ((hiNum - pmod(hiNum, lit(den))) / den).cast("long")
      spark.range(n.toLong).select(col("id").as(idx))
        .withColumn("t0", t0).withColumn("t1", t1)
        .withColumn(src, explode(sequence(lo, hi)))
        .withColumn(w,
          least(col(src) * den + den, col("t1")) -
            greatest(col(src) * den, col("t0")))
        .select(col(idx), col("t0"), col(src).cast("double").as(src), col(w))
    }

    val latAxis = axis(latStartNum, latStepNum, latDen, nLat, "j", "lat", "wy")
      .withColumnRenamed("t0", "ynum")
    val lonAxis = axis(lonStartNum, lonStepNum, lonDen, nLon, "i", "lon", "wx")
      .withColumnRenamed("t0", "xnum")

    grid.join(broadcast(latAxis), Seq("lat"))
      .join(broadcast(lonAxis), Seq("lon"))
      .groupBy($"variable", $"time", $"j", $"i", $"ynum", $"xnum")
      .agg(count(lit(1)).as("n_src"),
        sum($"wy" * $"wx").as("den_eff"),
        sum(($"wy" * $"wx" * $"value").cast("long")).as("num"))
      .select($"variable", $"time",
        ($"ynum" / latDen.toDouble).as("tlat"),
        ($"xnum" / lonDen.toDouble).as("tlon"),
        ($"num" / $"den_eff").as("value"),
        $"num", $"den_eff", $"n_src",
        // exact integer floor-division (both operands positive): the
        // pmod subtraction keeps the quotient an integer BEFORE the
        // double division, so the cast is exact cross-engine
        ((($"den_eff" * 1000000L) - pmod($"den_eff" * 1000000L,
          lit(latStepNum * lonStepNum))) / (latStepNum * lonStepNum))
          .cast("long").as("covered_ppm"))
      .orderBy($"variable", $"time", $"tlat", $"tlon")
  }

  /** Per-cell temporal trend (r24): the OLS slope of value against the
    * month index for EVERY (lat, lon) cell — the climate-trend map
    * ("warming per decade per cell") every reanalysis monitoring
    * product derives from exactly the monthly series the reference
    * ingests. q48's exact-integer-moment discipline applied per cell:
    * y is the integer-valued grid twin ([[demoGridSum]]), t = the
    * month serial year·12+month, all moment sums are exact BIGINTs in
    * ONE map-side-combinable aggregate, and slope/intercept are a
    * fixed per-row expression tree over those exact sums — identical
    * IEEE bits in any engine. Cells with fewer than two months drop
    * (no degenerate denominators: grid keys are unique per (cell,
    * time), so n ≥ 2 implies distinct t).
    *
    * Scale shape: one scan, one shuffle on the cell key; the moment
    * relation is cell-count-sized regardless of the historical depth —
    * 800 months of a 1440×721 grid collapse to one million rows.
    */
  def cellTrend(gridSum: DataFrame, variable: String): DataFrame = {
    val nd = col("n").cast("double")
    val std = col("st").cast("double")
    val syd = col("sy").cast("double")
    val sttd = col("stt").cast("double")
    val styd = col("sty").cast("double")
    val slope = (nd * styd - std * syd) / (nd * sttd - std * std)
    gridSum.where($"variable" === variable)
      .select($"lat", $"lon",
        (year($"time") * 12 + month($"time")).cast("long").as("t"),
        $"value".cast("long").as("y"))
      .groupBy($"lat", $"lon")
      .agg(count(lit(1)).as("n"),
        sum($"t").as("st"), sum($"y").as("sy"),
        sum($"t" * $"t").as("stt"), sum($"t" * $"y").as("sty"))
      .where($"n" >= 2)
      .select($"lat", $"lon", $"n", slope.as("slope"),
        ((syd - slope * std) / nd).as("intercept"))
      .orderBy($"lat", $"lon")
  }

  /** Vector-field recombination (r21): pair a u- and a v-component
    * variable per cell and derive magnitude + quadrant — the wind-speed
    * derivation met pipelines run over GFS/ERA5 u10/v10 component
    * pairs (beyond the reference's temperature/precip scope, but the
    * first thing any renderer derives once wind sources are added).
    * `center` re-centres the fixture's non-negative means so all four
    * sign quadrants occur.
    *
    * Determinism: u, v, u²+v², and `sqrt` are per-row IEEE ops evaluated
    * in one fixed expression shape — no aggregation-order dependence —
    * and IEEE-754 `sqrt` is correctly rounded, so every engine computes
    * identical bits (the one transcendental that IS portable; atan2
    * direction is NOT and is deliberately left as the integer quadrant).
    *
    * Scale shape: ONE scan — the component pair assembles via a
    * conditional-aggregate pivot on the cell key (map-side combine),
    * not a self-join, so there is a single exchange and no second read
    * of the fact ([[mosaic]]'s discipline). Cells missing either
    * component drop out via the null filter.
    */
  def vectorSpeed(grid: DataFrame, uVar: String, vVar: String,
                  center: Double): DataFrame =
    grid.where($"variable".isin(uVar, vVar))
      .groupBy($"time", $"lat", $"lon")
      .agg(max(when($"variable" === uVar, $"value")).as("uraw"),
        max(when($"variable" === vVar, $"value")).as("vraw"))
      .where($"uraw".isNotNull && $"vraw".isNotNull)
      .select($"time", $"lat", $"lon",
        ($"uraw" - center).as("u"), ($"vraw" - center).as("v"))
      .select($"time", $"lat", $"lon", $"u", $"v",
        sqrt($"u" * $"u" + $"v" * $"v").as("speed"),
        when($"u" >= 0 && $"v" >= 0, 1L).when($"u" < 0 && $"v" >= 0, 2L)
          .when($"u" < 0, 3L).otherwise(4L).as("quadrant"))
      .orderBy($"time", $"lat", $"lon")
}
