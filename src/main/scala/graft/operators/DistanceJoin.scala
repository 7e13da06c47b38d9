package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-relation ε-distance spatial join through grid-cell candidate
  * buckets (STARK's R ⋈ S withinDistance surface as a reusable operator —
  * `q_geo_join` is its declared contract key).
  *
  * Correctness of the bucket scheme is a THEOREM the operator checks at
  * call time rather than an assumption: for two points within `epsKm`,
  * |Δlat| ≤ epsKm/111.195° and (with both |lat| ≤ `maxAbsLat`)
  * |Δlon| ≤ 2·asin(sin(epsKm/2R)/cos(maxAbsLat))°. The constructor
  * REQUIRES both bounds ≤ `cellDeg`, so a 3×3 neighborhood around either
  * point's cell always contains the other point's cell — a
  * misconfiguration (ε too large for the cell size at the declared
  * latitude bound) throws instead of silently missing pairs. Longitude
  * cells live on a modular ring, so pairs straddling the ±180°
  * antimeridian (Δlon ≈ 360°, true distance small — haversine wraps
  * correctly) stay candidates.
  *
  * Scale shape: the RIGHT side (pass the smaller relation) explodes its
  * 3×3 cell neighborhood (9×) and the join is a pure equi-join on
  * (cell_lat, cell_lon) — broadcastable when small, a cell-keyed shuffle
  * when not; the exact haversine verify then removes every false
  * candidate. Never a cartesian/BNL (PlanSpec asserts on the contract
  * key).
  */
object DistanceJoin {

  /** Join rows of `left` and `right` whose points lie within `epsKm`.
    *
    * @param left relation with coordinate columns `lLat`/`lLon`; all its
    *        columns survive into the output
    * @param right SMALLER relation with coordinate columns `rLat`/`rLon`
    *        (its 9× neighborhood explode rides this side); all its
    *        columns survive into the output
    * @param maxAbsLat declared service-area bound: rows with |lat| >
    *        maxAbsLat on EITHER side are excluded (part of the operator's
    *        semantics — it is what makes the cell step provably
    *        candidate-complete)
    * @return left.* ++ right.* ++ `km` (exact haversine, < epsKm) */
  def within(left: DataFrame, lLat: String, lLon: String,
             right: DataFrame, rLat: String, rLon: String,
             epsKm: Double, cellDeg: Double = 4.0,
             maxAbsLat: Double = 60.0): DataFrame = {
    val kmPerDegLat = 2 * math.Pi * graft.functions.HaversineDist.EarthRadiusKm / 360.0
    val latStepDeg = epsKm / kmPerDegLat
    val lonStepDeg = math.toDegrees(2 * math.asin(math.min(1.0,
      math.sin(epsKm / (2 * graft.functions.HaversineDist.EarthRadiusKm)) /
        math.cos(math.toRadians(maxAbsLat)))))
    require(latStepDeg <= cellDeg && lonStepDeg <= cellDeg,
      f"epsKm=$epsKm%.1f spans $latStepDeg%.2f° lat / $lonStepDeg%.2f° lon at " +
        f"|lat| ≤ $maxAbsLat%.0f° — exceeds cellDeg=$cellDeg%.1f, the 3×3 " +
        "neighborhood would miss pairs; raise cellDeg or lower maxAbsLat")
    // the lon ring is modular, so cellDeg must tile 360° exactly — with a
    // remainder the LAST ring cell is narrower than cellDeg and the step
    // bound above no longer implies ±1-cell adjacency across the seam
    require(math.abs(360.0 / cellDeg - math.round(360.0 / cellDeg)) < 1e-9,
      f"cellDeg=$cellDeg%.2f does not divide 360° — the modular longitude " +
        "ring would have one narrow seam cell and pairs crossing it could " +
        "be silently missed; pick a divisor of 360 (e.g. 2, 4, 5, 6, 10)")
    val nLonCells = math.round(360.0 / cellDeg)
    def latCell(c: Column): Column = floor(c / cellDeg).cast("long")
    def lonCell(c: Column): Column =
      pmod(floor((c + 180.0) / cellDeg).cast("long"), lit(nLonCells))

    val l = left.filter(abs(col(lLat)) <= maxAbsLat)
      .withColumn("__cla", latCell(col(lLat)))
      .withColumn("__clo", lonCell(col(lLon)))
    val r = right.filter(abs(col(rLat)) <= maxAbsLat)
      .withColumn("__dla", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("__dlo", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("__cla", latCell(col(rLat)) + col("__dla"))
      .withColumn("__clo", pmod(lonCell(col(rLon)) + col("__dlo"), lit(nLonCells)))
      .drop("__dla", "__dlo")
    l.join(r, Seq("__cla", "__clo"))
      .withColumn("km", graft.functions.HaversineDist.haversineKm(
        col(lLat), col(lLon), col(rLat), col(rLon)))
      .filter(col("km") < epsKm)
      .drop("__cla", "__clo")
  }

  /** Spatio-temporal co-location join (`q_geo_st_join`): pairs within
    * `epsKm` AND within `tauUs` of each other in time — the telemetry
    * contact-tracing / service-window shape, STARK's withinDistance
    * extended by the time axis. Space reuses [[within]]'s proven
    * cell-bucket theorem; time gets the SAME argument in one dimension:
    * buckets of width exactly `tauUs`, so |Δt| ≤ tau ⇒ the two
    * timestamps' buckets differ by at most 1, and the right side's ±1
    * bucket explode (now 3×3×3 = 27×) is candidate-complete by
    * construction — no `require` needed for time, the width IS the bound.
    * The join stays a pure equi-join on (cell_lat, cell_lon, t_bucket);
    * exact haversine + |Δt| predicates then drop every false candidate.
    * At 100 TB the time bucket is the partition column every telemetry
    * layout already has — the candidate join co-locates by (day, cell)
    * and never shuffles more than a bucket's neighborhood. */
  def withinSt(left: DataFrame, lLat: String, lLon: String, lTs: String,
               right: DataFrame, rLat: String, rLon: String, rTs: String,
               epsKm: Double, tauUs: Long, cellDeg: Double = 4.0,
               maxAbsLat: Double = 60.0): DataFrame = {
    val kmPerDegLat = 2 * math.Pi * graft.functions.HaversineDist.EarthRadiusKm / 360.0
    val latStepDeg = epsKm / kmPerDegLat
    val lonStepDeg = math.toDegrees(2 * math.asin(math.min(1.0,
      math.sin(epsKm / (2 * graft.functions.HaversineDist.EarthRadiusKm)) /
        math.cos(math.toRadians(maxAbsLat)))))
    require(latStepDeg <= cellDeg && lonStepDeg <= cellDeg,
      f"epsKm=$epsKm%.1f spans $latStepDeg%.2f° lat / $lonStepDeg%.2f° lon at " +
        f"|lat| ≤ $maxAbsLat%.0f° — exceeds cellDeg=$cellDeg%.1f; raise cellDeg")
    require(math.abs(360.0 / cellDeg - math.round(360.0 / cellDeg)) < 1e-9,
      f"cellDeg=$cellDeg%.2f does not divide 360° — pick a divisor of 360")
    require(tauUs > 0, "tauUs must be positive")
    val nLonCells = math.round(360.0 / cellDeg)
    def latCell(c: Column): Column = floor(c / cellDeg).cast("long")
    def lonCell(c: Column): Column =
      pmod(floor((c + 180.0) / cellDeg).cast("long"), lit(nLonCells))
    // integer-exact floor bucket: (c − pmod) is an exact LONG multiple of
    // tauUs, so the division is exact — a double floor(c/tau) could flip a
    // boundary row's bucket by one and break the ±1 candidate argument
    def tBucket(c: Column): Column =
      ((c - pmod(c, lit(tauUs))) / lit(tauUs)).cast("long")

    val l = left.filter(abs(col(lLat)) <= maxAbsLat)
      .withColumn("__cla", latCell(col(lLat)))
      .withColumn("__clo", lonCell(col(lLon)))
      .withColumn("__ctb", tBucket(col(lTs)))
    val r = right.filter(abs(col(rLat)) <= maxAbsLat)
      .withColumn("__dla", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("__dlo", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("__dtb", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("__cla", latCell(col(rLat)) + col("__dla"))
      .withColumn("__clo", pmod(lonCell(col(rLon)) + col("__dlo"), lit(nLonCells)))
      .withColumn("__ctb", tBucket(col(rTs)) + col("__dtb"))
      .drop("__dla", "__dlo", "__dtb")
    l.join(r, Seq("__cla", "__clo", "__ctb"))
      .withColumn("km", graft.functions.HaversineDist.haversineKm(
        col(lLat), col(lLon), col(rLat), col(rLon)))
      .withColumn("dt_us", abs(col(lTs) - col(rTs)))
      .filter(col("km") < epsKm && col("dt_us") <= tauUs)
      .drop("__cla", "__clo", "__ctb")
  }
}
