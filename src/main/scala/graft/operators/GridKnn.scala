package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HaversineDist

/** Grid-pruned EXACT k-nearest-neighbours with ring growth (SURVEY §2.10
  * `q_geo_knn`): candidates come from the probe cell's (2r+1)×(2r+1)
  * neighborhood via a SARGABLE lat/lon box predicate, starting at r = 1 and
  * widening until the kth candidate's distance is certified inside the
  * ring's safe radius — the minimum distance from the probe to the ring
  * boundary, beyond which no point outside the ring can displace any of the
  * k found inside it. That certificate makes the result exact at ANY data
  * density, not just the one a fixed ring was measured against: sparse
  * neighborhoods grow the ring, dense ones settle at r = 1.
  *
  * The box predicate is SPHERE-AWARE (r9, ADVICE): a ring near the
  * antimeridian wraps — its lon bounds normalize into [−180, 180) and the
  * predicate becomes the two-range disjunction `lon ≥ lo OR lon < hi`, so
  * points stored on the other side of ±180° are candidates like any
  * others. A ring that reaches a pole keeps only its far lat bound and
  * drops the lon constraint entirely (every longitude is reachable past a
  * pole), and the safe-radius certificate counts ONLY the edges the
  * predicate actually retains — a missing edge contributes no bound, so a
  * box with no remaining edges covers the sphere and certifies at +∞.
  *
  * Scale shape: each probed ring is one box scan (on the cell-partitioned
  * layout PlanSpec demonstrates, the box predicate prunes partition
  * DIRECTORIES and row groups before any scoring — the wrapped disjunction
  * is a union of two sargable ranges and still prunes) plus one driver
  * guard action reading back a single (count, max) row; the accepted
  * ring's TakeOrderedAndProject heaps only the pruned candidates. The ring
  * box grows geometrically in area, so the search probes
  * O(log(density ratio)) rings; a box that covers the sphere is accepted
  * unconditionally (nothing exists outside it). If `maxRing` is exhausted
  * before any certificate fires (tiny `cellDeg`, near-empty data), the
  * fallback is a TRUE full scan — the box filter is dropped, never an
  * uncertified boxed result (r9, ADVICE). */
object GridKnn {

  /** Ring box as PREDICATE + surviving-edge list, on the sphere. */
  private final case class Box(latLo: Double, latHi: Double,
                               lonLo: Double, lonHi: Double) {
    private def wrap(x: Double): Double = {
      val w = ((x + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      w
    }
    val poleTouch: Boolean = latLo <= -90.0 || latHi >= 90.0
    val fullLon: Boolean = poleTouch || (lonHi - lonLo) >= 360.0
    val coversSphere: Boolean = latLo <= -90.0 && latHi >= 90.0 && fullLon

    def pred: Column = {
      val latP = (if (latLo > -90.0) col("lat") >= latLo else lit(true)) &&
                 (if (latHi < 90.0) col("lat") < latHi else lit(true))
      val lonP =
        if (fullLon) lit(true)
        else {
          val lo = wrap(lonLo)
          val hi = wrap(lonHi)
          if (lo <= hi) col("lon") >= lo && col("lon") < hi
          else col("lon") >= lo || col("lon") < hi // crosses the antimeridian
        }
      latP && lonP
    }

    /** Distances from the probe to each RETAINED boundary edge; empty ⟺
      * the predicate is vacuous (box ⊇ sphere). Lon-edge distances use the
      * raw bounds — haversine is 2π-periodic in longitude, so wrapping
      * never changes them. */
    def edgeKm(pLat: Double, pLon: Double): Seq[Double] =
      Seq(
        if (latLo > -90.0) Some(HaversineDist.km(pLat, pLon, latLo, pLon)) else None,
        if (latHi < 90.0) Some(HaversineDist.km(pLat, pLon, latHi, pLon)) else None,
        if (!fullLon) Some(HaversineDist.km(pLat, pLon, pLat, lonLo)) else None,
        if (!fullLon) Some(HaversineDist.km(pLat, pLon, pLat, lonHi)) else None
      ).flatten
  }

  /** Minimum haversine distance from the probe to the ring-box boundary,
    * with a 0.9 margin: the closest point on a MERIDIAN edge can sit at a
    * latitude other than the probe's (cross-track < along-parallel), so the
    * four edge-foot distances alone slightly overstate the bound. Any point
    * OUTSIDE the box is at least this far from the probe; edges the sphere
    * swallowed (pole-clamped lat, wrapped-full lon) bound nothing and a
    * boundary-free box certifies at +∞. */
  def safeRadiusKm(pLat: Double, pLon: Double, latLo: Double, latHi: Double,
                   lonLo: Double, lonHi: Double): Double = {
    val edges = Box(latLo, latHi, lonLo, lonHi).edgeKm(pLat, pLon)
    if (edges.isEmpty) Double.PositiveInfinity else edges.min * 0.9
  }

  /** @param points (event_id, lat, lon) — extra columns pass through the scan
    * @return (top-k plan: (event_id, dist_km rounded to 3, ordered by
    *         (dist_km, event_id)), ring the certificate accepted — or
    *         `maxRing` when the fallback FULL scan produced the result) */
  def topK(points: DataFrame, pLat: Double, pLon: Double, cellDeg: Double,
           k: Int, maxRing: Int = 20): (DataFrame, Int) = {
    def box(ring: Int): Box = Box(
      (math.floor(pLat / cellDeg) - ring) * cellDeg,
      (math.floor(pLat / cellDeg) + ring + 1) * cellDeg,
      (math.floor(pLon / cellDeg) - ring) * cellDeg,
      (math.floor(pLon / cellDeg) + ring + 1) * cellDeg)

    def scored(filter: Column): DataFrame =
      points.filter(filter).withColumn("d_exact",
        HaversineDist.haversineKm(col("lat"), col("lon"), lit(pLat), lit(pLon)))

    // Rounded AFTER the certificate: the guard compares UNROUNDED distances
    // (a rounded kth could understate by 5e-4 km), the output contract is
    // round(3) then (dist_km, event_id) order — same text as the oracle.
    def result(filter: Column): DataFrame =
      scored(filter)
        .withColumn("dist_km", round(col("d_exact"), 3))
        .select(col("event_id"), col("dist_km"))
        .orderBy(col("dist_km"), col("event_id"))
        .limit(k)

    var ring = 1
    while (ring < maxRing) {
      val b = box(ring)
      if (b.coversSphere)
        return (result(b.pred), ring) // box ⊇ sphere: exact unconditionally
      val guard = scored(b.pred).orderBy(col("d_exact")).limit(k)
        .agg(count(lit(1)), max(col("d_exact"))).head()
      val edges = b.edgeKm(pLat, pLon)
      if (guard.getLong(0) == k &&
          (edges.isEmpty || guard.getDouble(1) < edges.min * 0.9))
        return (result(b.pred), ring)
      ring += 1
    }
    // Certificate never fired within the ring budget: fall back to the
    // EXACT full scan (no box filter), so callers always get a certified
    // result — the cost is the unpruned scan this search exists to avoid,
    // paid only in the degenerate configuration that defeated it.
    (result(lit(true)), maxRing)
  }
}
