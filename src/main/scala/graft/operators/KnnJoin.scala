package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HaversineDist

/** Grid-pruned EXACT k-nearest-neighbour JOIN (SURVEY §2.10
  * `q_geo_knn_join`) — for EVERY left row, its k nearest right rows. The
  * second STARK join surface beside [[DistanceJoin]] (withinDistance):
  * the "nearest depot per event" enrichment shape.
  *
  * This is [[GridKnn]]'s ring-growth certificate applied PER LEFT ROW,
  * but batched: one ring round processes ALL still-uncertified left rows
  * in a single cell-keyed equi-join, so the driver pays O(#rings) rounds
  * — never O(|left|) probes. Round r:
  *
  *  1. Each remaining left row explodes the lat cells of its
  *     (2r+1)×(2r+1) ring box; its candidate lon cells live on the
  *     modular ring (antimeridian-safe), widening to ALL lon cells when
  *     the row's box touches a pole (every longitude is reachable past a
  *     pole — the [[GridKnn]] sphere semantics) or spans 360°.
  *  2. ONE equi-join on (cell_lat, cell_lon) against the cell-bucketed
  *     right side — never a cartesian/BNL — then exact haversine, then a
  *     per-left-row window top-k ordered by (round(km, 3), right id),
  *     the oracle-parity rank order every knn key uses.
  *  3. The certificate: a left row's top-k is EXACT when k candidates
  *     exist and the kth UNROUNDED distance is inside the row's ring-box
  *     safe radius (min distance to a retained box edge × 0.9; edges the
  *     sphere swallowed — pole-clamped lat, wrapped-full lon — bound
  *     nothing, and an edge-free box certifies at +∞). Certified rows
  *     emit; the rest re-join at the doubled ring.
  *
  * Rows still uncertified after the ring budget fall back to the exact
  * FULL join (no box) — callers always get a certified-exact result, and
  * the unpruned cost is paid only by the rows whose neighborhood
  * defeated the grid (the [[GridKnn]] fallback discipline).
  *
  * Scale shape: every round shuffles on cell keys and the left-id window
  * only; candidate volume per left row is its local density × ring area,
  * never |right|; the ring DOUBLES so a sparse row costs O(log) rounds.
  * At 100 TB both sides shuffle cell-partitioned, and the same cell key
  * is the physical layout's partition column (the q_geo_knn_grid
  * directory-pruning argument, applied to a join).
  */
object KnnJoin {

  private val ringPlans = ThreadLocal.withInitial[Seq[String]](() => Nil)

  /** Executed physical plans of the ring rounds of the LAST `knn` call on
    * this thread (pre-checkpoint, so the candidate join is visible) — the
    * spec's no-cartesian/no-BNL assertion surface; the exact-fallback
    * round, if any, is deliberately excluded (it IS a declared cross
    * join). */
  def lastRingPlans: Seq[String] = ringPlans.get

  /** @param left  relation with an id + lat/lon; one output group per row
    * @param right relation with an id + lat/lon (the "depot" side)
    * @return (lId, rId, dist_km = round(km, 3), rk = 1..k) — exactly k
    *         rows per left row (fewer only when |right| < k), ranked by
    *         (dist_km, rId) */
  def knn(left: DataFrame, lId: String, lLat: String, lLon: String,
          right: DataFrame, rId: String, rLat: String, rLon: String,
          k: Int, cellDeg: Double = 10.0,
          rings: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(math.abs(360.0 / cellDeg - math.round(360.0 / cellDeg)) < 1e-9,
      f"cellDeg=$cellDeg%.2f does not divide 360° — the modular longitude " +
        "ring would have a narrow seam cell; pick a divisor of 360")
    val nLon = math.round(360.0 / cellDeg)
    val spark = left.sparkSession
    import spark.implicits._

    def latCell(c: Column): Column = floor(c / cellDeg).cast("long")
    // +180 origin so cell boundaries align with the safe-radius edges for
    // any divisor of 360 (not just divisors of 180)
    def lonCell(c: Column): Column =
      pmod(floor((c + 180.0) / cellDeg).cast("long"), lit(nLon))
    def hv(a: Column, b: Column, c: Column, d: Column): Column =
      HaversineDist.haversineKm(a, b, c, d)

    val r = right.select(col(rId), col(rLat).as("__rlat"), col(rLon).as("__rlon"))
      .withColumn("__cla", latCell(col("__rlat")))
      .withColumn("__clo", lonCell(col("__rlon")))
      .localCheckpoint(eager = false)

    /** Min distance from the row's point to its ring-box boundary × 0.9
      * (the [[GridKnn.safeRadiusKm]] bound as a Column): +∞ when the
      * sphere swallowed every edge. */
    def safeCol(latC: Column, lonC: Column, ring: Int): Column = {
      val latLo = (floor(latC / cellDeg) - ring) * cellDeg
      val latHi = (floor(latC / cellDeg) + ring + 1) * cellDeg
      val lonLo = (floor((lonC + 180.0) / cellDeg) - ring) * cellDeg - 180.0
      val lonHi = (floor((lonC + 180.0) / cellDeg) + ring + 1) * cellDeg - 180.0
      val fullLon = (2 * ring + 1) * cellDeg >= 360.0
      // lon edges vanish when the box wraps fully OR touches a pole
      val lonGone =
        if (fullLon) lit(true) else latLo <= lit(-90.0) || latHi >= lit(90.0)
      val edges = array(
        when(latLo > lit(-90.0), hv(latC, lonC, latLo, lonC)),
        when(latHi < lit(90.0), hv(latC, lonC, latHi, lonC)),
        when(!lonGone, hv(latC, lonC, latC, lonLo)),
        when(!lonGone, hv(latC, lonC, latC, lonHi)))
      coalesce(array_min(edges) * 0.9, lit(Double.PositiveInfinity))
    }

    /** Candidate top-k for one round; `ring` None = the exact full join.
      * Returns (lId, rId, dist_km, rk, __km, __safe) — every left row
      * present in the candidate join carries its certificate operands. */
    def roundTopK(rem: DataFrame, ring: Option[Int]): DataFrame = {
      val cand = ring match {
        case Some(rr) =>
          val ownLat = latCell(col("__llat"))
          val ownLon = lonCell(col("__llon"))
          val latLo = (floor(col("__llat") / cellDeg) - rr) * cellDeg
          val latHi = (floor(col("__llat") / cellDeg) + rr + 1) * cellDeg
          val allLon = sequence(lit(0L), lit(nLon - 1))
          val lonCells =
            if (2 * rr + 1 >= nLon) allLon
            else when(latLo <= lit(-90.0) || latHi >= lit(90.0), allLon)
              .otherwise(transform(sequence(lit(-rr.toLong), lit(rr.toLong)),
                o => pmod(ownLon + o, lit(nLon))))
          rem
            .withColumn("__cla", explode(transform(
              sequence(lit(-rr.toLong), lit(rr.toLong)), o => ownLat + o)))
            .withColumn("__clo", explode(lonCells))
            .join(r, Seq("__cla", "__clo"))
        case None => rem.crossJoin(r.drop("__cla", "__clo"))
      }
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col(lId)).orderBy(col("__dist"), col(rId))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(lId))
      cand
        .withColumn("__km", hv(col("__llat"), col("__llon"), col("__rlat"), col("__rlon")))
        .withColumn("__dist", round(col("__km"), 3))
        .withColumn("__rk", row_number().over(wRank))
        .withColumn("__cnt", sum(when(col("__rk") <= k, 1L)).over(wAll))
        .withColumn("__kth", max(when(col("__rk") <= k, col("__km"))).over(wAll))
        .withColumn("__safe", ring match {
          case Some(rr) => safeCol(col("__llat"), col("__llon"), rr)
          case None     => lit(Double.PositiveInfinity) // full join IS exact
        })
        .filter(col("__rk") <= k)
    }

    // Lazy, like `r`: the gate's count materializes it, so above the budget
    // the rings read the left rows without computing `left` a second time.
    val lsel = left.select(col(lId), col(lLat).as("__llat"), col(lLon).as("__llon"))
      .localCheckpoint(eager = false)

    // [[Endgame]] with a TIGHTER work gate: the local kernel is a
    // single-threaded |L|·|R| brute force, so unlike the loop endgames —
    // where distributed rounds are pure fixed overhead — it only wins
    // when the PAIR WORK is trivial. Measured at sf0.1 (1500×1485 ≈ 2.2M
    // pairs): local 3.0-3.2 s vs distributed rings 1.7-2.3 s warm — the
    // grid pruning + 32-way parallelism beat the driver, so the gate is
    // the pair product ≤ Budget/4 (≈ 262k pairs ≈ a quarter second),
    // taken as weights: the left side at 2048 (|L| ≤ 512 = √(Budget/4),
    // so the bench-scale shape never counts the right side), the right at
    // 4·|L| (at least 4, so an empty left side never admits an unbounded
    // right side). Below it the exact kNN runs on the driver with the SAME
    // [[HaversineDist.km]] kernel and (round(km, 3), rId) rank order —
    // the oracle's own semantics, which the ring certificate provably
    // reproduces. `lastRingPlans` is left untouched (it documents the
    // last DISTRIBUTED run, which the spec's ring-plan pins force).
    (for {
      ls <- Endgame.rows(lsel.select(col(lId).cast("long"),
          col("__llat").cast("double"), col("__llon").cast("double"))
        .as[(Long, Double, Double)], weight = 2048)
      rs <- Endgame.rows(r.select(col(rId).cast("long"),
          col("__rlat").cast("double"), col("__rlon").cast("double"))
        .as[(Long, Double, Double)], weight = 4L * math.max(1, ls.length))
    } yield {
      def rnd3(d: Double): Double =
        BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      val out = ls.sortBy(_._1).flatMap { case (li, la, lo) =>
        rs.map { case (ri, ra, ro) => (ri, rnd3(HaversineDist.km(la, lo, ra, ro))) }
          .sortBy { case (ri, d) => (d, ri) }
          .take(k).zipWithIndex
          .map { case ((ri, d), i) => (li, ri, d, i + 1) }
      }
      spark.createDataset(out.toSeq)
        .toDF(lId, rId, "dist_km", "rk")
        .select(col(lId).cast(left.schema(lId).dataType),
          col(rId).cast(right.schema(rId).dataType),
          col("dist_km"), col("rk"))
    }).getOrElse {
      var remaining = lsel
      val emitted = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val certified = col("__cnt") === k.toLong && col("__kth") < col("__safe")

      var ringsLeft = rings
      ringPlans.set(Nil)
      while (ringsLeft.nonEmpty && !remaining.isEmpty) {
        val preCp = roundTopK(remaining, Some(ringsLeft.head))
        val topk = preCp.localCheckpoint(eager = true)
        ringPlans.set(ringPlans.get :+ preCp.queryExecution.executedPlan.toString)
        emitted += topk.filter(certified)
          .select(col(lId), col(rId), col("__dist").as("dist_km"), col("__rk").as("rk"))
        remaining = remaining
          .join(topk.filter(certified).select(col(lId)).distinct(),
            Seq(lId), "left_anti")
          .localCheckpoint(eager = true)
        ringsLeft = ringsLeft.tail
      }
      if (!remaining.isEmpty)
        emitted += roundTopK(remaining, None)
          .select(col(lId), col(rId), col("__dist").as("dist_km"), col("__rk").as("rk"))

      emitted.reduceLeft(_ unionAll _)
    }
  }
}
