package graft.queries

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StructField, StructType}
import graft.functions.HaversineDist
import graft.operators.{Bfs, Endgame}
import Q._

/** SURVEY §2.10 — spatio-temporal mining over derived pseudo-coordinates
  * (the testdata has no lat/lon; both engines derive them with identical
  * integer-exact arithmetic, FIXTURES.md).
  *
  * Scale design: every trajectory op is one window pass partitioned by
  * user (shuffle once on user_id, no self-joins); containment/radius are
  * scan-side predicates; the grid heatmap is a hash aggregate on derived
  * cell keys — the same cell keys that at 100 TB become the physical
  * partition column for spatial pruning; kNN at this scale is a
  * TakeOrderedAndProject (per-partition heap), with grid-prune as the
  * documented scale path; trajectory similarity reduces each user to a
  * fixed-size visited-cell bitmap (one aggregate) and compares signatures
  * with broadcast codegen'd popcount — no candidate-pair shuffle.
  *
  * FP parity: per-segment haversine values may differ from DuckDB by libm
  * ulps, so consumers (a) sum through DECIMAL(18,4) where a 1e-12 wobble
  * cannot cross a rounding boundary except with ~1e-8 probability, and (b)
  * never compare per-row quotients with tiny denominators — per-user speed
  * ratios are taken over aggregate totals, and the max segment speed is
  * rounded to integer km/h. */
object Geo extends QueryGroup {

  /** Co-traveler pair memo: m_graph_pagerank and q_graph_degree read the
    * SAME coTravelers(cell=20°, minHours=2) pair set — one construction
    * per (session, sfDir, params) instead of one per key
    * ([[graft.SessionMemo]]; keyed by VALUE since each call site builds a
    * fresh pts() plan, so DataFrame identity would never hit). Below the
    * budget [[graft.operators.Convoy]] builds the pair set on the driver
    * (the projection's count and collect) and returns a `LocalRelation`,
    * which [[graft.operators.Endgame.pin]] keeps as is: the graph
    * operators and the graph-statistics keys ([[triangles]],
    * [[clustCoef]], [[modularity]], [[bfsHistogram]]) then gate and fetch
    * it without a job and compute on the driver. Above the budget the
    * value is the bucket join's result behind `pin`'s eager checkpoint,
    * and those keys run their Spark plans. */
  private val convoyMemo = new graft.SessionMemo[(String, Double, Int), DataFrame]

  // private[graft] so ScaleProbe's dist_loop probe can time the
  // distributed round path over the SAME substrate the keys use
  private[graft] def coTravelerPairs(s: SparkSession, dir: String,
                                     cellDeg: Double, minHours: Int): DataFrame =
    convoyMemo.getOrCompute(s, (dir, cellDeg, minHours)) {
      graft.operators.Endgame.pin(
        graft.operators.Convoy.coTravelers(pts(s, dir), cellDeg, minHours))
    }

  /** LP community labels on the co-traveler graph — ONE iterative run per
    * (session, dir), shared by m_graph_lp and m_graph_modularity (the
    * convoyMemo discipline applied to the label frame: the driver-local
    * endgame's result is already a `LocalRelation` and is kept as is). */
  private val lpMemo = new graft.SessionMemo[String, DataFrame]
  private def lpLabels(s: SparkSession, dir: String): DataFrame =
    lpMemo.getOrCompute(s, dir) {
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val edges = pairs.select(col("u1").as("src"), col("u2").as("dst"))
        .unionAll(pairs.select(col("u2").as("src"), col("u1").as("dst")))
      graft.operators.Endgame.pin(graft.operators.LabelProp.run(s, edges))
    }

  /** All-pairs ≤8-hop BFS distances over the co-traveler graph — ONE
    * iterative run per (session, dir), shared by q_graph_closeness and
    * q_graph_diameter, behind a lazy checkpoint. Not pinned: its
    * |sources| × reach rows are not bounded by the budget, and pinned
    * they would sit on the driver heap for the memo's life and ship
    * inside every consumer task. */
  private val apspMemo = new graft.SessionMemo[String, DataFrame]
  private def apspDists(s: SparkSession, dir: String): DataFrame =
    apspMemo.getOrCompute(s, dir) {
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val verts = pairs.select(col("u1").as("id"))
        .unionAll(pairs.select(col("u2").as("id"))).distinct()
      graft.operators.Bfs
        .runFromEach(s, pairs.select(col("u1"), col("u2")), verts, maxHops = 8)
        .localCheckpoint(eager = false)
    }

  /** Derived pseudo-coordinates — integer-exact, identical text in SQL. */
  private def withGeo(df: DataFrame): DataFrame = df
    .withColumn("lat", ((col("event_id") * 37L)  % 1700L) / 10.0 - 85.0)
    .withColumn("lon", ((col("event_id") * 131L) % 3600L) / 10.0 - 180.0)

  /** q_geo_zorder's cell + Morton-interleave expression text for both
    * dialects, generated by ONE loop so the engines compute bit-identical
    * BIGINTs: 8-bit lat/lon cells straight from the integer event_id
    * formula (Spark `div` ↔ DuckDB `//`), z = bitwise interleave
    * (lat bit i → position 2i+1, lon bit i → 2i). */
  private[queries] def zOrderExprs(sparkDialect: Boolean): (String, String, String) = {
    val div = if (sparkDialect) "div" else "//"
    val latc = s"((((event_id * 37) % 1700) * 256) $div 1700)"
    val lonc = s"((((event_id * 131) % 3600) * 256) $div 3600)"
    val z = (0 until 8).map { i =>
      if (sparkDialect)
        s"(shiftleft(shiftright(latc, $i) & 1, ${2 * i + 1}) + " +
          s"shiftleft(shiftright(lonc, $i) & 1, ${2 * i}))"
      else
        s"((((latc >> $i) & 1) << ${2 * i + 1}) + (((lonc >> $i) & 1) << ${2 * i}))"
    }.mkString(" + ")
    (latc, lonc, z)
  }

  /** q_traj_heading's octant CASE, ONE text for both dialects (`d` = the
    * dialect's double-literal suffix: "D" for Spark SQL, "" for DuckDB). */
  private def headingCaseSql(d: String): String =
    s"""CASE WHEN abs(dlon) >= abs(dlat)
       |  THEN CASE WHEN dlon >= 0.0$d
       |            THEN CASE WHEN dlat >= 0.0$d THEN 'E+' ELSE 'E-' END
       |            ELSE CASE WHEN dlat >= 0.0$d THEN 'W+' ELSE 'W-' END END
       |  ELSE CASE WHEN dlat >= 0.0$d
       |            THEN CASE WHEN dlon >= 0.0$d THEN 'N+' ELSE 'N-' END
       |            ELSE CASE WHEN dlon >= 0.0$d THEN 'S+' ELSE 'S-' END END
       |END""".stripMargin

  private[graft] def pts(s: SparkSession, dir: String): DataFrame = {
    withGeo(t(s, dir, "events")).withColumn("ts_us", unix_micros(col("ts")))
  }

  /** 704-bit visited-cell bitmap per user — the trajectory-similarity
    * signature substrate (see q_traj_sim's scaladoc for the cell lattice
    * and the scale rationale). Shared with [[Trajectory]]'s track keys,
    * whose candidate pairs come from this signature scan, never all-pairs.
    * Columns: user_id, w0..w{SigWords-1} (bit_or-aggregated longs). */
  private[queries] val SigWords = 11 // ceil(703 / 64)
  private[queries] def cellBitmap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cid ∈ [0, 702]: lat row (floor(lat/10)+9) ∈ [0,18], lon col
    // (floor(lon/10)+18) ∈ [0,36] on the closed domain; out-of-domain
    // input would still alias, so the domain assumption lives here.
    val cid = ((floor($"lat" / 10.0) + 9L) * 37L + (floor($"lon" / 10.0) + 18L)).cast("int")
    val cells = pts(s, dir).select($"user_id", cid.as("cid")).distinct()
    val words = (0 until SigWords).map(w =>
      expr(s"bit_or(CASE WHEN cid div 64 = $w THEN shiftleft(1L, cid % 64) ELSE 0L END)")
        .as(s"w$w"))
    cells.groupBy($"user_id").agg(words.head, words.tail: _*)
  }

  /** Distinct DIRECTED cell-transition edges — each user's consecutive
    * movements between 20° grid cells (lattice of 9×18 = 162 cells, ids
    * integer-exact straight from the event_id formula: 20° = 200 units of
    * the 0.1° integer grid, so no FP ever decides a cell). Shared substrate
    * of the directed-graph keys (q_graph_recip, m_graph_scc): ONE data-
    * sized window pass, then a distinct that caps the edge set at 162² —
    * everything downstream is lattice-bounded regardless of data volume. */
  private val movesMemo = new graft.SessionMemo[String, DataFrame]
  private def cellMoves(s: SparkSession, dir: String): DataFrame =
    movesMemo.getOrCompute(s, dir) {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      pts(s, dir)
        .withColumn("cell",
          expr("(((event_id * 37) % 1700) div 200) * 18 + ((event_id * 131) % 3600) div 200"))
        .withColumn("nxt", lead($"cell", 1).over(w))
        .filter($"nxt".isNotNull && $"cell" =!= $"nxt")
        .select($"cell".as("src"), $"nxt".as("dst"))
        .distinct()
        // the lattice-bounded edge set feeds BOTH directed-graph keys and
        // q_graph_recip's self-transpose join — checkpoint so the data-
        // sized window derivation runs once per (session, SF), not per use
        .localCheckpoint(eager = false)
    }

  /** cellMoves' edge CTE for the oracle dialect (DuckDB `//` ↔ Spark `div`). */
  private val cellMovesCte =
    """WITH m AS (
      |  SELECT (((event_id * 37) % 1700) // 200) * 18
      |           + ((event_id * 131) % 3600) // 200 AS cell,
      |    lead((((event_id * 37) % 1700) // 200) * 18
      |           + ((event_id * 131) % 3600) // 200)
      |      OVER (PARTITION BY user_id
      |            ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS nxt
      |  FROM events),
      |e AS (
      |  SELECT DISTINCT cell AS src, nxt AS dst FROM m
      |  WHERE nxt IS NOT NULL AND cell <> nxt)""".stripMargin

  /** Full 18×36 10°-cell lattice with per-cell event counts — empty cells
    * are real observations of 0 (omitting them biases any global moment).
    * Shared substrate of the spatial-statistics keys (q_geo_hotspot's Gi*
    * and q_geo_moran's global I): one data-sized cell hash agg, then 648
    * generated rows regardless of volume. */
  private def latticeGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = pts(s, dir)
      .groupBy(floor($"lat" / 10.0).cast("long").as("la"),
               pmod(floor(($"lon" + 180.0) / 10.0).cast("long"), lit(36L)).as("lo"))
      .agg(count(lit(1)).as("c"))
    val lattice = t(s, dir, "region").limit(1)
      .select(explode(sequence(lit(-9L), lit(8L))).as("la"))
      .select($"la", explode(sequence(lit(0L), lit(35L))).as("lo"))
    lattice.join(counts, Seq("la", "lo"), "left")
      .select($"la", $"lo", coalesce($"c", lit(0L)).as("x"))
  }

  /** Queen-neighborhood sums over the lattice (self EXCLUDED — Gi*
    * includes it, Moran/LISA do not): (cla, clo, s_i = Σ neighbor x,
    * w_i = neighbor count ∈ {5, 8}; lon wraps the ring, lat clamps). */
  private def queenNbr(s: SparkSession, grid: DataFrame): DataFrame = {
    import s.implicits._
    grid
      .withColumn("dla", explode(array((-1 to 1).map(i => lit(i.toLong)): _*)))
      .withColumn("dlo", explode(array((-1 to 1).map(i => lit(i.toLong)): _*)))
      .filter(!($"dla" === 0L && $"dlo" === 0L))
      .select(($"la" + $"dla").as("cla"),
              pmod($"lo" + $"dlo", lit(36L)).as("clo"), $"x")
      .filter($"cla" >= -9L && $"cla" <= 8L)
      .groupBy($"cla", $"clo")
      .agg(sum($"x").as("s_i"), count(lit(1)).as("w_i"))
  }

  private def hv(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    HaversineDist.haversineKm(lat1, lon1, lat2, lon2)

  private val trajW = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))

  /** Consecutive-point segments per user: (user_id, event_id, ts_us, seg_km, dt_us). */
  private def segments(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .withColumn("plat", lag(col("lat"), 1).over(trajW))
      .withColumn("plon", lag(col("lon"), 1).over(trajW))
      .withColumn("pts_us", lag(col("ts_us"), 1).over(trajW))
      .withColumn("seg_km", hv(col("plat"), col("plon"), col("lat"), col("lon")))
      .withColumn("dt_us", col("ts_us") - col("pts_us"))

  /** Shared triangle machinery over a (u1 < u2) pair set: (closed a<b<c
    * triangle triples, endpoint-union degree frame) — one definition for
    * q_graph_triangles AND q_graph_clustcoef, so a fix to the orientation
    * can never desynchronize the two keys' graphs. This is their
    * above-budget path and the `Endgame.distributed` reference; over a
    * pinned `LocalRelation` (a distributed-path run after the memo was
    * filled) both joins plan as broadcasts over it. Below the budget the
    * keys read [[triangleCounts]] instead and run no Spark job. */
  private def triangleFrames(pairs: DataFrame): (DataFrame, DataFrame) = {
    val e = pairs.select(col("u1"), col("u2"))
    val paths = e.as("ab").join(e.as("bc"), col("ab.u2") === col("bc.u1"))
      .select(col("ab.u1").as("a"), col("ab.u2").as("b"), col("bc.u2").as("c"))
    val tri = paths.join(e.as("ac"),
      col("a") === col("ac.u1") && col("c") === col("ac.u2"))
      .select(col("a"), col("b"), col("c"))
    val deg = e.select(col("u1").as("u")).unionAll(e.select(col("u2").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
    (tri, deg)
  }

  /** A pair set's (u1, u2) as driver longs, through the one gate-and-fetch
    * ([[Endgame.rows]]: no job for the pinned memo; `None` above the
    * budget or inside `Endgame.distributed`). */
  private def longPairs(pairs: DataFrame, weight: Long = 1): Option[Array[(Long, Long)]] = {
    val s = pairs.sparkSession
    import s.implicits._
    Endgame.rows(pairs.select($"u1".cast("long"), $"u2".cast("long")).as[(Long, Long)], weight)
  }

  private def inc(m: mutable.LongMap[Long], k: Long, by: Long = 1L): Unit =
    m(k) = m.getOrElse(k, 0L) + by

  /** The driver twin of [[triangleFrames]]: per-vertex degree `d` and
    * triangle count `t` as a `LocalRelation` (u, d, t), when the pair set
    * passes [[longPairs]]. Each u1 < u2 edge (a, b) closes one a<b<c
    * triangle per c in out(a) ∩ out(b) — exactly the triples of the path
    * join and its closing join — and the intersection walks the smaller
    * out-set, probing the larger. Pairs must be each undirected pair once
    * with u1 < u2 (the co-traveler memo's contract). */
  private def triangleCounts(pairs: DataFrame): Option[DataFrame] = {
    val s = pairs.sparkSession
    import s.implicits._
    longPairs(pairs).map { es =>
      val out = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val deg = mutable.LongMap.empty[Long]
      val tri = mutable.LongMap.empty[Long]
      for ((a, b) <- es) {
        inc(deg, a); inc(deg, b)
        for (ob <- out.get(b)) {
          val oa = out(a)
          val (small, big) = if (oa.size <= ob.size) (oa, ob) else (ob, oa)
          small.foreach(c => if (big(c)) { inc(tri, a); inc(tri, b); inc(tri, c) })
        }
      }
      deg.toSeq.map { case (u, d) => (u, d, tri.getOrElse(u, 0L)) }.toDF("u", "d", "t")
    }
  }

  /** C(d, 2) of a degree column `d` — the wedges at a vertex. */
  private def wedges: Column = expr("d * (d - 1) div 2")

  /** q_graph_triangles over a (u1 < u2) pair set: (n_triangles, n_wedges).
    * Below the budget: Σt / 3 and Σ C(d, 2) over [[triangleCounts]]'
    * rows (`n_wedges` NULL on an empty graph, as Spark's `sum` gives it);
    * above it, the joins of [[triangleFrames]]. */
  private[graft] def triangles(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    triangleCounts(pairs) match {
      case Some(vt) =>
        val tw = vt.select($"t", wedges).as[(Long, Long)].collect()
        Seq((tw.map(_._1).sum / 3, if (tw.isEmpty) None else Some(tw.map(_._2).sum)))
          .toDF("n_triangles", "n_wedges")
      case None =>
        val (tri, deg) = triangleFrames(pairs)
        tri.agg(count(lit(1)).as("n_triangles"))
          .crossJoin(deg.agg(sum(wedges).as("n_wedges")))
    }
  }

  /** Per-vertex local clustering coefficient t / C(d, 2) and its 0.1
    * bucket — the one expression text of both q_graph_clustcoef paths. */
  private def withCoef(nodes: DataFrame): DataFrame = nodes
    .withColumn("coef", col("t").cast("double") / wedges.cast("double"))
    .withColumn("bucket", floor(col("coef") * 10).cast("int"))

  /** q_graph_clustcoef over a (u1 < u2) pair set: (bucket, n_nodes,
    * avg_coef) over the vertices of degree ≥ 2, ordered by bucket. Below
    * the budget the per-vertex rows of [[triangleCounts]] run
    * [[withCoef]] and `davg`'s DECIMAL(18,6) cast as a projection (folded
    * into the `LocalRelation`, no job); the driver only groups, counts
    * and sums those decimals exactly, and the final projection takes
    * `davg`'s double quotient and `r4` — the values Spark's aggregate
    * gives. Above it, the joins of [[triangleFrames]]. */
  private[graft] def clustCoef(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    triangleCounts(pairs) match {
      case Some(vt) =>
        val byBucket = withCoef(vt.filter($"d" >= 2))
          .select($"bucket", $"coef".cast(DecimalType(18, 6)))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (b, rs) =>
            Row(b, rs.length.toLong, rs.map(_.getDecimal(1)).reduce(_ add _))
          }
        s.createDataFrame(java.util.Arrays.asList(byBucket: _*), StructType(Seq(
            StructField("bucket", IntegerType), StructField("n_nodes", LongType),
            StructField("coef_sum", DecimalType(28, 6)))))
          .select($"bucket", $"n_nodes",
            r4($"coef_sum".cast("double") / $"n_nodes").as("avg_coef"))
      case None =>
        val (tri, deg) = triangleFrames(pairs)
        val triNodes = tri
          .select(explode(array($"a", $"b", $"c")).as("u"))
          .groupBy($"u").agg(count(lit(1)).as("t"))
        withCoef(deg.filter($"d" >= 2)
            .join(triNodes, Seq("u"), "left")
            .withColumn("t", coalesce($"t", lit(0L))))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_nodes"), r4(davg($"coef", 6)).as("avg_coef"))
          .orderBy($"bucket")
    }
  }

  /** Community `c`'s modularity term e_c/m − (d_c/2m)² over (e_c, d_c, m). */
  private def qC: Column =
    col("e_c").cast("double") / col("m") -
      (col("d_c").cast("double") / (lit(2.0) * col("m"))) *
      (col("d_c").cast("double") / (lit(2.0) * col("m")))

  /** m_graph_modularity over a (u1 < u2) pair set and its (id, label)
    * communities: (n_communities, m_edges, modularity). Below the budget
    * (both frames through [[Endgame.rows]]) the driver counts m, e_c and
    * d_c with the joins' inner semantics — an edge counts toward e_c only
    * when both ends carry the same label, a vertex's degree toward d_c
    * only when it carries one — and [[qC]] with its DECIMAL(28,12) cast
    * runs as a projection over a `LocalRelation` of the communities; the
    * driver sums those decimals exactly and the last projection rounds.
    * On no communities, `m_edges` and `modularity` are NULL, as Spark's
    * `max` and `sum` give them. Above it, the vertex-keyed joins and
    * community-keyed aggregates. */
  private[graft] def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val local = for {
      es <- longPairs(pairs)
      ls <- Endgame.rows(labels.select($"id".cast("long"), $"label".cast("long")).as[(Long, Long)])
    } yield {
      val lab = mutable.LongMap.from(ls)
      val deg = mutable.LongMap.empty[Long]
      val eC = mutable.LongMap.empty[Long]
      for ((a, b) <- es) {
        inc(deg, a); inc(deg, b)
        for (la <- lab.get(a); lb <- lab.get(b) if la == lb) inc(eC, la)
      }
      val dC = mutable.LongMap.empty[Long]
      for ((v, d) <- deg; c <- lab.get(v)) inc(dC, c, d)
      val m = es.length.toLong
      val terms = dC.toSeq.map { case (c, d) => (c, d, eC.getOrElse(c, 0L), m) }
        .toDF("label", "d_c", "e_c", "m")
        .select(qC.cast(DecimalType(28, 12))).collect().flatMap(r => Option(r.getDecimal(0)))
      val row = Row(dC.size.toLong, if (dC.isEmpty) null else m,
        if (terms.isEmpty) null else terms.reduce(_ add _))
      s.createDataFrame(java.util.Arrays.asList(row), StructType(Seq(
          StructField("n_communities", LongType, nullable = false),
          StructField("m_edges", LongType), StructField("q_sum", DecimalType(38, 12)))))
        .select($"n_communities", $"m_edges", round($"q_sum".cast("double"), 6).as("modularity"))
    }
    local.getOrElse {
      val e = pairs.select($"u1", $"u2")
      val edges = e.select($"u1".as("src"), $"u2".as("dst"))
        .unionAll(e.select($"u2".as("src"), $"u1".as("dst")))
      val ec = e
        .join(labels.select($"id".as("u1"), $"label".as("lab1")), Seq("u1"))
        .join(labels.select($"id".as("u2"), $"label".as("lab2")), Seq("u2"))
        .filter($"lab1" === $"lab2")
        .groupBy($"lab1".as("label")).agg(count(lit(1)).as("e_c"))
      val dc = edges.groupBy($"src".as("id")).agg(count(lit(1)).as("d"))
        .join(labels, Seq("id"))
        .groupBy($"label").agg(sum($"d").as("d_c"))
      val m = e.agg(count(lit(1)).as("m"))
      dc.join(ec, Seq("label"), "left")
        .select($"label", $"d_c", coalesce($"e_c", lit(0L)).as("e_c"))
        .crossJoin(broadcast(m)) // 1-row stats join, the declared pattern
        .withColumn("q_c", qC)
        .agg(count(lit(1)).as("n_communities"), max($"m").as("m_edges"),
             round(sum($"q_c".cast(DecimalType(28, 12))).cast("double"), 6)
               .as("modularity"))
    }
  }

  /** q_graph_bfs over a (u1 < u2) pair set: the (dist, n_users) histogram
    * of ≤8-hop BFS distances from the 3 smallest vertex ids, ordered by
    * dist. Below the budget (gated at [[Bfs.run]]'s own weight 2, so its
    * driver kernel runs too) the seeds come from the fetched rows and the
    * histogram from the `LocalRelation` BFS returns; above it, the
    * distinct/order/limit seed plan and the grouped histogram. */
  private[graft] def bfsHistogram(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = pairs.select($"u1", $"u2")
    val local = for {
      es <- longPairs(pairs, 2)
      seeds = es.flatMap { case (a, b) => Array(a, b) }.distinct.sorted.take(3)
      dist <- Endgame.rows(
        Bfs.run(s, edges, seeds.toSeq.toDF("id"), maxHops = 8).select($"dist").as[Int])
    } yield dist.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (d, vs) => (d, vs.length.toLong) }.toDF("dist", "n_users")
    local.getOrElse {
      val verts = pairs.select($"u1".as("id")).unionAll(pairs.select($"u2".as("id")))
        .distinct()
      Bfs.run(s, edges, verts.orderBy($"id").limit(3), maxHops = 8)
        .groupBy($"dist").agg(count(lit(1)).as("n_users"))
        .orderBy($"dist")
    }
  }

  /** Convex CCW pentagon for q_geo_polygon, as (lon, lat) vertices — all
    * integral so every edge delta is an exact double literal. Both the
    * Spark predicate and the oracle SQL are generated from THIS list, so
    * the two engines can never drift onto different geometries. */
  private val polygonVerts: Seq[(Double, Double)] =
    Seq((-60.0, -35.0), (45.0, -50.0), (95.0, 10.0), (20.0, 55.0), (-75.0, 30.0))

  /** Edges as (x1, y1, dx, dy) with the wrap-around edge included. */
  private val polygonEdges: Seq[(Double, Double, Double, Double)] =
    polygonVerts.zip(polygonVerts.tail :+ polygonVerts.head).map {
      case ((x1, y1), (x2, y2)) => (x1, y1, x2 - x1, y2 - y1)
    }
  private val polyLonMin = polygonVerts.map(_._1).min
  private val polyLonMax = polygonVerts.map(_._1).max
  private val polyLatMin = polygonVerts.map(_._2).min
  private val polyLatMax = polygonVerts.map(_._2).max

  /** Oracle mirror of the half-plane conjunction, identical literals. */
  private val polygonSqlPred: String =
    polygonEdges.map { case (x1, y1, dx, dy) =>
      f"($dx%.1f * (lat - ($y1%.1f)) - $dy%.1f * (lon - ($x1%.1f)) >= 0.0)"
    }.mkString("\n    AND ")

  // ---- oracle-side shared SQL ----------------------------------------------

  /** Per-segment km with the leading NULL row declared NULL — the
    * q_traj_tortuosity oracle's inner operand (kept out of the map
    * literal so the interpolation stays single-level). */
  private val tortSegKmSql: String =
    "CASE WHEN plat IS NULL THEN NULL ELSE " +
      HaversineDist.oracleSql("plat", "plon", "lat", "lon") + " END"

  private val ptsCte =
    """WITH pts AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    ((event_id * 37) % 1700) / 10.0 - 85.0 AS lat,
      |    ((event_id * 131) % 3600) / 10.0 - 180.0 AS lon
      |  FROM events)""".stripMargin

  private val segCte = ptsCte +
    s""",
       |seg AS (
       |  SELECT user_id, event_id, ts_us,
       |    CASE WHEN plat IS NULL THEN NULL
       |         ELSE ${HaversineDist.oracleSql("plat", "plon", "lat", "lon")} END AS seg_km,
       |    ts_us - pts_us AS dt_us
       |  FROM (
       |    SELECT user_id, event_id, ts_us, lat, lon,
       |      lag(lat, 1) OVER w AS plat, lag(lon, 1) OVER w AS plon,
       |      lag(ts_us, 1) OVER w AS pts_us
       |    FROM pts
       |    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)) t)""".stripMargin

  val queries: Map[String, QFn] = Map(
    "q_geo_haversine" -> ((s, dir) => {
      import s.implicits._
      // Output at 0.1 km: a single per-segment libm-ulp wobble can flip one
      // DECIMAL(18,4) cast by 1e-4 (observed once at sf0.1 across 100k
      // segments), and round(3) of the sum sits close enough to see it;
      // round(1) needs the sum within 1e-4 of a 0.05 boundary ON TOP of a
      // flip — combined probability ~1e-6 per group at sf0.1.
      segments(s, dir)
        .groupBy($"user_id")
        .agg(dsumR($"seg_km", 1, 4).as("track_km"),
             count($"seg_km").as("n_segs"))
        .orderBy($"user_id")
    }),

    "q_geo_bbox" -> ((s, dir) => {
      import s.implicits._
      pts(s, dir)
        .filter($"lat".between(-30.0, 30.0) && $"lon".between(-90.0, 90.0))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_inside"))
        .orderBy($"event_type")
    }),

    // Point-in-polygon containment (STARK `contains` with a real geometry,
    // not just the axis-aligned bbox): a convex CCW pentagon tested by the
    // half-plane cross-product conjunction — inside ⟺ the point sits on
    // the left of every edge. Both engines evaluate the SAME expression
    // tree over the same derived doubles (edge deltas are integral, so the
    // literals are exact), making the per-row verdict bit-deterministic.
    // The sargable bbox conjunct runs FIRST: at 100 TB with stored
    // coordinates it reaches the parquet scan as a min/max-prunable range
    // predicate and the 10-flop exact test only touches bbox survivors.
    // Convex-only is a declared bound — a concave polygon decomposes into
    // convex pieces OR'd together with the same per-piece plan.
    "q_geo_polygon" -> ((s, dir) => {
      import s.implicits._
      val inPoly = polygonEdges.map { case (x1, y1, dx, dy) =>
        (lit(dx) * ($"lat" - lit(y1)) - lit(dy) * ($"lon" - lit(x1))) >= 0.0
      }.reduce(_ && _)
      pts(s, dir)
        .filter($"lon".between(polyLonMin, polyLonMax) &&
                $"lat".between(polyLatMin, polyLatMax))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_bbox"),
             sum(when(inPoly, 1L).otherwise(0L)).as("n_inside"))
        .withColumn("inside_frac",
          round($"n_inside".cast("double") / $"n_bbox".cast("double"), 4))
        .orderBy($"event_type")
    }),

    // Spatial hotspot detection — Getis-Ord Gi*-style z-scores (Getis &
    // Ord, Geographical Analysis 1992) over the FULL 18×36 10°-cell
    // lattice (empty cells are real observations of 0 — omitting them
    // biases X̄ and S upward): for each cell, the 3×3 neighborhood sum
    // S_i vs its expectation under the global mean, normalized by the
    // population sd and the varying neighbor count (6 at lat edges via
    // clamp, 9 elsewhere; lon neighbors wrap the mod-36 ring). Top 15
    // hottest cells. Everything integer-exact until the final z (global
    // scalars from identical operands in both engines); the lattice is
    // generated, the only data-sized job is the cell-count hash agg —
    // at 100 TB the z pass runs over 648 rows regardless of volume.
    "q_geo_hotspot" -> ((s, dir) => {
      import s.implicits._
      val grid = latticeGrid(s, dir)
      val contrib = grid
        .withColumn("dla", explode(array((-1 to 1).map(i => lit(i.toLong)): _*)))
        .withColumn("dlo", explode(array((-1 to 1).map(i => lit(i.toLong)): _*)))
        .select(($"la" + $"dla").as("cell_lat"),
                pmod($"lo" + $"dlo", lit(36L)).as("cell_lon"), $"x")
        .filter($"cell_lat" >= -9L && $"cell_lat" <= 8L)
      val nbr = contrib.groupBy($"cell_lat", $"cell_lon")
        .agg(sum($"x").as("s_i"), count(lit(1)).as("w_i"))
      val gs = grid.agg(sum($"x").as("sx"), sum($"x" * $"x").as("sx2"),
                        count(lit(1)).as("n"))
      nbr.crossJoin(broadcast(gs)) // 1-row stats join, the declared pattern
        .withColumn("xbar", $"sx".cast("double") / $"n")
        .withColumn("sd",
          sqrt($"sx2".cast("double") / $"n" - $"xbar" * $"xbar"))
        .withColumn("den",
          $"sd" * sqrt(($"n" * $"w_i" - $"w_i" * $"w_i").cast("double") / ($"n" - 1L)))
        .withColumn("z", when($"sd" > 0.0,
          round(($"s_i".cast("double") - $"xbar" * $"w_i") / $"den", 4)))
        .select($"cell_lat", $"cell_lon", $"s_i", $"w_i", $"z")
        .orderBy($"z".desc, $"cell_lat", $"cell_lon")
        .limit(15)
    }),

    // Global Moran's I (Moran, Biometrika 1950) over the same 10°-cell
    // lattice — the GLOBAL spatial-autocorrelation scalar completing
    // q_geo_hotspot's LOCAL Gi* ("are events clustered at all" before
    // "where"): I = (n/W)·Σᵢⱼwᵢⱼzᵢzⱼ/Σzᵢ², binary queen weights (3×3
    // ring minus self, lon wrapping the mod-36 ring, lat clamped), plus
    // E[I] = −1/(n−1) and the z-score under the normality null (Cliff &
    // Ord 1981: S1 = 2W and S2 = 4·Σwᵢ² for symmetric binary W).
    // Everything is INTEGER-exact to the last step: with x̄ = sx/n,
    // n²·Σzᵢ(sᵢ−wᵢx̄) = n²Σxs − n·sx·(Σs + Σwx) + sx²W and n²·Σz² =
    // n²Σx² − n·sx² — all DECIMAL(38,0)/HUGEINT products of BIGINT power
    // sums (the pearsonR discipline), so both engines divide identical
    // operands. One data-sized cell agg; the I pass runs over 648 rows
    // at any volume.
    "q_geo_moran" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val grid = latticeGrid(s, dir)
      val st = grid
        .join(queenNbr(s, grid), $"la" === $"cla" && $"lo" === $"clo")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
             sum($"x".cast(dec) * $"x".cast(dec)).as("sxx"),
             sum($"x".cast(dec) * $"s_i".cast(dec)).as("sxs"),
             sum($"w_i".cast(dec) * $"x".cast(dec)).as("swx"),
             sum($"s_i").as("ss"), sum($"w_i").as("w"),
             sum($"w_i".cast(dec) * $"w_i".cast(dec)).as("sw2"))
      val (nD, sxD, wD) = (col("n").cast(dec), col("sx").cast(dec),
                           col("w").cast(dec))
      st
        .withColumn("num2", nD * nD * $"sxs" - nD * sxD * $"ss".cast(dec) -
          nD * sxD * $"swx" + sxD * sxD * wD)
        .withColumn("den2", nD * nD * $"sxx" - nD * sxD * sxD)
        .withColumn("vnum", nD * nD * lit(2L).cast(dec) * wD -
          nD * lit(4L).cast(dec) * $"sw2" + lit(3L).cast(dec) * wD * wD)
        .withColumn("vden", (nD * nD - lit(1L).cast(dec)) * wD * wD)
        .withColumn("im", ($"n".cast("double") / $"w") *
          ($"num2".cast("double") / $"den2".cast("double")))
        .withColumn("e", lit(-1.0) / ($"n" - 1L).cast("double"))
        .withColumn("v", $"vnum".cast("double") / $"vden".cast("double") -
          $"e" * $"e")
        .select($"n".as("n_cells"), $"w".as("w_pairs"),
          when($"den2" > lit(0L).cast(dec), round($"im", 6)).as("i_moran"),
          round($"e", 6).as("e_i"),
          when($"den2" > lit(0L).cast(dec),
            round(($"im" - $"e") / sqrt($"v"), 4)).as("z_score"))
    }),

    // LISA — LOCAL Moran's Iᵢ (Anselin, Geographical Analysis 1995) per
    // lattice cell with the HH/LL/HL/LH quadrant labels: WHERE the
    // autocorrelation q_geo_moran measures globally lives (HH = hot
    // cluster, LL = cold cluster, HL/LH = spatial outliers) — the third
    // member of the ESDA family (global I, local Gi*, local Iᵢ). The
    // whole statistic reduces to integers: with x̄ = sx/n and m₂ scaled
    // by n², Iᵢ = (n·xᵢ − sx)·(n·sᵢ − wᵢ·sx) / (n·sxx − sx²) — two
    // exact integer factors over a shared positive constant, so the
    // quadrant is the SIGN PAIR of exact integers (never a double
    // boundary) and the top-15 |Iᵢ| ordering compares exact integer
    // numerators (ties → cell coords). One double division at the end;
    // same substrate aggs as moran, 648-row everything after.
    "q_geo_lisa" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val grid = latticeGrid(s, dir)
      val wAll = Window.partitionBy()
      grid.join(queenNbr(s, grid), $"la" === $"cla" && $"lo" === $"clo")
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sx", sum($"x").over(wAll))
        .withColumn("sxx", sum($"x".cast(dec) * $"x".cast(dec)).over(wAll))
        .withColumn("f1", $"n".cast(dec) * $"x".cast(dec) - $"sx".cast(dec))
        .withColumn("f2", $"n".cast(dec) * $"s_i".cast(dec) -
          $"w_i".cast(dec) * $"sx".cast(dec))
        .withColumn("den", $"n".cast(dec) * $"sxx" -
          $"sx".cast(dec) * $"sx".cast(dec))
        .withColumn("i_local",
          round(($"f1" * $"f2").cast("double") / $"den".cast("double"), 6))
        .withColumn("quadrant",
          when($"f1" > 0 && $"f2" > 0, "HH")
            .when($"f1" < 0 && $"f2" < 0, "LL")
            .when($"f1" > 0 && $"f2" < 0, "HL")
            .when($"f1" < 0 && $"f2" > 0, "LH"))
        .orderBy(abs($"f1" * $"f2").desc, $"la", $"lo")
        .limit(15)
        .select($"la".as("cell_lat"), $"lo".as("cell_lon"), $"x", $"w_i",
                $"i_local", $"quadrant")
    }),

    // Spatial co-location pattern mining (Shekhar & Huang, SSTD 2001):
    // per event-type pair, the PARTICIPATION INDEX over the 10°-cell
    // neighborhoods — PI(A,B) = min(fraction of A instances sharing a
    // cell with some B, fraction of B instances sharing a cell with some
    // A). The classic "which event types spatially co-occur" miner
    // (q_mine_pairs is its BASKET twin; here the basket is space). Pair
    // formation uses the spearman fold-explode: each cell's ≤|types|
    // (type, count) rows fold into ONE list and explode twice — never a
    // cell self-join (which would re-scan the substrate). Everything is
    // exact-integer until the two participation ratios (round 6) and
    // their min; one data-sized (cell, type) hash agg, ≤|types|² rows
    // after it at any volume.
    "q_geo_coloc" -> ((s, dir) => {
      import s.implicits._
      val ct = pts(s, dir)
        .groupBy(floor($"lat" / 10.0).cast("long").as("la"),
                 pmod(floor(($"lon" + 180.0) / 10.0).cast("long"), lit(36L)).as("lo"),
                 $"event_type")
        .agg(count(lit(1)).as("c"))
      val perCell = ct.groupBy($"la", $"lo")
        .agg(collect_list(struct($"event_type", $"c")).as("lst"))
      val directed = perCell
        .select(explode($"lst").as("p1"), $"lst")
        .select($"p1.event_type".as("ta"), $"p1.c".as("ca"),
                explode($"lst").as("p2"))
        .filter($"ta" =!= $"p2.event_type")
        .groupBy($"ta", $"p2.event_type".as("tb"))
        .agg(sum($"ca").as("n_with"))
      val totals = ct.groupBy($"event_type").agg(sum($"c").as("n_total"))
      val ab = directed.join(totals, $"ta" === $"event_type")
        .select($"ta", $"tb", $"n_with", $"n_total")
      val ba = ab.select($"ta".as("tb2"), $"tb".as("ta2"),
                         $"n_with".as("n_with_b"), $"n_total".as("n_total_b"))
      ab.filter($"ta" < $"tb")
        .join(ba, $"ta" === $"ta2" && $"tb" === $"tb2")
        .select($"ta".as("t1"), $"tb".as("t2"),
          $"n_with".as("n1_with"), $"n_total".as("n1_total"),
          $"n_with_b".as("n2_with"), $"n_total_b".as("n2_total"),
          round($"n_with".cast("double") / $"n_total", 6).as("pr1"),
          round($"n_with_b".cast("double") / $"n_total_b", 6).as("pr2"))
        .withColumn("pi", least($"pr1", $"pr2"))
        .orderBy($"t1", $"t2")
    }),

    // Geofence transitions — per-user ENTRY/EXIT detection against the
    // shared pentagon zone (the alerting primitive of a telemetry
    // platform: "vehicle entered the depot area"). in-zone is the SAME
    // generated half-plane conjunction as q_geo_polygon (+ its bbox
    // pre-filter as a conjunct, so one substrate serves both keys); the
    // transition test is one lag over the per-user time window — entry =
    // inside with prior outside-or-first, exit = outside with prior
    // inside. One user-keyed shuffle; at 100 TB the window pass is
    // partition-local on the (user, day) layout like every traj key.
    "q_geo_fence" -> ((s, dir) => {
      import s.implicits._
      val inPoly = ($"lon".between(polyLonMin, polyLonMax) &&
        $"lat".between(polyLatMin, polyLatMax) &&
        polygonEdges.map { case (x1, y1, dx, dy) =>
          (lit(dx) * ($"lat" - lit(y1)) - lit(dy) * ($"lon" - lit(x1))) >= 0.0
        }.reduce(_ && _))
      pts(s, dir)
        .withColumn("inz", when(inPoly, 1L).otherwise(0L))
        .withColumn("prev", lag($"inz", 1).over(trajW))
        .withColumn("entry",
          when($"inz" === 1L && ($"prev".isNull || $"prev" === 0L), 1L).otherwise(0L))
        .withColumn("exit",
          when($"inz" === 0L && $"prev" === 1L, 1L).otherwise(0L))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_points"),
             sum($"inz").as("n_inside"),
             sum($"entry").as("n_entries"),
             sum($"exit").as("n_exits"),
             min(when($"entry" === 1L, $"ts_us")).as("first_entry_us"))
        .orderBy($"user_id")
    }),

    // HaversineRadiusPruning rewrites the radius test into
    // bbox-conjuncts + radius (sargable range predicates run before the
    // trig; on stored lat/lon columns they'd reach the parquet scan).
    // Radius 1200 km (r13 — the r12 500 km disc was golden-EMPTY at
    // sf0.001, where the sparse lattice's nearest point to Paris sits at
    // 1043.8 km; 1200 keeps every SF non-vacuous and the disc selective).
    "q_geo_radius" -> ((s, dir) => {
      import s.implicits._
      graft.plans.HaversineRadiusPruning.install(s)
      pts(s, dir)
        .filter(hv($"lat", $"lon", lit(48.85), lit(2.35)) < 1200.0)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_close"))
        .orderBy($"user_id")
    }),

    "q_geo_grid" -> ((s, dir) => {
      import s.implicits._
      pts(s, dir)
        .groupBy(floor($"lat" / 10.0).cast("long").as("cell_lat"),
                 floor($"lon" / 10.0).cast("long").as("cell_lon"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"cell_lat", $"cell_lon")
        .limit(20)
    }),

    // Z-order (Morton) layout audit — the multi-dimensional data-skipping
    // primitive (Morton 1966; the clustering key behind Delta/Iceberg
    // OPTIMIZE ZORDER BY): interleave the 8-bit lat/lon cell ids into a
    // 16-bit z value and histogram by aligned 1024-value z-buckets. The
    // per-bucket lat/lon SPANS are the point: an aligned 2^10 z-prefix
    // fixes the top 3 bits of BOTH coordinates, so every bucket covers a
    // ≤32×32-cell rectangle (GeoSpec pins it, and pins that a row-order
    // layout of the same data has near-full-width spans) — range-
    // partitioning 100 TB by z therefore gives every file a tight
    // lat/lon min/max envelope for parquet stats pruning, which a sort
    // on (lat, lon) lexicographically cannot do for the second column.
    // Cells are INTEGER-exact from the event_id formula (never through
    // the derived doubles), and the interleave terms for BOTH engines
    // are generated by one Scala loop (the q_geo_polygon discipline).
    "q_geo_zorder" -> ((s, dir) => {
      import s.implicits._
      val (latc, lonc, z) = zOrderExprs(sparkDialect = true)
      t(s, dir, "events")
        .selectExpr(s"$latc AS latc", s"$lonc AS lonc")
        .selectExpr("latc", "lonc", s"($z) AS z")
        .groupBy(expr("z div 1024").as("z_bucket"))
        .agg(count(lit(1)).as("n"),
             min($"z").as("min_z"), max($"z").as("max_z"),
             countDistinct($"latc" * 256L + $"lonc").as("n_cells"),
             (max($"latc") - min($"latc")).as("lat_span"),
             (max($"lonc") - min($"lonc")).as("lon_span"))
        .orderBy($"z_bucket")
    }),

    // Origin–destination matrix: per (user, day), the first and last grid
    // cell visited → trip counts per OD pair — the classic telemetry
    // mobility product. One (user, day) shuffle feeds both window passes
    // and the rank-1 filter; the OD aggregate then shuffles on the pair
    // key. At 100 TB the day column is the natural partition column, so
    // the window pass is partition-local.
    "q_geo_od" -> ((s, dir) => {
      import s.implicits._
      val wOrd = Window.partitionBy($"user_id", $"day").orderBy($"ts_us", $"event_id")
      val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      pts(s, dir)
        .withColumn("day", expr("ts_us div 86400000000"))
        .withColumn("cell", concat_ws(":",
          floor($"lat" / 10.0).cast("long"), floor($"lon" / 10.0).cast("long")))
        .withColumn("origin", first($"cell").over(wAll))
        .withColumn("dest", last($"cell").over(wAll))
        .withColumn("rn", row_number().over(wOrd))
        .filter($"rn" === 1)
        .groupBy($"origin", $"dest")
        .agg(count(lit(1)).as("n_trips"))
        .orderBy($"origin", $"dest")
    }),

    // Exact kNN on the grid index with RING GROWTH (r8) — the full-scan
    // plan this key declared through r7 is gone: candidates come from the
    // probe cell's (2r+1)² box starting at r=1, widened until the kth
    // candidate's distance is certified inside the ring's safe radius (see
    // [[graft.operators.GridKnn]]), so the key is exact at ANY density —
    // the certificate, not a measured fixture, carries correctness. Oracle
    // stays the brute-force full scan: hash equality proves the pruned
    // search loses no neighbour; GeoSpec additionally plants a sparse
    // neighborhood that FORCES ring growth and pins exactness there.
    "q_geo_knn" -> ((s, dir) =>
      graft.operators.GridKnn.topK(pts(s, dir), pLat = 10.0, pLon = 20.0,
        cellDeg = 10.0, k = 5)._1),

    // Index-backed kNN: the grid layout IS the index. Candidates are
    // restricted to the probe cell's 5×5 (ring=2) 10° neighborhood via a
    // SARGABLE lat/lon range predicate — at 100 TB, on the cell-partitioned
    // layout PlanSpec demonstrates, that predicate prunes partition
    // DIRECTORIES (and row groups within the kept ones) before any scoring;
    // TakeOrderedAndProject then heaps only the pruned candidates, so the
    // probe reads 25 cells of the planet, not all of it. Exactness: the 5th
    // neighbour's distance must stay inside the ring's safe radius (min
    // distance from probe to ring boundary, ≈2190 km here; at sf0.001 the
    // 5th neighbour sits at ~1190 km, which is why ring=1 with its 1094 km
    // bound was NOT taken) — pinned by a GeoSpec property plus the
    // UNCHANGED brute-force oracle (hash equality means pruned ≡ full
    // scan). Repeated/low-latency lookups reuse the same layout with a
    // different probe cell — no all-points pass per probe, the
    // TakeOrderedAndProject-only weakness this key replaces.
    "q_geo_knn_grid" -> ((s, dir) => {
      import s.implicits._
      val (pLat, pLon, cell, ring) = (10.0, 20.0, 10.0, 2)
      val latLo = (math.floor(pLat / cell) - ring) * cell
      val latHi = (math.floor(pLat / cell) + ring + 1) * cell
      val lonLo = (math.floor(pLon / cell) - ring) * cell
      val lonHi = (math.floor(pLon / cell) + ring + 1) * cell
      pts(s, dir)
        .filter($"lat" >= latLo && $"lat" < latHi &&
                $"lon" >= lonLo && $"lon" < lonHi)
        .withColumn("dist_km", r3(hv($"lat", $"lon", lit(pLat), lit(pLon))))
        .select($"event_id", $"dist_km")
        .orderBy($"dist_km", $"event_id")
        .limit(5)
    }),

    // kNN JOIN — for EVERY left row its k nearest right rows (the second
    // STARK join surface beside withinDistance): each user's LATEST
    // position joined to its 3 nearest depots through the batched
    // ring-certificate machinery (operators/KnnJoin — GridKnn's ring
    // growth per left row, all uncertified rows per round in ONE
    // cell-keyed equi-join, never a BNL; O(#rings) driver rounds, not
    // O(|left|) probes). Oracle is the full brute-force cross join +
    // rank: hash equality proves the grid path loses no neighbour.
    "q_geo_knn_join" -> ((s, dir) => {
      import s.implicits._
      val wLatest = Window.partitionBy($"user_id").orderBy($"ts_us".desc, $"event_id".desc)
      val latest = pts(s, dir)
        .withColumn("rn", row_number().over(wLatest)).filter($"rn" === 1)
        .select($"user_id", $"lat", $"lon")
      val dep = t(s, dir, "orders")
        .filter($"o_orderkey" % 101 === 7)
        .select($"o_orderkey".as("depot_id"),
          ((($"o_orderkey" * 59L) % 1700L) / 10.0 - 85.0).as("d_lat"),
          ((($"o_orderkey" * 211L) % 3600L) / 10.0 - 180.0).as("d_lon"))
      graft.operators.KnnJoin
        .knn(latest, "user_id", "lat", "lon", dep, "depot_id", "d_lat", "d_lon",
          k = 3, cellDeg = 10.0)
        .orderBy($"user_id", $"rk")
    }),

    // Two-relation ε-distance spatial join (the STARK join surface that
    // was missing beside the SELF-join forms: convoy, DBSCAN candidates):
    // event points ⋈ depot points (a second, differently-derived point
    // set from orders) within 200 km. Candidates come from 4° grid-cell
    // buckets — the depot side (small) explodes its 3×3 cell neighborhood
    // and the join is a pure EQUI-join on (cell_lat, cell_lon), never a
    // cartesian/BNL (PlanSpec asserts); exact haversine then verifies.
    // Correctness of the bucket scheme: both relations carry a declared
    // |lat| ≤ 60° service-area filter, so cos(lat) ≥ 0.5 and a 200 km
    // pair is ≤ 1.80° apart in lat and ≤ 3.61° in lon — strictly inside
    // one 4° cell step in each axis. Lon cells live on a mod-90 ring so
    // antimeridian-adjacent pairs (Δlon ≈ 360°, true distance small —
    // haversine wraps correctly) stay candidates. At 100 TB both sides
    // shuffle on the cell key only (here the depot side broadcasts); the
    // oracle is the full O(n·m) exact distance join, so hash equality
    // proves the pruned candidate set loses no pair.
    "q_geo_join" -> ((s, dir) => {
      import s.implicits._
      val ev = withGeo(t(s, dir, "events"))
        .select($"event_id", $"user_id", $"lat", $"lon")
      val dep = t(s, dir, "orders")
        .filter($"o_orderkey" % 101 === 7)
        .select($"o_orderkey".as("depot_id"),
          ((($"o_orderkey" * 59L) % 1700L) / 10.0 - 85.0).as("d_lat"),
          ((($"o_orderkey" * 211L) % 3600L) / 10.0 - 180.0).as("d_lon"))
      graft.operators.DistanceJoin
        .within(ev, "lat", "lon", dep, "d_lat", "d_lon",
          epsKm = 200.0, cellDeg = 4.0, maxAbsLat = 60.0)
        .groupBy($"depot_id")
        .agg(count(lit(1)).as("n_events"),
             countDistinct($"user_id").as("n_users"),
             r3(min($"km")).as("min_km"))
        .orderBy($"depot_id")
    }),

    // Spatio-temporal co-location join — events within 400 km AND ±7
    // days of a depot SERVICE VISIT (depot + visit time derived from
    // orders with integer-exact arithmetic): the telemetry
    // contact-tracing / service-window shape, q_geo_join extended by the
    // time axis. Candidates come from (8° cell, 7-day bucket) keys — the
    // depot side explodes its 3×3×3 neighborhood and the join stays a
    // pure equi-join (PlanSpec asserts); time buckets of width exactly τ
    // make the ±1 explode candidate-complete by construction. Oracle is
    // the full exact cross join with both predicates — hash equality
    // proves the (cell, bucket) scheme loses no pair.
    "q_geo_st_join" -> ((s, dir) => {
      import s.implicits._
      val tauUs = 604800000000L // ±7 days
      val ev = pts(s, dir).select($"event_id", $"user_id", $"lat", $"lon", $"ts_us")
      val dep = t(s, dir, "orders")
        .filter($"o_orderkey" % 101 === 7)
        .select($"o_orderkey".as("depot_id"),
          ((($"o_orderkey" * 59L) % 1700L) / 10.0 - 85.0).as("d_lat"),
          ((($"o_orderkey" * 211L) % 3600L) / 10.0 - 180.0).as("d_lon"),
          (lit(1704067200000000L) + ($"o_orderkey" % 28) * 86400000000L +
            ($"o_orderkey" % 24) * 3600000000L).as("visit_us"))
      graft.operators.DistanceJoin
        .withinSt(ev, "lat", "lon", "ts_us", dep, "d_lat", "d_lon", "visit_us",
          epsKm = 400.0, tauUs = tauUs, cellDeg = 8.0, maxAbsLat = 60.0)
        .groupBy($"depot_id")
        .agg(count(lit(1)).as("n_events"),
             countDistinct($"user_id").as("n_users"),
             r3(min($"km")).as("min_km"),
             floor(min($"dt_us") / lit(3600000000L)).cast("long").as("min_dt_h"))
        .orderBy($"depot_id")
    }),

    // Track REGULARIZATION — each user's position linearly interpolated
    // at 6-hour marks between their first and last fix (the resampling
    // step that turns irregular telemetry into an aligned-panel input
    // for models; naive degree-linear lon interpolation DECLARED — a
    // production variant would slerp across the antimeridian). Marks and
    // fixes union into ONE per-user ordered window pass: backward
    // last-non-null carries the previous fix, forward first-non-null the
    // next, and the interpolation fraction divides integer-exact µs
    // operands so both engines compute identical doubles (per-row
    // round(6), decimal-routed checksums — the q_geo FP discipline).
    // Output: per-user mark count + position checksums.
    "q_traj_interp" -> ((s, dir) => {
      import s.implicits._
      val stepUs = 21600000000L // 6 h
      val fx = pts(s, dir).select($"user_id", $"ts_us", $"lat", $"lon")
      val marks = fx.groupBy($"user_id")
        .agg(min($"ts_us").as("lo"), max($"ts_us").as("hi"))
        .withColumn("mlo", expr(s"((lo + ${stepUs - 1}L) div ${stepUs}L) * ${stepUs}L"))
        .withColumn("mhi", expr(s"(hi div ${stepUs}L) * ${stepUs}L"))
        .filter($"mlo" <= $"mhi")
        .select($"user_id",
          explode(expr(s"sequence(mlo, mhi, ${stepUs}L)")).as("ts_us"))
      val u = fx
        .select($"user_id", $"ts_us", lit(0L).as("is_mark"), $"lat", $"lon")
        .unionAll(marks.select($"user_id", $"ts_us", lit(1L).as("is_mark"),
          lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon")))
      val wB = Window.partitionBy($"user_id").orderBy($"ts_us", $"is_mark")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy($"user_id").orderBy($"ts_us", $"is_mark")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      u
        .withColumn("plat", last($"lat", ignoreNulls = true).over(wB))
        .withColumn("plon", last($"lon", ignoreNulls = true).over(wB))
        .withColumn("pt", last(when($"lat".isNotNull, $"ts_us"), ignoreNulls = true).over(wB))
        .withColumn("nlat", first($"lat", ignoreNulls = true).over(wF))
        .withColumn("nlon", first($"lon", ignoreNulls = true).over(wF))
        .withColumn("nt", first(when($"lat".isNotNull, $"ts_us"), ignoreNulls = true).over(wF))
        .filter($"is_mark" === 1)
        .withColumn("f", when($"nt" > $"pt",
          ($"ts_us" - $"pt").cast("double") / ($"nt" - $"pt")).otherwise(lit(0.0)))
        // µdeg QUANTIZATION, not round(…, 6): the interpolant is an
        // arbitrary rational, so it can land within an ulp of a .5e-6
        // boundary — and there the ENGINES' round implementations split
        // (Spark: exact-decimal HALF_UP on the binary expansion; DuckDB:
        // scaled multiply) even though their doubles are bit-identical
        // (one such row appeared at sf0.1: ~45k marks ≈ enough draws to
        // hit a boundary). floor of the identical double IS
        // bit-deterministic, and the checksums stay exact BIGINTs — this
        // key now has no double rounding anywhere.
        .withColumn("lat_u",
          floor(($"plat" + ($"nlat" - $"plat") * $"f") * 1e6).cast("long"))
        .withColumn("lon_u",
          floor(($"plon" + ($"nlon" - $"plon") * $"f") * 1e6).cast("long"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_marks"),
             sum($"lat_u").as("sum_lat_udeg"),
             sum($"lon_u").as("sum_lon_udeg"))
        .orderBy($"user_id")
    }),

    // Dwell-time accounting — total time spent per 10° grid cell (the
    // zone-utilization product: "how long does the fleet sit in each
    // area"): the interval between consecutive fixes belongs to the
    // EARLIER fix's cell (declared convention — the vehicle was last
    // seen there), so each segment's dt_us lands on its lag point's
    // cell. Top-10 cells by total dwell with visitor counts. One
    // user-keyed window pass (the shared segments substrate) + a
    // cell-keyed agg — integer-exact µs sums end to end.
    "q_traj_dwell" -> ((s, dir) => {
      import s.implicits._
      segments(s, dir)
        .filter($"dt_us" > 0)
        .withColumn("cla", floor($"plat" / 10.0).cast("long"))
        .withColumn("clo", floor($"plon" / 10.0).cast("long"))
        .groupBy($"cla", $"clo")
        .agg(sum($"dt_us").as("dwell_us"),
             count(lit(1)).as("n_stints"),
             countDistinct($"user_id").as("n_users"))
        .orderBy($"dwell_us".desc, $"cla", $"clo")
        .limit(10)
    }),

    "q_traj_speed" -> ((s, dir) => {
      import s.implicits._
      val seg = segments(s, dir)
        .filter($"dt_us" > 0)
        .withColumn("speed_kmh", $"seg_km" / ($"dt_us" / 3.6e9))
      seg.groupBy($"user_id")
        .agg(count(lit(1)).as("n_segs"),
             // round(1), not round(3): see q_geo_haversine — a one-segment
             // cast flip must not be visible in the output rounding.
             dsumR($"seg_km", 1, 4).as("total_km"),
             r2(dsum($"seg_km", 4) / (sum($"dt_us") / 3.6e9)).as("avg_speed_kmh"),
             round(max($"speed_kmh"), 0).cast("long").as("max_speed_kmh"),
             count(when($"speed_kmh" > 1000.0, 1)).as("n_speeding"))
        .orderBy($"user_id")
    }),

    // Stay-points: maximal runs of consecutive points each ≤3000 km from the
    // previous; a run is a "stay" if ≥3 points and ≥10 min span.
    "q_traj_stay" -> ((s, dir) => {
      import s.implicits._
      val wRun = trajW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = segments(s, dir)
        .withColumn("new_run",
          when($"seg_km".isNull || $"seg_km" > 3000.0, 1L).otherwise(0L))
        .withColumn("rid", sum($"new_run").over(wRun))
        .groupBy($"user_id", $"rid")
        .agg(count(lit(1)).as("n_pts"),
             (max($"ts_us") - min($"ts_us")).as("span_us"))
      runs.groupBy($"user_id")
        .agg(count(lit(1)).as("n_runs"),
             count(when($"n_pts" >= 3 && $"span_us" >= 600000000L, 1)).as("n_stays"))
        .orderBy($"user_id")
    }),

    // Trip segmentation — split each user's fix stream at dormancy gaps
    // (> 12 h between consecutive fixes; the fixture's median inter-fix
    // gap is ~7.7 h at every SF, so both sides of the split are populated
    // by construction). The gap-crossing segment opens the NEW trip but
    // contributes neither distance nor duration (the vehicle was parked,
    // not driving) — only new_trip = 0 segments count as movement. Same
    // run-id machinery as q_traj_stay (one user-keyed window pass over the
    // shared segments substrate, then two hash aggs); per-trip distance
    // goes through the DECIMAL route twice (segments → trip, trips →
    // user) so both sums are order-free.
    "q_traj_trips" -> ((s, dir) => {
      import s.implicits._
      val wRun = trajW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val trips = segments(s, dir)
        .withColumn("new_trip",
          when($"dt_us".isNull || $"dt_us" > 43200000000L, 1L).otherwise(0L))
        .withColumn("tid", sum($"new_trip").over(wRun))
        .groupBy($"user_id", $"tid")
        .agg(count(lit(1)).as("n_pts"),
             dsum(when($"new_trip" === 0L, $"seg_km"), 4).as("trip_km"),
             sum(when($"new_trip" === 0L, $"dt_us")).as("dur_us"))
      trips.groupBy($"user_id")
        .agg(count(lit(1)).as("n_trips"),
             round(max(coalesce($"trip_km", lit(0.0))), 1).as("longest_km"),
             dsumR($"trip_km", 1, 4).as("total_km"),
             sum(coalesce($"dur_us", lit(0L))).as("moving_us"))
        .orderBy($"user_id")
    }),

    // Movement-direction histogram — fleet-wide compass-octant counts of
    // the consecutive-fix deltas (the heading-distribution diagnostic: is
    // movement isotropic or corridor-dominated?). Deliberately TRIG-FREE:
    // the octant comes from sign/magnitude comparisons of the raw lat/lon
    // deltas (primary axis = the larger |δ|, secondary = the other
    // axis's sign), so classification is exact double comparisons — no
    // atan2 ulp can flip a sector (the same reason q_geo_polygon uses
    // half-planes, not angles). Zero-movement segments are excluded
    // (declared). The CASE text is generated ONCE for both dialects.
    // One user-keyed window pass (shared segments substrate) + an 8-row
    // hash agg; share divides exact longs.
    "q_traj_heading" -> ((s, dir) => {
      import s.implicits._
      val seg = segments(s, dir)
        .filter($"plat".isNotNull)
        .withColumn("dlat", $"lat" - $"plat")
        .withColumn("dlon", $"lon" - $"plon")
        .filter($"dlat" =!= 0.0 || $"dlon" =!= 0.0)
        .withColumn("sector", expr(headingCaseSql("D")))
      val wAll = Window.partitionBy()
      seg.groupBy($"sector")
        .agg(count(lit(1)).as("n_segs"), countDistinct($"user_id").as("n_users"))
        .withColumn("share", round($"n_segs" / sum($"n_segs").over(wAll), 6))
        .orderBy($"sector")
    }),

    // Radius of gyration (González, Hidalgo, Barabási, "Understanding
    // individual human mobility patterns", Nature 2008) — the standard
    // per-entity mobility footprint: rms haversine distance of a user's
    // fixes from their activity centroid, plus the max excursion. The
    // centroid means are DECIMAL-exact (the pseudo-coordinates are exact
    // 0.1° decimals), the d² sum goes through the DECIMAL route, and the
    // centroid joins back on the user key (an equi-join that stays
    // user-partitioned at any corpus size — no broadcast needed, no
    // skew: each user's fix count is bounded by device sampling rate).
    "q_traj_rog" -> ((s, dir) => {
      import s.implicits._
      val p = pts(s, dir)
      val cent = p.groupBy($"user_id")
        .agg((dsum($"lat", 4) / count(lit(1))).as("clat"),
             (dsum($"lon", 4) / count(lit(1))).as("clon"))
      p.join(cent, Seq("user_id"))
        .withColumn("d", hv($"lat", $"lon", $"clat", $"clon"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pts"),
             round(sqrt(dsum($"d" * $"d", 4) / count(lit(1))), 1).as("rog_km"),
             round(max($"d"), 1).as("max_km"))
        .orderBy($"user_id")
    }),

    // Tortuosity / straightness index (Benhamou, J. Theor. Biol. 2004 —
    // the standard movement-ecology path-efficiency ratio): net
    // displacement between a user's FIRST and LAST fix over the total
    // path length. 1 = beeline, →0 = space-filling wander; the one-number
    // "is this vehicle going somewhere or circling" classifier that
    // complements rog (dispersion) and trips (segmentation). Endpoints
    // are picked by integer rank over the (ts_us, event_id) total order —
    // never FP — and folded via MAX(CASE) in the SAME user-keyed
    // aggregate that sums the path (the segments substrate window
    // already ordered the fixes, so the rank costs no extra exchange).
    // Path length rides the q_geo_haversine DECIMAL route; the ratio
    // divides the identical operands in both engines, round(4); single-
    // fix users (no movement) are declared NULL.
    "q_traj_tortuosity" -> ((s, dir) => {
      import s.implicits._
      val ranked = pts(s, dir)
        .withColumn("rn", row_number().over(trajW))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy($"user_id")))
        .withColumn("plat", lag($"lat", 1).over(trajW))
        .withColumn("plon", lag($"lon", 1).over(trajW))
        .withColumn("seg_km", hv($"plat", $"plon", $"lat", $"lon"))
      ranked.groupBy($"user_id")
        .agg(count(lit(1)).as("n_pts"),
             max(when($"rn" === 1, $"lat")).as("flat"),
             max(when($"rn" === 1, $"lon")).as("flon"),
             max(when($"rn" === $"nn", $"lat")).as("llat"),
             max(when($"rn" === $"nn", $"lon")).as("llon"),
             dsum($"seg_km", 4).as("path_km"))
        .withColumn("net_km", hv($"flat", $"flon", $"llat", $"llon"))
        .select($"user_id", $"n_pts",
          round($"path_km", 1).as("path_km"),
          round($"net_km", 1).as("net_km"),
          when($"path_km" > 0.0,
            round($"net_km" / $"path_km", 4)).as("straightness"))
        .orderBy($"user_id")
    }),

    // Circular movement-direction statistics (Mardia & Jupp, "Directional
    // Statistics", Wiley 2000 §2.3): per-user mean resultant direction and
    // circular variance of the consecutive-fix bearings — the "does this
    // user have a preferred heading" summary that q_traj_heading's
    // fleet-wide octant histogram cannot answer per entity. Deliberately
    // TRIG-FREE on the per-row side (the q_traj_heading discipline): the
    // unit direction components are cos = dlat/r, sin = dlon/r with
    // r = √(dlat²+dlon²) — identities for the planar bearing from north,
    // no atan2 anywhere, so every per-row value is a correctly-rounded
    // IEEE sqrt/divide identical in both engines. Component sums route
    // through DECIMAL(18,8) (order-free); R̄ = √(Σc² + Σs²)/n, circular
    // variance 1 − R̄ ∈ [0,1] (0 = one fixed heading, 1 = isotropic), the
    // mean direction reported as its exact (cos, sin) pair rather than a
    // final atan2 degree (an angle output would re-introduce the one libm
    // call the whole chain avoids). Zero-movement segments excluded
    // (declared, as in q_traj_heading). One window pass + one hash agg.
    "q_traj_circvar" -> ((s, dir) => {
      import s.implicits._
      val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
      val seg = segments(s, dir)
        .filter($"plat".isNotNull)
        .withColumn("dlat", $"lat" - $"plat")
        .withColumn("dlon", $"lon" - $"plon")
        .filter($"dlat" =!= 0.0 || $"dlon" =!= 0.0)
        .withColumn("r", sqrt($"dlat" * $"dlat" + $"dlon" * $"dlon"))
      seg.groupBy($"user_id")
        .agg(count(lit(1)).as("n_moves"),
             sum(($"dlat" / $"r").cast(dec8)).as("sc"),
             sum(($"dlon" / $"r").cast(dec8)).as("ss"))
        .withColumn("scd", $"sc".cast("double"))
        .withColumn("ssd", $"ss".cast("double"))
        .withColumn("rbar",
          sqrt($"scd" * $"scd" + $"ssd" * $"ssd") / $"n_moves")
        .select($"user_id", $"n_moves",
          round($"scd" / $"n_moves", 6).as("mean_cos"),
          round($"ssd" / $"n_moves", 6).as("mean_sin"),
          round(lit(1.0) - $"rbar", 6).as("circ_var"))
        .orderBy($"user_id")
    }),

    // First-order Markov next-cell prediction accuracy (the mobility-
    // predictability measure in the Song/Qin/Barabási Science 2010
    // tradition, resubstitution form — DECLARED: the model trains on the
    // same fleet history it scores, the standard first read of "how
    // regular is this fleet's movement"): fleet-wide transition counts
    // between 20° cells (the cellMoves lattice — integer-exact cell ids
    // from the event_id formula, no FP decides a cell), predictor =
    // per-source argmax transition (ties broken to the SMALLEST target
    // id — declared total order, never hash order), scored back over
    // every user's actual moves. Self-transitions are excluded on BOTH
    // sides (staying put is not a move). Scale: one data-sized window
    // pass builds the moves; the model is lattice-bounded (≤162² rows)
    // and BROADCASTS back — the score join never shuffles the fact side
    // on a new key; per-user counts are integer-exact, one division.
    "q_traj_predict" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val moves = pts(s, dir)
        .withColumn("cell", expr(
          "(((event_id * 37) % 1700) div 200) * 18 + ((event_id * 131) % 3600) div 200"))
        .withColumn("nxt", lead($"cell", 1).over(w))
        .filter($"nxt".isNotNull && $"cell" =!= $"nxt")
        .select($"user_id", $"cell".as("src"), $"nxt".as("dst"))
      val model = moves.groupBy($"src", $"dst").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"src").orderBy($"cnt".desc, $"dst")))
        .filter($"rk" === 1)
        .select($"src", $"dst".as("pred"))
      moves.join(broadcast(model), Seq("src"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_moves"),
             sum(when($"dst" === $"pred", 1L).otherwise(0L)).as("n_correct"))
        .select($"user_id", $"n_moves", $"n_correct",
          round($"n_correct".cast("double") / $"n_moves", 6).as("accuracy"))
        .orderBy($"user_id")
    }),

    // Mobility entropy (Song, Qin, Barabási, Science 2010 — the
    // entropy side of the predictability bound q_traj_predict measures
    // empirically): per user, Shannon entropy of the 20°-cell visitation
    // distribution, the log cell-count random-entropy ceiling, and the
    // normalized ratio (1 = uniform wanderer, →0 = one dominant
    // location). Same lattice as q_traj_predict (integer-exact cells);
    // the q_time_entropy FP discipline verbatim — per-term ln round(6)-
    // pinned, DECIMAL(28,12)-routed term sums, the norm a division of
    // pinned values. One (user, cell) hash agg is the only data-sized
    // job; everything after is lattice-bounded per user.
    "q_traj_entropy" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val wU = Window.partitionBy($"user_id")
      pts(s, dir)
        .withColumn("cell", expr(
          "(((event_id * 37) % 1700) div 200) * 18 + ((event_id * 131) % 3600) div 200"))
        .groupBy($"user_id", $"cell")
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum($"c").over(wU))
        .withColumn("p", $"c".cast("double") / $"n")
        .withColumn("term", $"p" * round(log($"p"), 6))
        .groupBy($"user_id")
        // round the DECIMAL, then convert: the term sum is an exact
        // decimal and can land exactly on a 5e-7 tie (observed at sf0.1)
        // — rounding after the double conversion resolves the tie by
        // double-string semantics in Spark but double-arithmetic
        // semantics in DuckDB. Decimal-domain round is half-away-from-
        // zero in BOTH engines, and the scale-6 result converts to
        // double exactly.
        .agg(max($"n").as("n_fixes"), count(lit(1)).as("n_cells"),
             round(-sum($"term".cast(dec)), 6).cast("double").as("entropy"))
        .withColumn("rand_entropy", round(log($"n_cells".cast("double")), 6))
        .withColumn("entropy_norm",
          when($"n_cells" > 1L, round($"entropy" / $"rand_entropy", 4)))
        .orderBy($"user_id")
    }),

    // Convex activity footprint — per-user convex hull (Andrew's monotone
    // chain, IPL 1979) of all fixes in planar (lon, lat) degrees: vertex
    // count, shoelace area, perimeter. The footprint POLYGON that rog (a
    // radius) and bbox (an axis-aligned box) only bound — hull area per
    // fix is the standard "how spread out is this vehicle's range"
    // normalizer. No SQL oracle (DuckDB has no hull without the spatial
    // extension — declared); HullSpec pins hand geometry (squares,
    // collinear chains, interior-point invariance) and key-level equality
    // vs an independent gift-wrapping reference. Scale: one user-keyed
    // collect (device-rate-bounded per user, the q_traj_simplify
    // discipline), kernel O(n log n) per group inside codegen.
    "m_geo_hull" -> ((s, dir) => {
      import s.implicits._
      pts(s, dir)
        .groupBy($"user_id")
        .agg(sort_array(collect_list(struct($"lat", $"lon"))).as("a"),
             count(lit(1)).as("n_pts"))
        .withColumn("h", graft.functions.HullStats.hullStats(
          expr("flatten(transform(a, p -> array(p.lat, p.lon)))")))
        .select($"user_id", $"n_pts",
          $"h"(0).cast("long").as("n_hull"),
          round($"h"(1), 4).as("area_deg2"),
          round($"h"(2), 4).as("perim_deg"))
        .orderBy($"user_id")
    }),

    // Trajectory SIMPLIFICATION — radial-distance polyline reduction per
    // user (the telemetry compaction step: keep a fix only when it moves
    // ≥ ε from the LAST KEPT fix; O(n) one-pass cousin of
    // Douglas-Peucker, the streaming-friendly form real trackers ship).
    // The sequential keep-decision recursion runs INSIDE codegen as an
    // `aggregate` HOF fold over each user's time-ordered point array
    // (the q_time_holt discipline — per-group sequential state without a
    // UDF or a per-step shuffle; DuckDB mirrors it with list_reduce over
    // the identical fold). One (user) hash agg builds the arrays; the
    // fold sees per-user-sized lists — at 100 TB the same fold runs per
    // (user, day) partition, the layout trajectories already have.
    // ε = 2000 km sized to the fixture's pseudo-random global jumps.
    "q_traj_simplify" -> ((s, dir) => {
      import s.implicits._
      pts(s, dir)
        .groupBy($"user_id")
        .agg(sort_array(collect_list(
          struct($"ts_us", $"event_id", $"lat", $"lon"))).as("a"))
        .withColumn("n_kept", aggregate(
          slice($"a", lit(2), size($"a") - 1),
          array($"a"(0)("lat"), $"a"(0)("lon"), lit(1.0)),
          (acc, p) => when(hv(acc(0), acc(1), p("lat"), p("lon")) > 2000.0,
            array(p("lat"), p("lon"), acc(2) + 1.0)).otherwise(acc))(2).cast("long"))
        .select($"user_id", size($"a").cast("long").as("n_points"), $"n_kept",
                round($"n_kept".cast("double") / size($"a"), 4).as("keep_ratio"))
        .orderBy($"user_id")
    }),

    // Trajectory similarity: exact Jaccard over visited 10° grid-cell sets.
    // The cell universe is fixed (19×37 = 703 ids over the closed GPS domain
    // lat ∈ [-90,90], lon ∈ [-180,180] — the 37-wide stride gives the
    // boundary points lat=90 / lon=180 their own cells instead of aliasing
    // into the next row), so each user's set is a 704-bit bitmap: 11
    // bit_or-aggregated longs — one signature row per user — then a
    // broadcast pair scan with codegen'd AND/popcount. This
    // replaces the shared-cell equi-join, which at bench density (every
    // user visits most cells) degenerated to ~all-pairs × shared-cells
    // shuffle rows. Per-user state is O(|grid|/8) bytes regardless of data
    // volume; for unbounded user counts the documented scale path is
    // MinHash-LSH over the same cell sets (m_dedup_minhash machinery).
    "q_traj_sim" -> ((s, dir) => {
      import s.implicits._
      val W = SigWords
      val bm = cellBitmap(s, dir)
      val lhs = bm.select($"user_id".as("u1") +: (0 until W).map(w => col(s"w$w").as(s"a$w")): _*)
      val rhs = bm.select($"user_id".as("u2") +: (0 until W).map(w => col(s"w$w").as(s"b$w")): _*)
      val nInter = (0 until W).map(w => expr(s"bit_count(a$w & b$w)")).reduce(_ + _)
      val n1 = (0 until W).map(w => expr(s"bit_count(a$w)")).reduce(_ + _)
      val n2 = (0 until W).map(w => expr(s"bit_count(b$w)")).reduce(_ + _)
      lhs.join(broadcast(rhs), $"u1" < $"u2")
        .withColumn("n_inter", nInter.cast("long"))
        .withColumn("n1", n1.cast("long"))
        .withColumn("n2", n2.cast("long"))
        .filter($"n_inter" > 0) // the equi-join shape never saw 0-overlap pairs
        .select($"u1", $"u2",
                r4($"n_inter" * lit(1.0) / ($"n1" + $"n2" - $"n_inter")).as("jaccard"))
        .orderBy($"jaccard".desc, $"u1", $"u2")
        .limit(10)
    }),

    // Convoy/co-travel detection (grid-coarse): pairs of users observed
    // in the same 20° cell during the same hour, in ≥3 distinct hours
    // (cell size chosen so the derived lattice actually co-locates).
    // A driver endgame below the budget, a bucket-local self-join above
    // it; hot-bucket skew story in [[Convoy]]'s scaladoc, pinned by
    // GeoSpec's hot-bucket property on both paths.
    "q_traj_convoy" -> ((s, dir) =>
      coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 3)),

    // Influence ranking over the co-traveler graph: PageRank on the
    // (minHours ≥ 2) co-travel pairs, top-10 users by rank — the "central
    // figure in a movement network" query of a trajectory-mining engine.
    // Ranks rounded to 6 decimals (noise floor ~1e-15), ties by user_id.
    // No SQL oracle (iterative damped ranking has no DuckDB analog at
    // parity precision); PageRankSpec pins node-wise equality to a
    // driver-side reference iteration plus the Σrank = 1 invariant.
    "m_graph_pagerank" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val edges = pairs.select($"u1".as("src"), $"u2".as("dst"))
        .unionAll(pairs.select($"u2".as("src"), $"u1".as("dst")))
      graft.operators.PageRank.run(s, edges)
        .select($"id".as("user_id"), round($"rank", 6).as("rank"))
        .orderBy($"rank".desc, $"user_id")
        .limit(10)
    }),

    // WEIGHTED PageRank: influence flows ∝ co-travel intensity (rank
    // splits across a user's ties by shared-hours weight, not uniformly)
    // — the strong-tie centrality twin of m_graph_pagerank, and the
    // natural companion to m_graph_sssp's 1/hours distances. A user
    // bridging many weak ties ranks lower here than in the unweighted
    // key; a member of a tight convoy ranks higher. Same loop, same
    // cadence discipline (the `weighted` flag only changes the out-mass
    // denominator to Σw and the contribution to c·w); PageRankSpec pins
    // the weighted reference AND that w ≡ 1 reproduces the unweighted
    // ranking exactly. No SQL oracle (iterative damped ranking).
    "m_graph_wpagerank" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val edges = pairs
        .select($"u1".as("src"), $"u2".as("dst"), $"n_hours".cast("double").as("w"))
        .unionAll(pairs
          .select($"u2".as("src"), $"u1".as("dst"), $"n_hours".cast("double").as("w")))
      graft.operators.PageRank.run(s, edges, weighted = true)
        .select($"id".as("user_id"), round($"rank", 6).as("rank"))
        .orderBy($"rank".desc, $"user_id")
        .limit(10)
    }),

    // Personalized PageRank from the 3 smallest vertex ids (random walk
    // with restart, Jeh & Widom WWW'03) — "who is close to THESE users",
    // the recommendation twin of the global ranking above. Same rounding/
    // tie discipline; unreachable vertices hold exactly zero mass and are
    // filtered so the top-10 is meaningful on sparse graphs. No SQL oracle
    // (iterative damped ranking); PprSpec pins node-wise equality to a
    // driver-side reference, Σrank = 1, zero-mass unreachability, and
    // seed-locality vs global PageRank.
    "m_graph_ppr" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val edges = pairs.select($"u1".as("src"), $"u2".as("dst"))
        .unionAll(pairs.select($"u2".as("src"), $"u1".as("dst")))
      val seeds = pairs.select($"u1".as("id")).unionAll(pairs.select($"u2".as("id")))
        .distinct().orderBy($"id").limit(3)
      graft.operators.Ppr.run(s, edges, seeds, iterations = 10)
        .filter($"rank" > 0.0)
        .select($"id".as("user_id"), round($"rank", 6).as("rank"))
        .orderBy($"rank".desc, $"user_id")
        .limit(10)
    }),

    // Degree distribution of the co-traveler graph (minHours ≥ 2): how
    // many users have k co-travel partners — the mixing-structure summary
    // an analyst reads before trusting m_graph_pagerank's ranking, and an
    // ORACLE-BACKED window into the same Convoy bucket-join the rank key
    // rides. Degrees take one user-keyed hash agg over the pair list; the
    // histogram agg is |distinct degrees| rows.
    "q_graph_degree" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      pairs.select($"u1".as("user_id")).unionAll(pairs.select($"u2".as("user_id")))
        .groupBy($"user_id").agg(count(lit(1)).as("degree"))
        .groupBy($"degree").agg(count(lit(1)).as("n_users"))
        .orderBy($"degree")
    }),

    // Triangle count + wedge count of the co-traveler graph — the global
    // clustering-coefficient numerator/denominator (3T/W), emitted as the
    // two exact integers so no FP division enters the oracle compare. The
    // u1 < u2 edge orientation counts each triangle exactly once (a<b<c);
    // wedges are the integer-exact sum of C(degree, 2). Shares the
    // memoized pair set with m_graph_pagerank/q_graph_degree. Below the
    // budget the pinned pair set is counted on the driver ([[triangles]]:
    // no Spark job); above it the standard two-hop path + closing-edge
    // equi-join runs — never an all-pairs wedge materialization against
    // unordered edges. At 100 TB the closing join is edge-keyed (two-long
    // key) and the a<b<c ordering bounds fanout by the ordered out-degree.
    "q_graph_triangles" -> ((s, dir) =>
      triangles(coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2))),

    // Local clustering coefficient distribution — how clique-like each
    // user's neighborhood is (the transitivity profile an analyst reads
    // beside the degree histogram): per node, triangles/wedges, bucketed
    // at 0.1. Same triangle counts as q_graph_triangles on the shared
    // memoized pair set: on the driver below the budget ([[clustCoef]]:
    // no Spark job), the two-join triangle plan above it (triples explode
    // to their three corners for the per-node count). Parity is
    // structural: t and d(d−1)/2 are integers, the coefficient one exact
    // division, the avg decimal-routed. At 100 TB the a<b<c orientation
    // already sends each triangle through the join once, and the per-node
    // rollup is a key-sized hash agg.
    "q_graph_clustcoef" -> ((s, dir) =>
      clustCoef(coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2))),

    // Community structure of the co-traveler graph via synchronous label
    // propagation — property-tested (LabelPropSpec: node-wise ≡ in-memory
    // reference, planted two-clique separation). Output is the community
    // SIZE histogram (size, n_communities) — the shape an analyst reads —
    // so the data-dependent label ids never enter the contract. Shares the
    // memoized pair set with PageRank/degree/triangles.
    "m_graph_lp" -> ((s, dir) => {
      import s.implicits._
      lpLabels(s, dir)
        .groupBy($"label").agg(count(lit(1)).as("size"))
        .groupBy($"size").agg(count(lit(1)).as("n_communities"))
        .orderBy($"size")
    }),

    // Community QUALITY — Newman modularity (Newman & Girvan PRE 2004)
    // of the label-propagation communities on the co-traveler graph:
    // Q = Σ_c (e_c/m − (d_c/2m)²), the standard "did the community
    // detection find real structure" score (Q ≈ 0: no better than random
    // wiring; Q ≳ 0.3: strong structure). Composes the memoized pair set
    // + LabelProp labels ([[modularity]]): below the budget both are
    // driver-resident and e_c, d_c and m are counted on the driver with no
    // Spark job; above it, two keyed joins and community-keyed aggs —
    // everything shuffles on vertex/label keys, and the Q fold runs over
    // |communities| rows. No oracle (depends on iterative LP labels) —
    // LabelPropSpec recomputes Q on the driver and pins the planted
    // two-clique Q = 1/2 exactly.
    "m_graph_modularity" -> ((s, dir) =>
      modularity(coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2), lpLabels(s, dir))),

    // Community OPTIMIZATION — full multi-level Louvain (Blondel et al.
    // 2008) on the co-traveler graph: where m_graph_lp adopts plurality
    // labels and m_graph_modularity only SCORES the result, this key moves
    // each vertex to its best-ΔQ neighbouring community (exact-integer
    // scores, smallest-id ties, singleton-swap guard), contracts the
    // communities to a weighted supergraph, and repeats until a level
    // merges nothing (operators/Louvain). Output is the community-size
    // histogram, the m_graph_lp shape, so the data-dependent community
    // ids never enter the contract. No oracle (iterative) — LouvainSpec
    // pins node-wise equality vs an in-memory mirror at both levels and
    // per-level Q monotonicity on the fixture plus the planted
    // ring-of-cliques resolution-limit merge.
    "m_graph_louvain" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
        .select($"u1", $"u2")
      graft.operators.Louvain.runMultiLevel(s, pairs)
        .groupBy($"c").agg(count(lit(1)).as("size"))
        .groupBy($"size").agg(count(lit(1)).as("n_communities"))
        .orderBy($"size")
    }),

    // Multi-source BFS hop distances from the 3 smallest vertex ids of the
    // co-traveler graph — the reachability/radius primitive (how far does
    // influence spread from a seed set) beside PageRank/LP/triangles/CC.
    // Output is the (dist, n_users) layer histogram within 8 hops; seeds
    // are content-determined (smallest ids), so both engines pick the same
    // set ([[bfsHistogram]]: seeds, BFS and histogram on the driver with
    // no Spark job below the budget, Spark plans above it). Oracle:
    // recursive CTE over the same pair edges, MIN(d) per vertex — hop
    // distance by construction.
    "q_graph_bfs" -> ((s, dir) =>
      bfsHistogram(coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2))),

    // Hop-bounded closeness + harmonic centrality (Bavelas 1950 /
    // Marchiori-Latora 2000) — WHO sits centrally in the co-traveler
    // graph, the per-vertex completion of q_graph_bfs's single-seed
    // layer histogram: for every vertex, the ≤8-hop reachable count, hop
    // sum, classic closeness n_reach/sum_d, and harmonic Σ 1/d (robust
    // to disconnection — the reason the harmonic form is reported
    // first-class). Per-source BFS through Bfs.runFromEach: the same
    // frontier-synchronous rounds keyed on (src, id) — content-keyed
    // equi-joins only, state ≤ vertex² pairs (USER-graph-sized, never
    // the event log). The hop bound is the DECLARED semantic (ego-radius
    // 8, the q_graph_bfs convention), not a convergence failure; the
    // recursive-CTE oracle carries the identical bound. Harmonic terms
    // follow the linkpred aa discipline: round(n_d/d, 6) per hop layer,
    // DECIMAL-summed (≤8 terms/vertex), so the top-20 ordering can never
    // flap between engines.
    "q_graph_closeness" -> ((s, dir) => {
      import s.implicits._
      apspDists(s, dir)
        .filter($"dist" > 0)
        .groupBy($"src", $"dist").agg(count(lit(1)).as("n_d"))
        .groupBy($"src")
        .agg(sum($"n_d").as("n_reach"),
             sum($"n_d" * $"dist").as("sum_d"),
             sum(round($"n_d".cast("double") / $"dist", 6)
               .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
               .cast("double").as("harmonic"))
        .select($"src".as("user_id"), $"n_reach", $"sum_d",
          round($"n_reach".cast("double") / $"sum_d", 6).as("closeness"),
          $"harmonic")
        .orderBy($"harmonic".desc, $"user_id")
        .limit(20)
    }),

    // Graph eccentricity profile — diameter / radius / peripheral and
    // central vertex counts of the co-traveler graph within the declared
    // 8-hop ego-radius (ecc(v) = max hop distance reached from v; a
    // component wider than the bound reads as ecc = 8, the truncation
    // carried identically by the oracle). Reads the SAME memoized
    // all-pairs BFS frame as q_graph_closeness — two keys, one iterative
    // run (the lp/modularity sharing discipline). The eccentricity frame
    // is vertex-sized, so the single-partition min/max window is
    // USER-graph-bounded, never event-sized.
    "q_graph_diameter" -> ((s, dir) => {
      import s.implicits._
      val wAll = Window.partitionBy()
      apspDists(s, dir).filter($"dist" > 0)
        .groupBy($"src").agg(max($"dist").cast("long").as("ecc"))
        .withColumn("dia", max($"ecc").over(wAll))
        .withColumn("rad", min($"ecc").over(wAll))
        .agg(count(lit(1)).as("n_vertices"),
             max($"ecc").as("diameter"), min($"ecc").as("radius"),
             sum(when($"ecc" === $"dia", 1L).otherwise(0L)).as("n_peripheral"),
             sum(when($"ecc" === $"rad", 1L).otherwise(0L)).as("n_central"))
    }),

    // Weighted single-source shortest paths over the co-traveler graph —
    // the distance-weighted twin of q_graph_bfs (hop counts treat a
    // 100-shared-hour tie and a 2-hour tie alike; SSSP does not). Edge
    // weight = 1/n_hours, so strongly co-traveling users are CLOSE and
    // the shortest path is the most-plausible association chain — the
    // "how tightly is this user linked to the hub" query of a telemetry
    // miner. Source = smallest vertex id (content-determined, no driver
    // choice); output is the reachable-distance histogram at 1e-2
    // resolution. Distances are BIT-deterministic (each path's length
    // accumulates left-to-right in relaxation order and min over paths is
    // order-independent — no shuffle-order sum anywhere), so the
    // bucketing is presentation, not a noise belt. No SQL oracle
    // (iterative relaxation); SsspSpec pins node-wise equality to a
    // driver-side Dijkstra on random weighted graphs plus the
    // non-convergence throw. Shares the memoized pair set.
    "m_graph_sssp" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val edges = pairs
        .select($"u1".as("src"), $"u2".as("dst"), (lit(1.0) / $"n_hours").as("w"))
        .unionAll(pairs
          .select($"u2".as("src"), $"u1".as("dst"), (lit(1.0) / $"n_hours").as("w")))
      val source = edges.agg(min(least($"src", $"dst"))).as[Long].head()
      graft.operators.Sssp.run(s, edges, source)
        .groupBy(round($"d", 2).as("dist_bucket"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"dist_bucket")
    }),

    // Betweenness centrality of the co-traveler graph (operators/
    // Betweenness — source-sampled Brandes): top-10 broker vertices by
    // bc, the bridge score PageRank's influence ranking cannot see
    // (a low-degree cut vertex scores high bc, low PR). K = 16 smallest
    // ids as sources — at fixture vertex counts that is EXACT Brandes;
    // at 100 TB the declared sample bounds cost at K BFS traversals.
    // No oracle (iterative float fixpoint) — BetweennessSpec pins exact
    // agreement with a driver Brandes on the fixture graph AND on
    // planted star/path/bridge graphs, plus the sampled-subset regime.
    "m_graph_betweenness" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      graft.operators.Betweenness.run(s, pairs.select($"u1", $"u2"))
        .select($"id", round($"bc", 6).as("bc"))
        .orderBy($"bc".desc, $"id")
        .limit(10)
    }),

    // Degree assortativity of the co-traveler graph (Newman PRL 2002):
    // Pearson correlation of endpoint degrees over the symmetrized edge
    // list — do well-connected travelers co-travel with each other
    // (r > 0, social-network-like) or with leaves (r < 0, hub-and-spoke)?
    // Pearson is shift-invariant, so plain-degree correlation equals
    // Newman's remaining-degree form. Degrees and all five power sums
    // are BIGINT-exact through the shared [[Q.pearsonR]] tail; the two
    // degree joins shuffle on vertex keys (broadcast-sized here, keyed
    // at scale), and the 1-row vertex count broadcasts back.
    "q_graph_assort" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
        .select($"u1", $"u2")
      val sym = pairs.unionAll(pairs.select($"u2".as("u1"), $"u1".as("u2")))
      val deg = sym.groupBy($"u1".as("id")).agg(count(lit(1)).as("deg"))
      val vcount = deg.agg(count(lit(1)).as("n_vertices"))
      sym
        .join(deg.select($"id".as("u1"), $"deg".as("dx")), Seq("u1"))
        .join(deg.select($"id".as("u2"), $"deg".as("dy")), Seq("u2"))
        .agg(count(lit(1)).as("n2"),
             sum($"dx").as("sx"), sum($"dy").as("sy"),
             sum($"dx" * $"dy").as("sxy"),
             sum($"dx" * $"dx").as("sxx"),
             sum($"dy" * $"dy").as("syy"))
        .crossJoin(broadcast(vcount))
        .select(expr("n2 div 2").as("n_edges"), $"n_vertices",
          pearsonR($"n2", $"sx", $"sy", $"sxy", $"sxx", $"syy")
            .as("assortativity"))
    }),

    // 3-truss of the co-traveler graph (operators/KTruss — Cohen 2008):
    // the edges embedded in at least one triangle, the community cores a
    // degree or k-core test cannot isolate (a hub-and-leaves star has
    // core number but zero truss membership). Declared at k=3, the
    // informative order for this graph's density; output is the
    // canonical truss edge list. No oracle (iterative edge peeling) —
    // KTrussSpec pins exact agreement with a driver reference peeler on
    // planted and random graphs plus the truss-nesting invariant.
    "m_graph_ktruss" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      graft.operators.KTruss.run(s, pairs.select($"u1", $"u2"), k = 3)
        .orderBy($"u1", $"u2")
    }),

    // Connected components of the co-traveler graph, declared directly:
    // component-size histogram (size, n_components). CC was previously
    // keyed only through its dedup-clustering consumer (q_dedup_cluster);
    // this key puts the operator itself through the oracle gate on a graph
    // with different density. Same alternating-star contraction + bounded
    // local endgame; oracle = recursive min-label reachability fixpoint.
    "q_graph_cc" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      val verts = pairs.select($"u1".as("id")).unionAll(pairs.select($"u2".as("id")))
        .distinct()
      graft.operators.ConnectedComponents
        .run(s, verts, pairs.select($"u1".as("src"), $"u2".as("dst")))
        .groupBy($"comp").agg(count(lit(1)).as("size"))
        .groupBy($"size").agg(count(lit(1)).as("n_components"))
        .orderBy($"size")
    }),

    // Reciprocity of the directed cell-transition graph (Wasserman & Faust
    // ch. 13; Garlaschelli & Loffredo PRL 2004) — the fraction of movement
    // edges A→B whose reverse B→A also occurs: the "is traffic two-way"
    // screen every OD analysis runs before treating flows as symmetric.
    // Both sides of the division are exact edge counts over the DISTINCT
    // lattice-bounded edge set; the reverse-edge test is a (src,dst)-keyed
    // left join of the edge set with its own transpose (multiplicity 1 —
    // both sides distinct), never a cross product.
    "q_graph_recip" -> ((s, dir) => {
      import s.implicits._
      val e = cellMoves(s, dir)
      e.join(
          e.select($"dst".as("src"), $"src".as("dst"), lit(1L).as("r")),
          Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
             sum(coalesce($"r", lit(0L))).as("n_recip"))
        .select($"n_edges", $"n_recip",
          round($"n_recip".cast("double") / $"n_edges", 6).as("reciprocity"))
    }),

    // Strongly connected components of the directed cell-transition graph —
    // the directed-connectivity quadrant (q_graph_cc is undirected; one-way
    // reachability is exactly what it cannot see): which cell regions can a
    // vehicle circulate within and return? Path-doubling closure + transpose
    // intersection (operators/Scc.scala — |V|²-bounded by the declared 162-
    // cell lattice, the operator's scale contract). Output = per-SCC size
    // histogram. No SQL oracle (closure fixpoint); SccSpec pins exact
    // partition equality against a driver Tarjan on planted graphs AND the
    // fixture edges, plus mutual-reachability axioms.
    "m_graph_scc" -> ((s, dir) => {
      import s.implicits._
      val e = cellMoves(s, dir)
      val verts = e.select($"src".as("id")).unionAll(e.select($"dst".as("id")))
        .distinct()
      graft.operators.Scc.run(s, verts, e)
        .groupBy($"scc_id").agg(count(lit(1)).as("n_cells"))
        .groupBy($"n_cells").agg(count(lit(1)).as("n_sccs"))
        .orderBy($"n_cells")
    }),

    // Rich-club coefficient of the co-traveler graph (Zhou & Mondragón
    // IEEE Comm. Lett. 2004; Colizza et al. Nature Physics 2006):
    // φ(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of vertices with
    // degree > k — do the well-connected travel with EACH OTHER? The
    // density-profile companion of q_graph_assort's single mixing
    // coefficient. Exact integer counts into one guarded division per k;
    // the k sweep rides a 5-way explode of the DEGREE frame (vertex-
    // bounded) and the min-endpoint-degree edge frame — the fact-sized
    // work is the one pair-set build every co-traveler key shares.
    "q_graph_richclub" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
        .select($"u1", $"u2")
      val deg = pairs.select($"u1".as("u")).unionAll(pairs.select($"u2".as("u")))
        .groupBy($"u").agg(count(lit(1)).as("deg"))
      val ks = explode(array((1 to 5).map(k => lit(k.toLong)): _*)).as("k")
      val nodes = deg.select($"deg", ks)
        .filter($"deg" > $"k")
        .groupBy($"k").agg(count(lit(1)).as("n_nodes"))
      val emin = pairs
        .join(deg.select($"u".as("u1"), $"deg".as("d1")), Seq("u1"))
        .join(deg.select($"u".as("u2"), $"deg".as("d2")), Seq("u2"))
        .select(least($"d1", $"d2").as("md"))
      val edges = emin.select($"md", ks)
        .filter($"md" > $"k")
        .groupBy($"k").agg(count(lit(1)).as("n_edges"))
      nodes.join(edges, Seq("k"), "left")
        .select($"k", $"n_nodes", coalesce($"n_edges", lit(0L)).as("n_edges"),
          when($"n_nodes" > 1L,
            round(lit(2.0) * coalesce($"n_edges", lit(0L)) /
              ($"n_nodes" * ($"n_nodes" - 1L)), 6)).as("phi"))
        .orderBy($"k")
    }),

    // Full core decomposition of the co-traveler graph — the core number
    // of EVERY vertex (m_graph_kcore answers membership for one fixed k;
    // this is the whole degeneracy profile): coreness histogram. The
    // h-index iteration (Lü et al., Nature Comms 2016) converges exactly
    // to coreness in vertex-keyed join rounds — see operators/Coreness.
    // No SQL oracle (iterative fixpoint); CorenessSpec pins exact
    // equality with a driver Batagelj–Zaveršnik peel on planted shapes
    // (clique+pendant, path, two cliques sharing a vertex) AND the
    // fixture graph, plus the h-index ≤ degree upper-bound law.
    "m_graph_coreness" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
      graft.operators.Coreness.run(s, pairs.select($"u1", $"u2"))
        .groupBy($"coreness").agg(count(lit(1)).as("n_nodes"))
        .orderBy($"coreness")
    }),

    // Link prediction on the co-traveler graph (Liben-Nowell & Kleinberg,
    // CIKM 2003): for NON-adjacent pairs with ≥1 common neighbor, the
    // common-neighbor count and Adamic-Adar score Σ 1/ln(deg(z)) — "who
    // will co-travel next". Two-hop equi-join through the shared neighbor
    // (the inverted-index shape again: shuffles on vertex keys, fanout
    // bounded by Σ C(deg,2), never all pairs), minus existing edges via
    // anti-join. deg(z) ≥ 2 by construction (z touches both endpoints), so
    // ln is never 0. ln-parity discipline: per-z term rounded 6, summed
    // through DECIMAL; order by (cn desc, u, v) is aa-independent and
    // fully deterministic. Top-20 plans as TakeOrderedAndProject.
    "q_graph_linkpred" -> ((s, dir) => {
      import s.implicits._
      val pr = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
        .select($"u1", $"u2")
      val sym = pr.select($"u1".as("u"), $"u2".as("v"))
        .unionAll(pr.select($"u2".as("u"), $"u1".as("v")))
      val deg = sym.groupBy($"u".as("z")).agg(count(lit(1)).as("deg"))
      val hops = sym.as("a").join(sym.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"), col("a.v").as("z"))
        .filter($"u" < $"v")
      val nonEdges = hops.join(pr,
          hops("u") === pr("u1") && hops("v") === pr("u2"), "left_anti")
      nonEdges.join(deg, Seq("z"))
        .withColumn("term", round(lit(1.0) / log($"deg"), 6))
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("cn"),
             sum($"term".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
               .cast("double").as("aa"))
        .filter($"cn" >= 1)
        .orderBy($"cn".desc, $"u", $"v")
        .limit(20)
    }),

    // k-core sizes of the co-traveler graph (Seidman 1983): vertices
    // surviving iterative degree-< k peeling, for k = 2 and 3 — the
    // dense-region summary a degree filter gets wrong (a hub whose
    // neighbors are all leaves has high degree but no 2-core membership).
    // No SQL oracle (iterative peeling has no recursive-CTE analog —
    // the fixpoint is over aggregates, not reachability); KCoreSpec pins
    // reference peeling, core nesting, internal-degree ≥ k, and the
    // hub-vs-core distinction.
    "m_graph_kcore" -> ((s, dir) => {
      import s.implicits._
      val pairs = coTravelerPairs(s, dir, cellDeg = 20.0, minHours = 2)
        .select($"u1", $"u2")
      Seq(2, 3).map { k =>
        graft.operators.KCore.coreMembers(s, pairs, k)
          .agg(count(lit(1)).as("n_vertices"))
          .select(lit(k).as("k"), $"n_vertices")
      }.reduce(_ unionAll _)
        .orderBy($"k")
    }),

    // Property-tested (DbscanSpec): exact match vs in-memory DBSCAN.
    // (ε=1.0°, minPts=5) picked off the measured degree distribution of the
    // derived lattice at bench density: mean ε-degree ≈ 4.9 → ~63% of
    // positions core with real border/noise fractions. ε=3.0 (mean degree
    // ~44) made every point core in one giant component — nothing
    // clustered and the CC stage ground for minutes.
    "m_dbscan" -> ((s, dir) => {
      import s.implicits._
      val p = withGeo(t(s, dir, "events"))
        .select($"event_id".as("id"), $"lat".as("y"), $"lon".as("x"))
      graft.operators.DBSCAN.run(s, p, eps = 1.0, minPts = 5)
        .groupBy($"role").agg(count(lit(1)).as("n"))
        .orderBy($"role")
    }),

    // Property-tested (StDbscanSpec): exact match vs an in-memory
    // ST-DBSCAN (Birant & Kut 2007) on planted space-time clusters — two
    // clusters at the SAME place in different weeks MUST separate, which
    // plain m_dbscan cannot do. Same spatial params as m_dbscan (ε = 1.0°,
    // minPts = 5) plus ε_t = 24 h on the event time axis; output adds the
    // per-role distinct-cluster count so the time-axis splitting is
    // visible next to m_dbscan's single-axis row counts.
    "m_stdbscan" -> ((s, dir) => {
      import s.implicits._
      val p = withGeo(t(s, dir, "events"))
        .select($"event_id".as("id"), $"lat".as("y"), $"lon".as("x"),
          (expr("unix_millis(ts)") / 3600000.0).as("t"))
      graft.operators.StDbscan.run(s, p, eps = 1.0, epsT = 24.0, minPts = 5)
        .groupBy($"role").agg(count(lit(1)).as("n"),
          countDistinct($"cluster").as("n_clusters"))
        .orderBy($"role")
    }),

    // Property-tested (KmeansSpec): purity vs generator labels, seed-stable.
    "m_kmeans" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
        .withColumn("features", array_to_vector($"embedding"))
      val model = new KMeans().setK(10).setSeed(42L).setMaxIter(20).setInitMode("random").fit(emb)
      model.transform(emb)
        .groupBy($"prediction")
        .agg(count(lit(1)).as("n"))
        .select($"prediction".cast("long").as("cluster"), $"n")
        .orderBy($"n".desc, $"cluster")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_geo_haversine" -> (segCte +
      """
        |SELECT user_id,
        |  CAST(round(SUM(CAST(seg_km AS DECIMAL(18,4))), 1) AS DOUBLE) AS track_km,
        |  COUNT(seg_km) AS n_segs
        |FROM seg GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_geo_bbox" -> (ptsCte +
      """
        |SELECT event_type, COUNT(*) AS n_inside
        |FROM pts
        |WHERE lat BETWEEN -30.0 AND 30.0 AND lon BETWEEN -90.0 AND 90.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "q_geo_polygon" -> (ptsCte +
      f"""
         |SELECT event_type, COUNT(*) AS n_bbox,
         |  CAST(SUM(CASE WHEN $polygonSqlPred%s
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
         |  round(CAST(SUM(CASE WHEN $polygonSqlPred%s
         |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         |    AS inside_frac
         |FROM pts
         |WHERE lon BETWEEN $polyLonMin%.1f AND $polyLonMax%.1f
         |  AND lat BETWEEN $polyLatMin%.1f AND $polyLatMax%.1f
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "q_geo_hotspot" -> (ptsCte +
      s""",
         |cnt AS (
         |  SELECT CAST(floor(lat / 10.0) AS BIGINT) AS la,
         |         CAST(floor((lon + 180.0) / 10.0) AS BIGINT) % 36 AS lo,
         |         COUNT(*) AS c
         |  FROM pts GROUP BY 1, 2),
         |lattice AS (
         |  SELECT la.la, lo.lo
         |  FROM (SELECT unnest(generate_series(-9, 8)) AS la) la
         |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS lo) lo),
         |grid AS (
         |  SELECT lattice.la, lattice.lo, COALESCE(cnt.c, 0) AS x
         |  FROM lattice LEFT JOIN cnt
         |    ON lattice.la = cnt.la AND lattice.lo = cnt.lo),
         |contrib AS (
         |  SELECT g.la + d1.d AS cell_lat,
         |         ((g.lo + d2.d) % 36 + 36) % 36 AS cell_lon, g.x
         |  FROM grid g
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d1
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d2
         |  WHERE g.la + d1.d BETWEEN -9 AND 8),
         |nbr AS (
         |  SELECT cell_lat, cell_lon, SUM(x) AS s_i, COUNT(*) AS w_i
         |  FROM contrib GROUP BY 1, 2),
         |gs AS (SELECT SUM(x) AS sx, SUM(x * x) AS sx2, COUNT(*) AS n FROM grid),
         |sc AS (
         |  SELECT cell_lat, cell_lon, CAST(s_i AS BIGINT) AS s_i, w_i,
         |    CAST(sx AS DOUBLE) / n AS xbar,
         |    sqrt(CAST(sx2 AS DOUBLE) / n
         |         - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS sd,
         |    CAST(n * w_i - w_i * w_i AS DOUBLE) / (n - 1) AS wvar
         |  FROM nbr, gs)
         |SELECT cell_lat, cell_lon, s_i, w_i,
         |  CASE WHEN sd > 0 THEN
         |    round((CAST(s_i AS DOUBLE) - xbar * w_i) / (sd * sqrt(wvar)), 4)
         |  END AS z
         |FROM sc
         |ORDER BY z DESC, cell_lat, cell_lon LIMIT 15""".stripMargin),

    "q_geo_coloc" -> (ptsCte +
      """,
        |ct AS (
        |  SELECT CAST(floor(lat / 10.0) AS BIGINT) AS la,
        |         CAST(floor((lon + 180.0) / 10.0) AS BIGINT) % 36 AS lo,
        |         event_type, COUNT(*) AS c
        |  FROM pts GROUP BY 1, 2, 3),
        |directed AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |         SUM(a.c) AS n_with
        |  FROM ct a JOIN ct b
        |    ON a.la = b.la AND a.lo = b.lo AND a.event_type <> b.event_type
        |  GROUP BY 1, 2),
        |totals AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_total
        |  FROM ct GROUP BY 1),
        |ab AS (
        |  SELECT ta, tb, CAST(n_with AS BIGINT) AS n_with, n_total
        |  FROM directed JOIN totals ON ta = event_type)
        |SELECT ab.ta AS t1, ab.tb AS t2,
        |  ab.n_with AS n1_with, ab.n_total AS n1_total,
        |  ba.n_with AS n2_with, ba.n_total AS n2_total,
        |  round(CAST(ab.n_with AS DOUBLE) / ab.n_total, 6) AS pr1,
        |  round(CAST(ba.n_with AS DOUBLE) / ba.n_total, 6) AS pr2,
        |  least(round(CAST(ab.n_with AS DOUBLE) / ab.n_total, 6),
        |        round(CAST(ba.n_with AS DOUBLE) / ba.n_total, 6)) AS pi
        |FROM ab JOIN ab ba ON ab.ta = ba.tb AND ab.tb = ba.ta
        |WHERE ab.ta < ab.tb
        |ORDER BY t1, t2""".stripMargin),

    // Same lattice/neighborhood CTEs as q_geo_hotspot minus the self
    // cell; HUGEINT mirrors the Spark side's DECIMAL(38,0) products.
    "q_geo_moran" -> (ptsCte +
      s""",
         |cnt AS (
         |  SELECT CAST(floor(lat / 10.0) AS BIGINT) AS la,
         |         CAST(floor((lon + 180.0) / 10.0) AS BIGINT) % 36 AS lo,
         |         COUNT(*) AS c
         |  FROM pts GROUP BY 1, 2),
         |lattice AS (
         |  SELECT la.la, lo.lo
         |  FROM (SELECT unnest(generate_series(-9, 8)) AS la) la
         |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS lo) lo),
         |grid AS (
         |  SELECT lattice.la, lattice.lo, COALESCE(cnt.c, 0) AS x
         |  FROM lattice LEFT JOIN cnt
         |    ON lattice.la = cnt.la AND lattice.lo = cnt.lo),
         |contrib AS (
         |  SELECT g.la + d1.d AS cla,
         |         ((g.lo + d2.d) % 36 + 36) % 36 AS clo, g.x
         |  FROM grid g
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d1
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d2
         |  WHERE NOT (d1.d = 0 AND d2.d = 0)
         |    AND g.la + d1.d BETWEEN -9 AND 8),
         |nbr AS (
         |  SELECT cla, clo, SUM(x) AS s_i, COUNT(*) AS w_i
         |  FROM contrib GROUP BY 1, 2),
         |st AS (
         |  SELECT COUNT(*) AS n, SUM(x) AS sx,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(x AS HUGEINT) * s_i) AS sxs,
         |    SUM(CAST(w_i AS HUGEINT) * x) AS swx,
         |    SUM(s_i) AS ss, SUM(w_i) AS w,
         |    SUM(CAST(w_i AS HUGEINT) * w_i) AS sw2
         |  FROM grid g JOIN nbr ON g.la = nbr.cla AND g.lo = nbr.clo),
         |f AS (
         |  SELECT n, w,
         |    CAST(n AS HUGEINT) * n * sxs - CAST(n AS HUGEINT) * sx * ss
         |      - CAST(n AS HUGEINT) * sx * swx
         |      + CAST(sx AS HUGEINT) * sx * w AS num2,
         |    CAST(n AS HUGEINT) * n * sxx
         |      - CAST(n AS HUGEINT) * sx * sx AS den2,
         |    CAST(n AS HUGEINT) * n * 2 * w - CAST(n AS HUGEINT) * 4 * sw2
         |      + 3 * CAST(w AS HUGEINT) * w AS vnum,
         |    (CAST(n AS HUGEINT) * n - 1) * w * w AS vden
         |  FROM st),
         |d AS (
         |  SELECT n, w,
         |    (CAST(n AS DOUBLE) / w)
         |      * (CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE)) AS im,
         |    -1.0 / (n - 1) AS e,
         |    CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE) AS v0, den2
         |  FROM f)
         |SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
         |  CASE WHEN den2 > 0 THEN round(im, 6) END AS i_moran,
         |  round(e, 6) AS e_i,
         |  CASE WHEN den2 > 0
         |    THEN round((im - e) / sqrt(v0 - e * e), 4) END AS z_score
         |FROM d""".stripMargin),

    // Moran's CTE chain re-pointed at the per-cell factors; signs of the
    // exact integer factors decide the quadrant, their product the rank.
    "q_geo_lisa" -> (ptsCte +
      s""",
         |cnt AS (
         |  SELECT CAST(floor(lat / 10.0) AS BIGINT) AS la,
         |         CAST(floor((lon + 180.0) / 10.0) AS BIGINT) % 36 AS lo,
         |         COUNT(*) AS c
         |  FROM pts GROUP BY 1, 2),
         |lattice AS (
         |  SELECT la.la, lo.lo
         |  FROM (SELECT unnest(generate_series(-9, 8)) AS la) la
         |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS lo) lo),
         |grid AS (
         |  SELECT lattice.la, lattice.lo, COALESCE(cnt.c, 0) AS x
         |  FROM lattice LEFT JOIN cnt
         |    ON lattice.la = cnt.la AND lattice.lo = cnt.lo),
         |contrib AS (
         |  SELECT g.la + d1.d AS cla,
         |         ((g.lo + d2.d) % 36 + 36) % 36 AS clo, g.x
         |  FROM grid g
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d1
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d2
         |  WHERE NOT (d1.d = 0 AND d2.d = 0)
         |    AND g.la + d1.d BETWEEN -9 AND 8),
         |nbr AS (
         |  SELECT cla, clo, SUM(x) AS s_i, COUNT(*) AS w_i
         |  FROM contrib GROUP BY 1, 2),
         |gs AS (SELECT COUNT(*) AS n, SUM(x) AS sx,
         |       SUM(CAST(x AS HUGEINT) * x) AS sxx FROM grid),
         |f AS (
         |  SELECT g.la, g.lo, g.x, nbr.w_i,
         |    CAST(n AS HUGEINT) * g.x - sx AS f1,
         |    CAST(n AS HUGEINT) * nbr.s_i - CAST(nbr.w_i AS HUGEINT) * sx AS f2,
         |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
         |  FROM grid g
         |  JOIN nbr ON g.la = nbr.cla AND g.lo = nbr.clo
         |  CROSS JOIN gs)
         |SELECT la AS cell_lat, lo AS cell_lon, x, w_i,
         |  round(CAST(f1 * f2 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS i_local,
         |  CASE WHEN f1 > 0 AND f2 > 0 THEN 'HH'
         |       WHEN f1 < 0 AND f2 < 0 THEN 'LL'
         |       WHEN f1 > 0 AND f2 < 0 THEN 'HL'
         |       WHEN f1 < 0 AND f2 > 0 THEN 'LH' END AS quadrant
         |FROM f ORDER BY abs(f1 * f2) DESC, la, lo LIMIT 15""".stripMargin),

    "q_geo_fence" -> (ptsCte +
      f""",
         |flg AS (
         |  SELECT user_id, ts_us, event_id,
         |    CASE WHEN lon BETWEEN $polyLonMin%.1f AND $polyLonMax%.1f
         |          AND lat BETWEEN $polyLatMin%.1f AND $polyLatMax%.1f
         |          AND $polygonSqlPred%s
         |      THEN 1 ELSE 0 END AS inz
         |  FROM pts),
         |tr AS (
         |  SELECT user_id, ts_us, inz,
         |    lag(inz, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
         |  FROM flg)
         |SELECT user_id, COUNT(*) AS n_points,
         |  CAST(SUM(inz) AS BIGINT) AS n_inside,
         |  CAST(SUM(CASE WHEN inz = 1 AND (prev IS NULL OR prev = 0)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
         |  CAST(SUM(CASE WHEN inz = 0 AND prev = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
         |  MIN(CASE WHEN inz = 1 AND (prev IS NULL OR prev = 0)
         |      THEN ts_us END) AS first_entry_us
         |FROM tr GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_geo_radius" -> (ptsCte +
      s"""
         |SELECT user_id, COUNT(*) AS n_close
         |FROM pts
         |WHERE ${HaversineDist.oracleSql("lat", "lon", "48.85", "2.35")} < 1200.0
         |GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_geo_grid" -> (ptsCte +
      """
        |SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cell_lat,
        |       CAST(floor(lon / 10.0) AS BIGINT) AS cell_lon,
        |       COUNT(*) AS n
        |FROM pts GROUP BY 1, 2
        |ORDER BY n DESC, cell_lat, cell_lon LIMIT 20""".stripMargin),

    "q_geo_zorder" -> {
      val (latc, lonc, z) = zOrderExprs(sparkDialect = false)
      s"""WITH c AS (
         |  SELECT $latc AS latc, $lonc AS lonc FROM events),
         |zc AS (SELECT latc, lonc, ($z) AS z FROM c)
         |SELECT z // 1024 AS z_bucket, COUNT(*) AS n,
         |  MIN(z) AS min_z, MAX(z) AS max_z,
         |  COUNT(DISTINCT latc * 256 + lonc) AS n_cells,
         |  MAX(latc) - MIN(latc) AS lat_span,
         |  MAX(lonc) - MIN(lonc) AS lon_span
         |FROM zc GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },

    "q_geo_knn" -> (ptsCte +
      s"""
         |SELECT event_id,
         |  round(${HaversineDist.oracleSql("lat", "lon", "10.0", "20.0")}, 3) AS dist_km
         |FROM pts ORDER BY dist_km, event_id LIMIT 5""".stripMargin),

    // Deliberately the FULL-SCAN brute force: hash equality proves the
    // grid-pruned plan loses no neighbour.
    "q_geo_knn_grid" -> (ptsCte +
      s"""
         |SELECT event_id,
         |  round(${HaversineDist.oracleSql("lat", "lon", "10.0", "20.0")}, 3) AS dist_km
         |FROM pts ORDER BY dist_km, event_id LIMIT 5""".stripMargin),

    // Deliberately the FULL brute-force cross join + per-user rank: hash
    // equality proves the ring-certificate kNN join loses no neighbour.
    "q_geo_knn_join" -> (ptsCte +
      s""",
         |latest AS (
         |  SELECT user_id, lat, lon FROM (
         |    SELECT user_id, lat, lon,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts_us DESC, event_id DESC) AS rn
         |    FROM pts) t WHERE rn = 1),
         |dep AS (
         |  SELECT o_orderkey AS depot_id,
         |    ((o_orderkey * 59) % 1700) / 10.0 - 85.0 AS d_lat,
         |    ((o_orderkey * 211) % 3600) / 10.0 - 180.0 AS d_lon
         |  FROM orders WHERE o_orderkey % 101 = 7),
         |ranked AS (
         |  SELECT user_id, depot_id,
         |    round(${HaversineDist.oracleSql("lat", "lon", "d_lat", "d_lon")}, 3)
         |      AS dist_km,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY round(${HaversineDist.oracleSql("lat", "lon", "d_lat", "d_lon")}, 3),
         |               depot_id) AS rk
         |  FROM latest CROSS JOIN dep)
         |SELECT user_id, depot_id, dist_km, rk
         |FROM ranked WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin),

    // Deliberately the FULL exact cross join with both predicates: hash
    // equality proves the (cell, time-bucket) scheme loses no pair.
    "q_geo_st_join" -> (ptsCte +
      s""",
         |evf AS (SELECT event_id, user_id, lat, lon, ts_us FROM pts
         |        WHERE lat BETWEEN -60.0 AND 60.0),
         |dep AS (
         |  SELECT o_orderkey AS depot_id,
         |    ((o_orderkey * 59) % 1700) / 10.0 - 85.0 AS d_lat,
         |    ((o_orderkey * 211) % 3600) / 10.0 - 180.0 AS d_lon,
         |    1704067200000000 + (o_orderkey % 28) * 86400000000
         |      + (o_orderkey % 24) * 3600000000 AS visit_us
         |  FROM orders WHERE o_orderkey % 101 = 7),
         |depf AS (SELECT * FROM dep WHERE d_lat BETWEEN -60.0 AND 60.0),
         |pairs AS (
         |  SELECT depot_id, user_id,
         |    ${HaversineDist.oracleSql("lat", "lon", "d_lat", "d_lon")} AS km,
         |    abs(ts_us - visit_us) AS dt_us
         |  FROM depf CROSS JOIN evf
         |  WHERE ${HaversineDist.oracleSql("lat", "lon", "d_lat", "d_lon")} < 400.0
         |    AND abs(ts_us - visit_us) <= 604800000000)
         |SELECT depot_id, COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  round(MIN(km), 3) AS min_km,
         |  CAST(floor(MIN(dt_us) / 3600000000) AS BIGINT) AS min_dt_h
         |FROM pairs GROUP BY depot_id ORDER BY depot_id""".stripMargin),

    // Deliberately the FULL exact distance join (no grid): hash equality
    // proves the 3×3 cell-bucket candidate generation loses no pair.
    "q_geo_join" -> (ptsCte +
      s""",
         |evf AS (SELECT event_id, user_id, lat, lon FROM pts
         |        WHERE lat BETWEEN -60.0 AND 60.0),
         |dep AS (
         |  SELECT o_orderkey AS depot_id,
         |    ((o_orderkey * 59) % 1700) / 10.0 - 85.0 AS d_lat,
         |    ((o_orderkey * 211) % 3600) / 10.0 - 180.0 AS d_lon
         |  FROM orders WHERE o_orderkey % 101 = 7),
         |depf AS (SELECT * FROM dep WHERE d_lat BETWEEN -60.0 AND 60.0),
         |pairs AS (
         |  SELECT depot_id, user_id,
         |    ${HaversineDist.oracleSql("d_lat", "d_lon", "lat", "lon")} AS km
         |  FROM depf CROSS JOIN evf
         |  WHERE ${HaversineDist.oracleSql("d_lat", "d_lon", "lat", "lon")} < 200.0)
         |SELECT depot_id, COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  round(MIN(km), 3) AS min_km
         |FROM pairs GROUP BY depot_id ORDER BY depot_id""".stripMargin),

    "q_geo_od" -> (ptsCte +
      """,
        |e AS (
        |  SELECT user_id, ts_us // 86400000000 AS day, event_id, ts_us,
        |    CAST(CAST(floor(lat / 10.0) AS BIGINT) AS VARCHAR) || ':' ||
        |    CAST(CAST(floor(lon / 10.0) AS BIGINT) AS VARCHAR) AS cell
        |  FROM pts),
        |od AS (
        |  SELECT first_value(cell) OVER w AS origin,
        |         last_value(cell) OVER w AS dest,
        |         row_number() OVER (PARTITION BY user_id, day
        |                            ORDER BY ts_us, event_id) AS rn
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id, day ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT origin, dest, COUNT(*) AS n_trips
        |FROM od WHERE rn = 1
        |GROUP BY origin, dest ORDER BY origin, dest""".stripMargin),

    // Oracle = a RECURSIVE-CTE walk over each user's ordered point list,
    // NOT list_reduce: DuckDB v1.0's list_reduce mis-evaluates this fold
    // on the full-scan plan (debugged r12: the ~88-element per-user lists
    // produce a different keep count than the identical filtered-scan
    // plan, while the input lists are bit-identical and an independent
    // driver fold agrees with Spark); the recursive walk matches the
    // driver fold on every user. One recursion step per trajectory point
    // (clusterCte precedent).
    "q_traj_simplify" -> (ptsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""",
         |arr AS (
         |  SELECT user_id,
         |    list(struct_pack(lat := lat, lon := lon) ORDER BY ts_us, event_id) AS a
         |  FROM pts GROUP BY user_id),
         |walk(uid, i, la, lo, k) AS (
         |  SELECT user_id, 1, a[1].lat, a[1].lon, 1 FROM arr
         |  UNION ALL
         |  SELECT w.uid, w.i + 1,
         |    CASE WHEN ${HaversineDist.oracleSql("w.la", "w.lo", "t.a[w.i+1].lat", "t.a[w.i+1].lon")} > 2000.0
         |      THEN t.a[w.i+1].lat ELSE w.la END,
         |    CASE WHEN ${HaversineDist.oracleSql("w.la", "w.lo", "t.a[w.i+1].lat", "t.a[w.i+1].lon")} > 2000.0
         |      THEN t.a[w.i+1].lon ELSE w.lo END,
         |    CASE WHEN ${HaversineDist.oracleSql("w.la", "w.lo", "t.a[w.i+1].lat", "t.a[w.i+1].lon")} > 2000.0
         |      THEN w.k + 1 ELSE w.k END
         |  FROM walk w JOIN arr t ON w.uid = t.user_id WHERE w.i < len(t.a))
         |SELECT a2.user_id, CAST(len(a2.a) AS BIGINT) AS n_points,
         |  CAST(w.k AS BIGINT) AS n_kept,
         |  round(CAST(w.k AS DOUBLE) / len(a2.a), 4) AS keep_ratio
         |FROM walk w JOIN arr a2 ON w.uid = a2.user_id AND w.i = len(a2.a)
         |ORDER BY a2.user_id""".stripMargin),

    "q_traj_interp" -> (ptsCte +
      s""",
         |fx AS (SELECT user_id, ts_us, lat, lon FROM pts),
         |bounds AS (
         |  SELECT user_id,
         |    ((MIN(ts_us) + 21599999999) // 21600000000) * 21600000000 AS mlo,
         |    (MAX(ts_us) // 21600000000) * 21600000000 AS mhi
         |  FROM fx GROUP BY user_id),
         |marks AS (
         |  SELECT user_id, unnest(generate_series(mlo, mhi, 21600000000)) AS ts_us
         |  FROM bounds WHERE mlo <= mhi),
         |u AS (
         |  SELECT user_id, ts_us, 0 AS is_mark, lat, lon FROM fx
         |  UNION ALL
         |  SELECT user_id, ts_us, 1, NULL, NULL FROM marks),
         |w2 AS (
         |  SELECT user_id, ts_us, is_mark,
         |    last_value(lat IGNORE NULLS) OVER wb AS plat,
         |    last_value(lon IGNORE NULLS) OVER wb AS plon,
         |    last_value(CASE WHEN lat IS NOT NULL THEN ts_us END IGNORE NULLS)
         |      OVER wb AS pt,
         |    first_value(lat IGNORE NULLS) OVER wf AS nlat,
         |    first_value(lon IGNORE NULLS) OVER wf AS nlon,
         |    first_value(CASE WHEN lat IS NOT NULL THEN ts_us END IGNORE NULLS)
         |      OVER wf AS nt
         |  FROM u
         |  WINDOW
         |    wb AS (PARTITION BY user_id ORDER BY ts_us, is_mark
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY user_id ORDER BY ts_us, is_mark
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |ip AS (
         |  SELECT user_id,
         |    CAST(floor((plat + (nlat - plat) * f) * 1000000.0) AS BIGINT)
         |      AS lat_u,
         |    CAST(floor((plon + (nlon - plon) * f) * 1000000.0) AS BIGINT)
         |      AS lon_u
         |  FROM (
         |    SELECT *, CASE WHEN nt > pt
         |      THEN CAST(ts_us - pt AS DOUBLE) / (nt - pt) ELSE 0.0 END AS f
         |    FROM w2 WHERE is_mark = 1) t)
         |SELECT user_id, COUNT(*) AS n_marks,
         |  CAST(SUM(lat_u) AS BIGINT) AS sum_lat_udeg,
         |  CAST(SUM(lon_u) AS BIGINT) AS sum_lon_udeg
         |FROM ip GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_traj_dwell" -> (ptsCte +
      s""",
         |seg2 AS (
         |  SELECT user_id, ts_us - pts_us AS dt_us,
         |    CAST(floor(plat / 10.0) AS BIGINT) AS cla,
         |    CAST(floor(plon / 10.0) AS BIGINT) AS clo
         |  FROM (
         |    SELECT user_id, ts_us,
         |      lag(lat, 1) OVER w AS plat, lag(lon, 1) OVER w AS plon,
         |      lag(ts_us, 1) OVER w AS pts_us
         |    FROM pts
         |    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)) t
         |  WHERE pts_us IS NOT NULL AND ts_us - pts_us > 0)
         |SELECT cla, clo, CAST(SUM(dt_us) AS BIGINT) AS dwell_us,
         |  COUNT(*) AS n_stints, COUNT(DISTINCT user_id) AS n_users
         |FROM seg2 GROUP BY cla, clo
         |ORDER BY dwell_us DESC, cla, clo LIMIT 10""".stripMargin),

    "q_traj_speed" -> (segCte +
      """
        |SELECT user_id, COUNT(*) AS n_segs,
        |  CAST(round(SUM(CAST(seg_km AS DECIMAL(18,4))), 1) AS DOUBLE) AS total_km,
        |  round(CAST(SUM(CAST(seg_km AS DECIMAL(18,4))) AS DOUBLE)
        |        / (SUM(dt_us) / 3.6e9), 2) AS avg_speed_kmh,
        |  CAST(round(MAX(seg_km / (dt_us / 3.6e9)), 0) AS BIGINT) AS max_speed_kmh,
        |  COUNT(*) FILTER (WHERE seg_km / (dt_us / 3.6e9) > 1000.0) AS n_speeding
        |FROM seg WHERE dt_us > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_traj_stay" -> (segCte +
      """,
        |runs AS (
        |  SELECT user_id, rid, COUNT(*) AS n_pts,
        |    MAX(ts_us) - MIN(ts_us) AS span_us
        |  FROM (
        |    SELECT user_id, ts_us,
        |      SUM(CASE WHEN seg_km IS NULL OR seg_km > 3000.0 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
        |    FROM seg) t
        |  GROUP BY user_id, rid)
        |SELECT user_id, COUNT(*) AS n_runs,
        |  COUNT(*) FILTER (WHERE n_pts >= 3 AND span_us >= 600000000) AS n_stays
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_traj_trips" -> (segCte +
      """,
        |trips AS (
        |  SELECT user_id, tid, COUNT(*) AS n_pts,
        |    CAST(SUM(CAST(CASE WHEN new_trip = 0 THEN seg_km END
        |                  AS DECIMAL(18,4))) AS DOUBLE) AS trip_km,
        |    SUM(CASE WHEN new_trip = 0 THEN dt_us END) AS dur_us
        |  FROM (
        |    SELECT user_id, seg_km, dt_us,
        |      CASE WHEN dt_us IS NULL OR dt_us > 43200000000 THEN 1 ELSE 0 END
        |        AS new_trip,
        |      SUM(CASE WHEN dt_us IS NULL OR dt_us > 43200000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tid
        |    FROM seg) t
        |  GROUP BY user_id, tid)
        |SELECT user_id, COUNT(*) AS n_trips,
        |  round(MAX(COALESCE(trip_km, 0.0)), 1) AS longest_km,
        |  CAST(round(SUM(CAST(trip_km AS DECIMAL(18,4))), 1) AS DOUBLE) AS total_km,
        |  CAST(SUM(COALESCE(dur_us, 0)) AS BIGINT) AS moving_us
        |FROM trips GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_traj_heading" -> (ptsCte +
      s""",
         |dl AS (
         |  SELECT user_id,
         |    lat - lag(lat, 1) OVER w AS dlat,
         |    lon - lag(lon, 1) OVER w AS dlon
         |  FROM pts
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |sect AS (
         |  SELECT user_id,
         |    ${headingCaseSql("").replace("\n", "\n    ")} AS sector
         |  FROM dl
         |  WHERE dlat IS NOT NULL AND (dlat <> 0.0 OR dlon <> 0.0))
         |SELECT sector, COUNT(*) AS n_segs, COUNT(DISTINCT user_id) AS n_users,
         |  round(COUNT(*) / SUM(COUNT(*)) OVER (), 6) AS share
         |FROM sect GROUP BY sector ORDER BY sector""".stripMargin),

    "q_traj_rog" -> (ptsCte +
      s""",
         |cent AS (
         |  SELECT user_id,
         |    CAST(SUM(CAST(lat AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS clat,
         |    CAST(SUM(CAST(lon AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS clon
         |  FROM pts GROUP BY user_id),
         |d AS (
         |  SELECT p.user_id,
         |    ${HaversineDist.oracleSql("p.lat", "p.lon", "c.clat", "c.clon")} AS d
         |  FROM pts p JOIN cent c ON p.user_id = c.user_id)
         |SELECT user_id, COUNT(*) AS n_pts,
         |  round(sqrt(CAST(SUM(CAST(d * d AS DECIMAL(18,4))) AS DOUBLE)
         |             / COUNT(*)), 1) AS rog_km,
         |  round(MAX(d), 1) AS max_km
         |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_traj_tortuosity" -> (ptsCte +
      s""",
         |r AS (
         |  SELECT user_id, lat, lon,
         |    row_number() OVER w AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id) AS nn,
         |    lag(lat, 1) OVER w AS plat, lag(lon, 1) OVER w AS plon
         |  FROM pts
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |g AS (
         |  SELECT user_id, COUNT(*) AS n_pts,
         |    MAX(CASE WHEN rn = 1 THEN lat END) AS flat,
         |    MAX(CASE WHEN rn = 1 THEN lon END) AS flon,
         |    MAX(CASE WHEN rn = nn THEN lat END) AS llat,
         |    MAX(CASE WHEN rn = nn THEN lon END) AS llon,
         |    ${Q.oSum(tortSegKmSql)} AS path_km
         |  FROM r GROUP BY user_id),
         |f AS (
         |  SELECT user_id, n_pts, path_km,
         |    ${HaversineDist.oracleSql("flat", "flon", "llat", "llon")} AS net_km
         |  FROM g)
         |SELECT user_id, n_pts,
         |  round(path_km, 1) AS path_km, round(net_km, 1) AS net_km,
         |  CASE WHEN path_km > 0.0 THEN round(net_km / path_km, 4) END
         |    AS straightness
         |FROM f ORDER BY user_id""".stripMargin),

    "q_traj_circvar" -> (ptsCte +
      s""",
         |dl AS (
         |  SELECT user_id,
         |    lat - lag(lat, 1) OVER w AS dlat,
         |    lon - lag(lon, 1) OVER w AS dlon
         |  FROM pts
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |seg AS (
         |  SELECT user_id, dlat, dlon,
         |    sqrt(dlat * dlat + dlon * dlon) AS r
         |  FROM dl
         |  WHERE dlat IS NOT NULL AND (dlat <> 0.0 OR dlon <> 0.0)),
         |g AS (
         |  SELECT user_id, COUNT(*) AS n_moves,
         |    CAST(SUM(CAST((dlat / r) AS DECIMAL(18,8))) AS DOUBLE) AS scd,
         |    CAST(SUM(CAST((dlon / r) AS DECIMAL(18,8))) AS DOUBLE) AS ssd
         |  FROM seg GROUP BY user_id)
         |SELECT user_id, n_moves,
         |  round(scd / n_moves, 6) AS mean_cos,
         |  round(ssd / n_moves, 6) AS mean_sin,
         |  round(1.0 - sqrt(scd * scd + ssd * ssd) / n_moves, 6) AS circ_var
         |FROM g ORDER BY user_id""".stripMargin),

    "q_traj_predict" ->
      """WITH mv AS (
        |  SELECT user_id,
        |    (((event_id * 37) % 1700) // 200) * 18
        |      + ((event_id * 131) % 3600) // 200 AS cell,
        |    lead((((event_id * 37) % 1700) // 200) * 18
        |      + ((event_id * 131) % 3600) // 200, 1) OVER
        |      (PARTITION BY user_id
        |       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS nxt
        |  FROM events),
        |moves AS (
        |  SELECT user_id, cell AS src, nxt AS dst
        |  FROM mv WHERE nxt IS NOT NULL AND cell <> nxt),
        |model AS (
        |  SELECT src, dst AS pred FROM (
        |    SELECT src, dst,
        |      row_number() OVER (PARTITION BY src
        |        ORDER BY COUNT(*) DESC, dst) AS rk
        |    FROM moves GROUP BY src, dst) t
        |  WHERE rk = 1)
        |SELECT m.user_id, COUNT(*) AS n_moves,
        |  CAST(SUM(CASE WHEN m.dst = p.pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round(CAST(SUM(CASE WHEN m.dst = p.pred THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS accuracy
        |FROM moves m JOIN model p ON m.src = p.src
        |GROUP BY m.user_id ORDER BY user_id""".stripMargin,

    "q_traj_entropy" ->
      """WITH bc AS (
        |  SELECT user_id,
        |    (((event_id * 37) % 1700) // 200) * 18
        |      + ((event_id * 131) % 3600) // 200 AS cell,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, c,
        |    SUM(c) OVER (PARTITION BY user_id) AS n
        |  FROM bc),
        |tm AS (SELECT user_id, n, CAST(c AS DOUBLE) / n AS p FROM w),
        |g AS (
        |  SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_fixes,
        |    COUNT(*) AS n_cells,
        |    CAST(round(-SUM(CAST(p * round(ln(p), 6) AS DECIMAL(28,12))), 6)
        |      AS DOUBLE) AS entropy
        |  FROM tm GROUP BY user_id)
        |SELECT user_id, n_fixes, n_cells, entropy,
        |  round(ln(CAST(n_cells AS DOUBLE)), 6) AS rand_entropy,
        |  CASE WHEN n_cells > 1 THEN
        |    round(entropy / round(ln(CAST(n_cells AS DOUBLE)), 6), 4) END
        |    AS entropy_norm
        |FROM g ORDER BY user_id""".stripMargin,

    "q_traj_convoy" -> (ptsCte +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts)
        |SELECT a.user_id AS u1, b.user_id AS u2, COUNT(DISTINCT a.hb) AS n_hours
        |FROM p a JOIN p b
        |  ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |  AND a.user_id < b.user_id
        |GROUP BY u1, u2 HAVING COUNT(DISTINCT a.hb) >= 3
        |ORDER BY u1, u2""".stripMargin),

    "q_graph_triangles" -> (ptsCte +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM pr ab JOIN pr bc ON ab.u2 = bc.u1
        |  JOIN pr ac ON ac.u1 = ab.u1 AND ac.u2 = bc.u2),
        |deg AS (
        |  SELECT user_id, COUNT(*) AS d FROM (
        |    SELECT u1 AS user_id FROM pr UNION ALL SELECT u2 AS user_id FROM pr) x
        |  GROUP BY user_id),
        |w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_triangles, n_wedges FROM tri, w""".stripMargin),

    "q_graph_clustcoef" -> (ptsCte +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |tn AS (
        |  SELECT u, COUNT(*) AS t FROM (
        |    SELECT ab.u1 AS u FROM pr ab JOIN pr bc ON ab.u2 = bc.u1
        |      JOIN pr ac ON ac.u1 = ab.u1 AND ac.u2 = bc.u2
        |    UNION ALL
        |    SELECT ab.u2 FROM pr ab JOIN pr bc ON ab.u2 = bc.u1
        |      JOIN pr ac ON ac.u1 = ab.u1 AND ac.u2 = bc.u2
        |    UNION ALL
        |    SELECT bc.u2 FROM pr ab JOIN pr bc ON ab.u2 = bc.u1
        |      JOIN pr ac ON ac.u1 = ab.u1 AND ac.u2 = bc.u2) x
        |  GROUP BY u),
        |deg AS (
        |  SELECT user_id AS u, COUNT(*) AS d FROM (
        |    SELECT u1 AS user_id FROM pr UNION ALL SELECT u2 AS user_id FROM pr) x
        |  GROUP BY user_id),
        |co AS (
        |  SELECT deg.u, CAST(COALESCE(tn.t, 0) AS DOUBLE) /
        |    CAST(deg.d * (deg.d - 1) // 2 AS DOUBLE) AS coef
        |  FROM deg LEFT JOIN tn ON deg.u = tn.u
        |  WHERE deg.d >= 2)
        |SELECT CAST(FLOOR(coef * 10) AS INT) AS bucket, COUNT(*) AS n_nodes,
        |  round(CAST(SUM(CAST(coef AS DECIMAL(18,6))) AS DOUBLE) / COUNT(coef), 4)
        |    AS avg_coef
        |FROM co GROUP BY bucket ORDER BY bucket""".stripMargin),

    "q_graph_richclub" -> (ptsCte +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |deg AS (
        |  SELECT u, COUNT(*) AS deg FROM (
        |    SELECT u1 AS u FROM pr UNION ALL SELECT u2 AS u FROM pr)
        |  GROUP BY u),
        |ks AS (SELECT CAST(unnest(generate_series(1, 5)) AS BIGINT) AS k),
        |nodes AS (
        |  SELECT k, COUNT(*) AS n_nodes FROM deg, ks WHERE deg > k GROUP BY k),
        |emin AS (
        |  SELECT LEAST(da.deg, db.deg) AS md
        |  FROM pr JOIN deg da ON da.u = pr.u1 JOIN deg db ON db.u = pr.u2),
        |edges AS (
        |  SELECT k, COUNT(*) AS n_edges FROM emin, ks WHERE md > k GROUP BY k)
        |SELECT nodes.k AS k, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(COALESCE(n_edges, 0) AS BIGINT) AS n_edges,
        |  CASE WHEN n_nodes > 1 THEN round(2.0 * COALESCE(n_edges, 0) /
        |    (n_nodes * (n_nodes - 1)), 6) END AS phi
        |FROM nodes LEFT JOIN edges ON nodes.k = edges.k
        |ORDER BY k""".stripMargin),

    "q_graph_recip" -> (cellMovesCte +
      """
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_recip,
        |  round(CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 6) AS reciprocity
        |FROM e LEFT JOIN e b ON e.src = b.dst AND e.dst = b.src""".stripMargin),

    "q_graph_degree" -> (ptsCte +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |deg AS (
        |  SELECT user_id, COUNT(*) AS degree FROM (
        |    SELECT u1 AS user_id FROM pr UNION ALL SELECT u2 AS user_id FROM pr) x
        |  GROUP BY user_id)
        |SELECT degree, COUNT(*) AS n_users
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),

    "q_graph_assort" -> (ptsCte +
      s""",
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |sym AS (SELECT u1, u2 FROM pr UNION ALL SELECT u2, u1 FROM pr),
        |deg AS (SELECT u1 AS id, COUNT(*) AS deg FROM sym GROUP BY 1),
        |j AS (
        |  SELECT da.deg AS dx, db.deg AS dy
        |  FROM sym JOIN deg da ON sym.u1 = da.id
        |           JOIN deg db ON sym.u2 = db.id),
        |st AS (
        |  SELECT COUNT(*) AS n2, SUM(dx) AS sx, SUM(dy) AS sy,
        |    SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
        |  FROM j),
        |v AS (SELECT COUNT(*) AS n_vertices FROM deg)
        |SELECT n2 // 2 AS n_edges, n_vertices,
        |  ${Q.oPearson()} AS assortativity
        |FROM (
        |  SELECT n2, n_vertices,
        |    n2 * sxy - sx * sy AS num,
        |    n2 * sxx - sx * sx AS d1,
        |    n2 * syy - sy * sy AS d2
        |  FROM st, v) z""".stripMargin),

    "q_graph_bfs" -> (ptsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |verts AS (
        |  SELECT DISTINCT u AS id FROM (
        |    SELECT u1 AS u FROM pr UNION ALL SELECT u2 FROM pr) x),
        |seeds AS (SELECT id FROM verts ORDER BY id LIMIT 3),
        |sym AS (SELECT u1 AS src, u2 AS dst FROM pr
        |        UNION ALL SELECT u2, u1 FROM pr),
        |walk(id, d) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT s.dst, w.d + 1 FROM walk w JOIN sym s ON s.src = w.id
        |  WHERE w.d < 8),
        |dist AS (SELECT id, MIN(d) AS dist FROM walk GROUP BY id)
        |SELECT dist, COUNT(*) AS n_users
        |FROM dist GROUP BY dist ORDER BY dist""".stripMargin),

    // q_graph_bfs's recursive walk seeded from EVERY vertex; the ≤8-hop
    // bound and the round(6)/DECIMAL harmonic sum mirror the Spark side.
    "q_graph_closeness" -> (ptsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |verts AS (
        |  SELECT DISTINCT u AS id FROM (
        |    SELECT u1 AS u FROM pr UNION ALL SELECT u2 FROM pr) x),
        |sym AS (SELECT u1 AS src, u2 AS dst FROM pr
        |        UNION ALL SELECT u2, u1 FROM pr),
        |walk(src, id, d) AS (
        |  SELECT id, id, 0 FROM verts
        |  UNION
        |  SELECT w.src, s.dst, w.d + 1 FROM walk w JOIN sym s ON s.src = w.id
        |  WHERE w.d < 8),
        |dist AS (SELECT src, id, MIN(d) AS d FROM walk GROUP BY 1, 2),
        |per AS (
        |  SELECT src, d, COUNT(*) AS n_d FROM dist WHERE d > 0 GROUP BY 1, 2),
        |agg AS (
        |  SELECT src AS user_id, CAST(SUM(n_d) AS BIGINT) AS n_reach,
        |    CAST(SUM(n_d * d) AS BIGINT) AS sum_d,
        |    CAST(SUM(CAST(round(CAST(n_d AS DOUBLE) / d, 6)
        |          AS DECIMAL(18,6))) AS DOUBLE) AS harmonic
        |  FROM per GROUP BY 1)
        |SELECT user_id, n_reach, sum_d,
        |  round(CAST(n_reach AS DOUBLE) / sum_d, 6) AS closeness, harmonic
        |FROM agg ORDER BY harmonic DESC, user_id LIMIT 20""".stripMargin),

    // The closeness walk re-aggregated to eccentricities; the ≤8-hop
    // truncation is the shared declared semantic.
    "q_graph_diameter" -> (ptsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |verts AS (
        |  SELECT DISTINCT u AS id FROM (
        |    SELECT u1 AS u FROM pr UNION ALL SELECT u2 FROM pr) x),
        |sym AS (SELECT u1 AS src, u2 AS dst FROM pr
        |        UNION ALL SELECT u2, u1 FROM pr),
        |walk(src, id, d) AS (
        |  SELECT id, id, 0 FROM verts
        |  UNION
        |  SELECT w.src, s.dst, w.d + 1 FROM walk w JOIN sym s ON s.src = w.id
        |  WHERE w.d < 8),
        |dist AS (SELECT src, id, MIN(d) AS d FROM walk GROUP BY 1, 2),
        |ecc AS (
        |  SELECT src, CAST(MAX(d) AS BIGINT) AS ecc
        |  FROM dist WHERE d > 0 GROUP BY src),
        |m AS (SELECT MAX(ecc) AS dia, MIN(ecc) AS rad FROM ecc)
        |SELECT COUNT(*) AS n_vertices, MAX(ecc) AS diameter,
        |  MIN(ecc) AS radius,
        |  CAST(SUM(CASE WHEN ecc = dia THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_peripheral,
        |  CAST(SUM(CASE WHEN ecc = rad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_central
        |FROM ecc, m""".stripMargin),

    "q_graph_cc" -> (ptsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |sym AS (SELECT u1 AS u, u2 AS v FROM pr
        |        UNION ALL SELECT u2, u1 FROM pr),
        |walk(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
        |assign AS (
        |  SELECT u AS id, CAST(least(u, MIN(v)) AS BIGINT) AS comp
        |  FROM walk GROUP BY u),
        |sizes AS (SELECT comp, COUNT(*) AS size FROM assign GROUP BY comp)
        |SELECT size, COUNT(*) AS n_components
        |FROM sizes GROUP BY size ORDER BY size""".stripMargin),

    "q_graph_linkpred" -> (ptsCte +
      """,
        |p AS (
        |  SELECT DISTINCT user_id, ts_us // 3600000000 AS hb,
        |    CAST(FLOOR(lat / 20) AS BIGINT) AS cla, CAST(FLOOR(lon / 20) AS BIGINT) AS clo
        |  FROM pts),
        |pr AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2
        |  FROM p a JOIN p b
        |    ON a.hb = b.hb AND a.cla = b.cla AND a.clo = b.clo
        |    AND a.user_id < b.user_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.hb) >= 2),
        |sym AS (SELECT u1 AS u, u2 AS v FROM pr
        |        UNION ALL SELECT u2, u1 FROM pr),
        |deg AS (SELECT u AS z, COUNT(*) AS deg FROM sym GROUP BY u),
        |hops AS (
        |  SELECT a.u AS u, b.v AS v, a.v AS z
        |  FROM sym a JOIN sym b ON a.v = b.u
        |  WHERE a.u < b.v),
        |ne AS (
        |  SELECT h.* FROM hops h
        |  WHERE NOT EXISTS (SELECT 1 FROM pr WHERE u1 = h.u AND u2 = h.v)),
        |scored AS (
        |  SELECT u, v, COUNT(*) AS cn,
        |    CAST(SUM(CAST(round(1.0 / ln(deg), 6) AS DECIMAL(18,6))) AS DOUBLE) AS aa
        |  FROM ne JOIN deg USING (z)
        |  GROUP BY u, v HAVING COUNT(*) >= 1)
        |SELECT u, v, cn, aa FROM scored
        |ORDER BY cn DESC, u, v LIMIT 20""".stripMargin),

    "q_traj_sim" -> (ptsCte +
      """,
        |cells AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(lat / 10.0) AS BIGINT) AS cx,
        |    CAST(floor(lon / 10.0) AS BIGINT) AS cy
        |  FROM pts),
        |sizes AS (SELECT user_id, COUNT(*) AS n_cells FROM cells GROUP BY user_id),
        |inter AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS n_inter
        |  FROM cells a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
        |  WHERE a.user_id < b.user_id
        |  GROUP BY a.user_id, b.user_id)
        |SELECT u1, u2,
        |  round(n_inter * 1.0 / (s1.n_cells + s2.n_cells - n_inter), 4) AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.user_id = u1
        |JOIN sizes s2 ON s2.user_id = u2
        |ORDER BY jaccard DESC, u1, u2 LIMIT 10""".stripMargin)
  )
}
