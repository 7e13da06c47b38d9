package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Convoy / co-travel detection (SURVEY §2.10 `q_traj_convoy`): pairs of
  * users observed in the same space-time bucket — an (hour, grid-cell)
  * triple — in at least `minHours` distinct hours.
  *
  * Two paths over ONE projection, the (user_id, hb, cla, clo) Columns, so
  * every double → long cell value comes from the same expression text:
  *  - The driver endgame ([[Endgame]]): when `user_id` is a BIGINT, the
  *    projection's rows pass [[Endgame.rows]] at weight 2 (a count and a
  *    collect, no row shuffle) and the candidate pair work Σ C(bn, 2)
  *    over the deduplicated buckets fits [[Endgame.Budget]] — checked
  *    before any pair is enumerated — the pairs come from primitive
  *    arrays on the driver (users and buckets ranked to dense ints, each
  *    (u1, u2, hour) packed into one long, sorted, runs counted) and
  *    return as a `LocalRelation` with the distributed plan's schema.
  *    Rows with a NULL in any of the four columns are dropped, as the
  *    bucket join and its `<` filter drop them, and a pair meeting in two
  *    cells within one hour counts that hour once, as `countDistinct(hb)`
  *    does. Driver heap at the gate's limit of Budget / 2 rows: the
  *    collect's transient four-field `Row[]` retains 114 B/row, 60 MB
  *    (measured once after a full GC on a 4 GB JDK 17 heap; about twice
  *    the narrow row [[Endgame.Budget]] is sized for, hence the weight),
  *    plus an estimated ~40 B/row of primitive arrays, so roughly 85 MB.
  *  - The distributed bucket join, above either bound, inside
  *    [[Endgame.distributed]], or for a `user_id` of any other type (the
  *    driver kernel packs BIGINT ranks; the join keeps the input's id
  *    type in `u1`/`u2`); it is built only on this path.
  *
  * Scale shape of the distributed path: the self-join is keyed on
  * (hour, cell), so candidate pairs are generated bucket-locally — never
  * across all user pairs — and the distinct() pre-pass caps each bucket
  * at |users seen in that cell-hour|.
  *
  * Hot-bucket skew on the distributed path, honestly: within ONE bucket
  * the pair count is C(u, 2) — and every one of those pairs IS a candidate
  * the semantics require, so no algorithm emits fewer; the question at
  * 100 TB is only whether one task computes them all. Two
  * output-preserving mitigations, both live:
  *  - AQE skew-join (on by default): an oversized bucket partition is
  *    split into chunks with the matching side replicated per chunk, so a
  *    hot bucket fans out across tasks at runtime (GeoSpec pins the
  *    hot-bucket output exactly with AQE on).
  *  - The triangle-split, for buckets past even that: users in a bucket
  *    whose population exceeds `hotUsers` are salted into `groups` groups
  *    by user-id hash, and pairs come from joining group pairs (i ≤ j) —
  *    one quadratic task becomes C(groups+1, 2) bounded ones, each
  *    ~1/C(groups+1,2) of the bucket's pairs. Each unordered pair is
  *    emitted exactly once: a user serves as LEFT for group pairs
  *    (own, j ≥ own) and as RIGHT for (i ≤ own, own), so a cross-group
  *    pair appears only in its one (i, j) combination and within-group
  *    pairs are ordered by user id. GeoSpec plants a bucket past the
  *    threshold and pins exact equality with the unsalted path.
  */
object Convoy {

  /** @param points (user_id, ts_us: µs epoch, lat, lon)
    * @param cellDeg grid cell size in degrees (choose ≈ co-location radius)
    * @param minHours minimum distinct co-located hours for a pair
    * @param hotUsers bucket population above which the triangle-split
    *        engages (quadratic work per bucket task caps at ~hotUsers²)
    * @param groups salt width for split buckets: 0 (default) = ADAPTIVE,
    *        g = ceil(bn / hotUsers) per bucket, so each (gi, gj) task holds
    *        ~(bn/g)² ≈ hotUsers² pairs however large the bucket — a fixed
    *        width would leave (bn/g)² growing quadratically again past it.
    *        A positive value forces that fixed width (equality tests sweep
    *        it against the adaptive and plain paths).
    * @return (u1, u2, n_hours), u1 < u2, ordered */
  def coTravelers(points: DataFrame, cellDeg: Double, minHours: Int,
                  hotUsers: Int = 10000, groups: Int = 0): DataFrame = {
    val cells = points
      .select(col("user_id"), expr("ts_us div 3600000000").as("hb"),
              floor(col("lat") / cellDeg).cast("long").as("cla"),
              floor(col("lon") / cellDeg).cast("long").as("clo"))
    val user = cells.schema("user_id")
    val local =
      if (user.dataType != LongType) None
      else Endgame.rows(cells, weight = 2).flatMap(driverPairs(_, minHours))
    local.fold(bucketJoin(cells, minHours, hotUsers, groups)) { pairs =>
      val schema = StructType(Seq(user.copy(name = "u1"), user.copy(name = "u2"),
        StructField("n_hours", LongType, nullable = false)))
      cells.sparkSession.createDataFrame(java.util.Arrays.asList(pairs: _*), schema)
    }
  }

  /** The driver endgame over the fetched projection rows: (u1, u2,
    * n_hours) with n_hours ≥ `minHours`, ordered by (u1, u2), or `None`
    * when the candidate pair work exceeds [[Endgame.Budget]]. Every rank
    * is a dense int below the fetched row count (≤ Budget / 2 = 2^19), so
    * a (bucket, user) member packs into one long and a (u1, u2, hour) pair
    * entry into another; every dedup and grouping is a sort of those. */
  private def driverPairs(rows: Array[Row], minHours: Int): Option[Array[Row]] = {
    val fixes = rows.filterNot(_.anyNull)
    def ranked(i: Int): (Array[Long], Array[Int]) = {
      val vs = fixes.map(_.getLong(i))
      val keys = sortedDistinct(vs.clone())
      (keys, vs.map(java.util.Arrays.binarySearch(keys, _)))
    }
    val (users, u) = ranked(0)
    val (hours, h) = ranked(1)
    val (lats, a) = ranked(2)
    val (lons, o) = ranked(3)
    // (hour, lat cell, lon cell) in mixed radix: below 2^60, and its
    // quotient by the cell count is the hour rank again
    val perHour = lats.length.toLong * lons.length
    val cellKey = Array.tabulate(fixes.length)(i =>
      h(i) * perHour + a(i).toLong * lons.length + o(i))
    val buckets = sortedDistinct(cellKey.clone())
    // deduplicated (bucket, user) members, sorted by bucket then user
    val members = sortedDistinct(Array.tabulate(fixes.length)(i =>
      (java.util.Arrays.binarySearch(buckets, cellKey(i)).toLong << 32) | u(i)))
    val ends = Array.range(0, members.length).filter(i =>
      i + 1 == members.length || (members(i + 1) >>> 32) != (members(i) >>> 32))

    var work = 0L
    var s = 0
    for (e <- ends) { work += (e + 1L - s) * (e - s) / 2; s = e + 1 }
    if (!Endgame.local(work)) return None

    val hb = bits(hours.length)
    val ub = bits(users.length)
    require(2 * ub + hb < 64)
    val entries = new Array[Long](work.toInt)
    var k = 0
    s = 0
    for (e <- ends) {
      val hour = buckets((members(s) >>> 32).toInt) / perHour
      var i = s
      while (i < e) {
        val hi = (members(i) & 0xffffffffL) << (ub + hb)
        var j = i + 1
        while (j <= e) {
          entries(k) = hi | (members(j) & 0xffffffffL) << hb | hour
          k += 1; j += 1
        }
        i += 1
      }
      s = e + 1
    }
    // one entry per (pair, hour): a pair met in two cells within one hour
    // is one hour; then one run per pair
    val met = sortedDistinct(entries)
    val out = Array.newBuilder[Row]
    var i = 0
    while (i < met.length) {
      val pair = met(i) >>> hb
      var j = i + 1
      while (j < met.length && (met(j) >>> hb) == pair) j += 1
      if (j - i >= minHours)
        out += Row(users((pair >>> ub).toInt), users((pair & ((1L << ub) - 1)).toInt),
          (j - i).toLong)
      i = j
    }
    Some(out.result())
  }

  /** Bits that hold every rank below `n` (one for n ≤ 2, so an input
    * with no fix left packs nothing and returns no pair). */
  private def bits(n: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(n - 1, 1))

  /** `vs` sorted in place, duplicates dropped. */
  private def sortedDistinct(vs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(vs)
    var n = 0
    for (i <- vs.indices if i == 0 || vs(i) != vs(i - 1)) { vs(n) = vs(i); n += 1 }
    java.util.Arrays.copyOf(vs, n)
  }

  /** The distributed plan: distinct pre-pass, (hb, cla, clo) bucket join
    * with the triangle split past `hotUsers`, per-pair distinct hours. */
  private def bucketJoin(cells: DataFrame, minHours: Int,
                         hotUsers: Int, groups: Int): DataFrame = {
    val p = cells.distinct()
    val key = Seq("hb", "cla", "clo")
    // Bucket populations ride the same (hb, cla, clo) shuffle key as the
    // pair join, so the size tag and the split are co-partitioned work.
    val sizes = p.groupBy(key.map(col): _*).agg(count(lit(1)).as("bn"))
    val tagged = p.join(sizes, key)

    val cold = tagged.filter(col("bn") <= hotUsers).select(
      col("hb"), col("cla"), col("clo"), col("user_id"))
    val coldPairs = cold.as("a").join(cold.as("b"), key)
      .filter(col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u1"), col("b.user_id").as("u2"), col("hb"))

    // Per-bucket salt width: both sides derive g from the SAME bn, so the
    // (gi, gj) join keys agree within a bucket by construction. bn >
    // hotUsers ⇒ g ≥ 2, so a split bucket always actually splits.
    val gExpr =
      if (groups > 0) lit(groups.toLong)
      else ceil(col("bn").cast("double") / hotUsers).cast("long")
    val hot = tagged.filter(col("bn") > hotUsers)
      .withColumn("g", gExpr)
      .withColumn("gid", pmod(xxhash64(col("user_id")), col("g")))
    val left = hot
      .withColumn("gj", explode(expr("sequence(gid, g - 1L)")))
      .select(col("hb"), col("cla"), col("clo"),
              col("gid").as("gi"), col("gj"), col("user_id").as("ua"))
    val right = hot
      .withColumn("gi", explode(expr("sequence(0L, gid)")))
      .select(col("hb"), col("cla"), col("clo"),
              col("gi"), col("gid").as("gj"), col("user_id").as("ub"))
    val hotPairs = left.join(right, key ++ Seq("gi", "gj"))
      .filter(col("gi") =!= col("gj") || col("ua") < col("ub"))
      .select(least(col("ua"), col("ub")).as("u1"),
              greatest(col("ua"), col("ub")).as("u2"), col("hb"))

    coldPairs.unionAll(hotPairs)
      .groupBy(col("u1"), col("u2"))
      .agg(countDistinct(col("hb")).as("n_hours"))
      .filter(col("n_hours") >= minHours)
      .orderBy(col("u1"), col("u2"))
  }
}
