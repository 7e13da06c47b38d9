package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.Platform
import graft.functions.{EdrDist, FrechetDist, HausdorffKm, LcssMatches, TrajSketch}
import scala.jdk.CollectionConverters._

/** The per-pair trajectory kernels read their tracks in place (TrajSim
  * file scaladoc): every value is bit-identical to the copying kernels
  * they replaced, on every kind of `ArrayData` a caller passes, and the
  * Hausdorff/EDR seed's bit lookup counts exactly the merge's shared
  * cells. */
class TrajKernelSpec extends BaseSpec {

  /** The copying kernels the in-place ones replaced, verbatim over the
    * `Array[Double]` copies each pair used to make of both tracks: the
    * reference every in-place value must equal bit for bit. */
  private object Copied {
    def check(xs: Array[Double], ys: Array[Double], name: String): Unit =
      if (xs.length < 3 || ys.length < 3 || xs.length % 3 != 0 || ys.length % 3 != 0)
        throw new IllegalArgumentException(
          s"$name: tracks must be non-empty interleaved [x, y, z, ...] " +
            s"unit-vector arrays (got lengths ${xs.length}, ${ys.length})")

    def chordSq(xs: Array[Double], i: Int, ys: Array[Double], j: Int): Double = {
      val dx = xs(3 * i) - ys(3 * j)
      val dy = xs(3 * i + 1) - ys(3 * j + 1)
      val dz = xs(3 * i + 2) - ys(3 * j + 2)
      dx * dx + dy * dy + dz * dz
    }

    def toKm(c2: Double): Double =
      2.0 * functions.HaversineDist.EarthRadiusKm * math.asin(math.min(math.sqrt(c2) / 2.0, 1.0))

    def toC2(km: Double): Double = {
      val s = 2.0 * math.sin(math.min(km / (2.0 * functions.HaversineDist.EarthRadiusKm), math.Pi / 2))
      s * s
    }

    def epsC2(epsKm: Double): Double = {
      val s = 2.0 * math.sin(epsKm / (2.0 * functions.HaversineDist.EarthRadiusKm))
      s * s
    }

    def frechet(xs: Array[Double], ys: Array[Double]): Double = {
      check(xs, ys, "frechet_km")
      val n = xs.length / 3
      val m = ys.length / 3
      var prev = new Array[Double](m)
      var cur = new Array[Double](m)
      prev(0) = chordSq(xs, 0, ys, 0)
      var j = 1
      while (j < m) { prev(j) = math.max(prev(j - 1), chordSq(xs, 0, ys, j)); j += 1 }
      var i = 1
      while (i < n) {
        cur(0) = math.max(prev(0), chordSq(xs, i, ys, 0))
        j = 1
        while (j < m) {
          cur(j) = math.max(chordSq(xs, i, ys, j),
            math.min(prev(j), math.min(cur(j - 1), prev(j - 1))))
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      toKm(prev(m - 1))
    }

    def frechetCapped(xs: Array[Double], ys: Array[Double], capKm: Double): Double = {
      check(xs, ys, "frechet_km_capped")
      val n = xs.length / 3
      val m = ys.length / 3
      val capC2 = toC2(capKm)
      val Inf = Double.MaxValue
      var prev = new Array[Double](m)
      var cur = new Array[Double](m)
      var alive = false
      val d00 = chordSq(xs, 0, ys, 0)
      prev(0) = if (d00 <= capC2) d00 else Inf
      alive = prev(0) < Inf
      var j = 1
      while (j < m) {
        val d = chordSq(xs, 0, ys, j)
        prev(j) = if (d <= capC2 && prev(j - 1) < Inf) math.max(prev(j - 1), d) else Inf
        if (prev(j) < Inf) alive = true
        j += 1
      }
      if (!alive) return Inf
      var i = 1
      while (i < n) {
        alive = false
        val d0 = chordSq(xs, i, ys, 0)
        cur(0) = if (d0 <= capC2 && prev(0) < Inf) math.max(prev(0), d0) else Inf
        if (cur(0) < Inf) alive = true
        j = 1
        while (j < m) {
          val d = chordSq(xs, i, ys, j)
          cur(j) =
            if (d > capC2) Inf
            else {
              val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
              if (best == Inf) Inf else math.max(d, best)
            }
          if (cur(j) < Inf) alive = true
          j += 1
        }
        if (!alive) return Inf
        val t = prev; prev = cur; cur = t
        i += 1
      }
      if (prev(m - 1) == Inf) Inf else toKm(prev(m - 1))
    }

    def directed(xs: Array[Double], ys: Array[Double], capC2: Double): Double = {
      val n = xs.length / 3
      val m = ys.length / 3
      var best = 0.0
      var i = 0
      while (i < n) {
        var minD = Double.MaxValue
        var j = 0
        while (j < m && minD > best) {
          val d = chordSq(xs, i, ys, j)
          if (d < minD) minD = d
          j += 1
        }
        if (minD > capC2) return Double.MaxValue
        if (minD > best) best = minD
        i += 1
      }
      best
    }

    def hausdorff(xs: Array[Double], ys: Array[Double]): Double = {
      check(xs, ys, "hausdorff_km")
      toKm(math.max(directed(xs, ys, Double.MaxValue), directed(ys, xs, Double.MaxValue)))
    }

    def hausdorffCapped(xs: Array[Double], ys: Array[Double], capKm: Double): Double = {
      check(xs, ys, "hausdorff_km_capped")
      val capC2 = toC2(capKm)
      val ab = directed(xs, ys, capC2)
      if (ab == Double.MaxValue) return Double.MaxValue
      val ba = directed(ys, xs, capC2)
      if (ba == Double.MaxValue) Double.MaxValue else toKm(math.max(ab, ba))
    }

    def lcss(xs: Array[Double], ys: Array[Double], epsKm: Double): Long = {
      check(xs, ys, "lcss_matches")
      val (n, m, eps) = (xs.length / 3, ys.length / 3, epsC2(epsKm))
      var prev = new Array[Long](m + 1)
      var cur = new Array[Long](m + 1)
      for (i <- 1 to n) {
        for (j <- 1 to m)
          cur(j) = if (chordSq(xs, i - 1, ys, j - 1) <= eps) prev(j - 1) + 1L
                   else math.max(prev(j), cur(j - 1))
        val t = prev; prev = cur; cur = t
      }
      prev(m)
    }

    def edr(xs: Array[Double], ys: Array[Double], epsKm: Double): Long = {
      check(xs, ys, "edr_dist")
      val (n, m, eps) = (xs.length / 3, ys.length / 3, epsC2(epsKm))
      var prev = Array.tabulate[Long](m + 1)(_.toLong)
      var cur = new Array[Long](m + 1)
      for (i <- 1 to n) {
        cur(0) = i.toLong
        for (j <- 1 to m)
          cur(j) = if (chordSq(xs, i - 1, ys, j - 1) <= eps) prev(j - 1)
                   else 1L + math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        val t = prev; prev = cur; cur = t
      }
      prev(m)
    }
  }

  private val rnd = new scala.util.Random(1010)

  private def start(): (Double, Double) =
    (rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 340 - 170)

  /** A random walk of unit vectors from `from` (lat, lon), `len` doubles
    * long (a length that is no multiple of 3 cuts the last point short). */
  private def track(len: Int, from: (Double, Double) = start()): Array[Double] = {
    var (lat, lon) = from
    Array.tabulate(len) { k =>
      if (k % 3 == 0) {
        lat = math.max(-89.0, math.min(89.0, lat + rnd.nextGaussian() * 4))
        lon += rnd.nextGaussian() * 4
      }
      val (la, lo) = (math.toRadians(lat), math.toRadians(lon))
      k % 3 match {
        case 0 => math.cos(la) * math.cos(lo)
        case 1 => math.cos(la) * math.sin(lo)
        case _ => math.sin(la)
      }
    }
  }

  private val pairSchema: Array[DataType] =
    Array(IntegerType, ArrayType(DoubleType, containsNull = false),
      ArrayType(DoubleType, containsNull = false))

  /** The three kinds of input a kernel sees: arrays read out of an
    * `UnsafeRow` (after a leading field, so element 0 sits past a non-zero
    * offset into the row's bytes), `fromPrimitiveArray`, and a boxed
    * `GenericArrayData` (the interpreted path's input). */
  private def kinds(a: Array[Double], b: Array[Double]): Seq[(String, ArrayData, ArrayData)] = {
    val row = UnsafeProjection.create(pairSchema)
      .apply(InternalRow(7, new GenericArrayData(a), new GenericArrayData(b))).copy()
    val (ra, rb) = (row.getArray(1), row.getArray(2))
    assert(ra.isInstanceOf[UnsafeArrayData] &&
      ra.asInstanceOf[UnsafeArrayData].getBaseOffset > Platform.BYTE_ARRAY_OFFSET)
    Seq(("unsafe-row", ra, rb),
      ("primitive", UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b)),
      ("generic", new GenericArrayData(a), new GenericArrayData(b)))
  }

  /** The six kernels against their copies: (name, in-place, copied),
    * returning raw double bits (longs as themselves). */
  private def kernels(dF: Double, dH: Double): Seq[(String, (ArrayData, ArrayData) => Long,
      (Array[Double], Array[Double]) => Long)] = {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    Seq(
      ("frechet_km", (a, b) => bits(FrechetDist.compute(a, b)),
        (x, y) => bits(Copied.frechet(x, y))),
      ("frechet_km_capped", (a, b) => bits(FrechetDist.computeCapped(a, b, dF)),
        (x, y) => bits(Copied.frechetCapped(x, y, dF))),
      ("hausdorff_km", (a, b) => bits(HausdorffKm.compute(a, b)),
        (x, y) => bits(Copied.hausdorff(x, y))),
      ("hausdorff_km_capped", (a, b) => bits(HausdorffKm.computeCapped(a, b, dH)),
        (x, y) => bits(Copied.hausdorffCapped(x, y, dH))),
      ("lcss_matches", (a, b) => LcssMatches.compute(a, b, 900.0),
        (x, y) => Copied.lcss(x, y, 900.0)),
      ("edr_dist", (a, b) => EdrDist.compute(a, b, 900.0),
        (x, y) => Copied.edr(x, y, 900.0)))
  }

  test("in-place kernels equal the copying kernels bit for bit on rows, primitive and generic arrays") {
    // 1, 63, 64 and 65 points: the null-bitmap header grows by a word
    // every 64 elements, so a wrong header offset misreads these lengths
    val lengths = Seq(3, 189, 192, 195)
    for (la <- lengths; lb <- lengths; rep <- 0 until 3) {
      // two walks from one start overlap (matches, early Hausdorff exits);
      // the third pair starts anywhere
      val from = start()
      val (a, b) = (track(la, from), track(lb, if (rep < 2) from else start()))
      val dF = Copied.frechet(a, b)
      val dH = Copied.hausdorff(a, b)
      // caps at, above and below the exact value: exact, exact, abandoned
      val cap = Seq(0.0, 1.0, -1.0)(rep)
      for ((name, inPlace, copied) <- kernels(dF + cap, dH + cap)) {
        val want = copied(a, b)
        for ((kind, ua, ub) <- kinds(a, b))
          assert(inPlace(ua, ub) == want, s"$name on $kind arrays of $la, $lb doubles")
        // repeated calls reuse the per-thread rows: still the same value
        assert(inPlace(UnsafeArrayData.fromPrimitiveArray(a),
          UnsafeArrayData.fromPrimitiveArray(b)) == want, s"$name rerun")
      }
    }
  }

  test("in-place kernels reject malformed tracks with the copying kernels' exception") {
    val good = track(9)
    for (bad <- Seq(0, 4).map(track(_)); (x, y) <- Seq((good, bad), (bad, good))) {
      for ((name, inPlace, copied) <- kernels(1000.0, 1000.0)) {
        val want = intercept[IllegalArgumentException](copied(x, y)).getMessage
        for ((kind, ua, ub) <- kinds(x, y)) {
          val got = intercept[IllegalArgumentException](inPlace(ua, ub)).getMessage
          assert(got == want, s"$name on $kind arrays")
        }
      }
    }
  }

  test("cell_hits over cell_bits equals cell_overlap on random distinct sorted cell sets") {
    // the lattice's corners: row 71, column 143, the clamped/wrapped
    // cellId(90, 180) = (71, 0) and the last bit of the last word (71, 143)
    val edges = Seq((71 << 8) | 0, (71 << 8) | 143, (0 << 8) | 143, 0,
      TrajSketch.cellId(90, 180), TrajSketch.cellId(-90, -180)).distinct.sorted
    def cells(): Array[Int] = {
      val n = rnd.nextInt(80)
      val drawn = Seq.fill(n)((rnd.nextInt(72) << 8) | rnd.nextInt(144))
      val withEdges = if (rnd.nextBoolean()) drawn ++ edges.filter(_ => rnd.nextBoolean()) else drawn
      withEdges.distinct.sorted.toArray
    }
    val sets = Seq.fill(300)((cells(), cells())) ++
      Seq((edges.toArray, edges.toArray),
        (Array.empty[Int], edges.sorted.toArray), (edges.sorted.toArray, Array.empty[Int]))
    for ((a, b) <- sets) {
      val (ca, cb) = (ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      val bits = ArrayData.toArrayData(TrajSketch.cellBitmap(cb))
      assert(TrajSketch.cellHits(ca, bits) == TrajSketch.cellOverlap(ca, cb),
        s"${a.toSeq} vs ${b.toSeq}")
    }
    // and through the expressions, generated code included
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.{CellOverlapExpr, TrajSketchFns}
    import org.apache.spark.sql.execution.GraftColumns.{column, expression}
    val df = sets.map { case (a, b) => (a.toSeq, b.toSeq) }.toDF("a", "b")
      .select(TrajSketchFns.cellHits(col("a"), TrajSketchFns.cellBits(col("b"))).as("hits"),
        column(CellOverlapExpr(expression(col("a")), expression(col("b")))).as("overlap"))
    val rows = df.collect()
    assert(rows.length == sets.size)
    assert(rows.forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("the pair and cover kernels copy no array outside their normalization helpers") {
    val files = Seq("TrajSim.scala", "TrajSketch.scala")
      .map(f => Paths.get("src/main/scala/graft/functions", f))
    val copy = """\.to(Double|Int|Long)Array\b""".r
    /** The body of `def name(` in `lines`: from its def to the closing
      * brace at its indent (the def line alone for a one-line def). */
    def body(lines: IndexedSeq[String], name: String): Range = {
      val start = lines.indexWhere(_.contains(s"def $name("))
      if (start < 0) 0 until 0 else {
        val indent = lines(start).takeWhile(_ == ' ')
        val end = lines.indexWhere(_ == s"$indent}", start)
        start to (if (end < 0) start else end)
      }
    }
    val helpers = Seq("unsafeTrack", "unsafeInts", "unsafeLongs")
    val hits = for (f <- files) yield {
      assert(Files.isRegularFile(f), s"not found: ${f.toAbsolutePath}")
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      val bodies = helpers.map(h => h -> body(lines, h))
      lines.indices.filter(i => copy.findFirstIn(lines(i)).isDefined)
        .map(i => (f, i, bodies.find(_._2.contains(i)).map(_._1), lines(i).trim))
    }
    val all = hits.flatten
    val outside = all.filter(_._3.isEmpty)
    assert(outside.isEmpty, outside.map { case (f, i, _, l) => s"$f:${i + 1}: $l" }
      .mkString("array copy outside the normalization helpers:\n", "\n", ""))
    // one copy per helper: the double tracks, the int cells and the long
    // bitmaps, each copied once when they do not come out of a row
    assert(all.flatMap(_._3).sorted == helpers.sorted, s"one copy per normalization helper: $all")
    // and no track is read through the virtual getter: every coordinate
    // read is Platform.getDouble on the normalized track
    val getter = """(?<!Platform)\.getDouble\(""".r
    val virtual = for (f <- files; (l, i) <- Files.readAllLines(f).asScala.zipWithIndex
                       if !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
                          getter.findFirstIn(l).isDefined) yield s"$f:${i + 1}: ${l.trim}"
    assert(virtual.isEmpty, virtual.mkString("virtual getDouble on a track:\n", "\n", ""))
    // the cover test reads its cells and bitmap words in place too
    val sketch = Files.readAllLines(files(1)).asScala.toIndexedSeq
    val cover = body(sketch, "cellsCovered")
    assert(cover.size > 1, "TrajSketch.cellsCovered not found")
    val reads = cover.map(sketch).filter(_.contains(".get"))
    assert(reads.nonEmpty && reads.forall(l => """(?<!Platform)\.get(Int|Long)\(""".r.findFirstIn(l).isEmpty),
      reads.mkString("virtual read in cellsCovered:\n", "\n", ""))
    // Hausdorff's driver main pass hands the pinned rows' tracks, cells
    // and dilations to the kernels as they are: no copy in its loop
    val traj = Files.readAllLines(Paths.get("src/main/scala/graft/queries/Trajectory.scala"))
      .asScala.toIndexedSeq
    val driver = body(traj, "hausdorffOnDriver").map(traj)
    assert(driver.size > 1 && driver.exists(_.contains("HausdorffKm.computeCapped(")) &&
      driver.exists(_.contains("TrajSketch.dilatedBitmap(")), "Trajectory.hausdorffOnDriver not found")
    // nor do the fan-out and the transposed cover matrix that it runs
    // on the driver's cores
    val driverBodies = Seq("hausdorffOnDriver", "fanOut", "coverHolds", "transpose64")
      .map(h => h -> body(traj, h).map(traj))
    for ((h, lines) <- driverBodies) assert(lines.size > 1, s"Trajectory.$h not found")
    val copies = for ((h, lines) <- driverBodies; l <- lines if copy.findFirstIn(l).isDefined)
      yield s"$h: ${l.trim}"
    assert(copies.isEmpty, copies.mkString("array copy in Hausdorff's driver main pass:\n", "\n", ""))
  }

  /** The per-bit dilation fill that the run fill replaced, verbatim over
    * the same tables. */
  private def perBitDilation(cells: ArrayData, g: TrajSketch.MatchGeom): Array[Long] = {
    val (nRow, nLon) = (TrajSketch.NRow, TrajSketch.NLon)
    val out = new Array[Long](TrajSketch.DilWords)
    val n = cells.numElements()
    var i = 0
    while (i < n) {
      val c = cells.getInt(i)
      val r1 = c >>> 8
      val col = c & 0xff
      var k = 0
      while (k < 2 * g.maxDr + 1) {
        val r2 = r1 + k - g.maxDr
        if (r2 >= 0 && r2 < nRow) {
          val dcm = g.dcMax(r1)(k)
          if (dcm >= 0) {
            var dc = -dcm
            while (dc <= dcm) {
              val cc = ((col + dc) % nLon + nLon) % nLon
              val bit = r2 * nLon + cc
              out(bit >>> 6) |= 1L << (bit & 63)
              dc += 1
            }
          }
        }
        k += 1
      }
      i += 1
    }
    out
  }

  /** Random distinct sorted cell sets, some with the lattice's corners
    * (their own generator: the walks above keep their inputs). */
  private val cellRnd = new scala.util.Random(1212)
  private def cellSet(): Array[Int] = {
    val edges = Seq((71 << 8) | 0, (71 << 8) | 143, (0 << 8) | 143, 0, (35 << 8) | 71)
    val drawn = Seq.fill(cellRnd.nextInt(80))((cellRnd.nextInt(72) << 8) | cellRnd.nextInt(144))
    (if (cellRnd.nextBoolean()) drawn ++ edges.filter(_ => cellRnd.nextBoolean()) else drawn)
      .distinct.sorted.toArray
  }

  private val piR = math.Pi * functions.HaversineDist.EarthRadiusKm

  test("dilatedBitmap fills runs of words exactly as the per-bit fill did") {
    val radii = Seq(0.0, 500.0, 2861.0, 10000.0, math.nextDown(piR))
    val singles = for (row <- 0 until TrajSketch.NRow; col <- 0 until TrajSketch.NLon)
      yield Array((row << 8) | col)
    val sets = singles ++ Seq.fill(200)(cellSet()) :+ Array.empty[Int]
    for (r <- radii) {
      val g = TrajSketch.geom(r)
      for (cs <- sets) {
        val cells = ArrayData.toArrayData(cs)
        assert(TrajSketch.dilatedBitmap(cells, g).sameElements(perBitDilation(cells, g)),
          s"radius $r, cells ${cs.toSeq}")
      }
    }
    // a radius just under πR dilates every cell to the whole sphere
    assert(TrajSketch.dilatedBitmap(ArrayData.toArrayData(Array(0)), math.nextDown(piR))
      .forall(_ == -1L))
  }

  /** The per-bit holds fill that the transposed block fill replaced,
    * verbatim over the users' dilations. */
  private def perBitHolds(dils: IndexedSeq[Array[Long]]): Array[Long] = {
    val n = dils.length
    val w = (n + 63) >>> 6
    val bits = TrajSketch.NRow * TrajSketch.NLon
    val holds = new Array[Long](bits * w)
    var u = 0
    while (u < n) {
      val dil = dils(u)
      val base = (u >>> 6) * bits
      val mask = 1L << (u & 63)
      var k = 0
      while (k < dil.length) {
        var m = dil(k)
        while (m != 0L) {
          holds(base + (k << 6) + java.lang.Long.numberOfTrailingZeros(m)) |= mask
          m &= m - 1
        }
        k += 1
      }
      u += 1
    }
    holds
  }

  test("the transposed cover matrix equals the per-bit holds fill") {
    val rnd = new scala.util.Random(6464)
    val words = TrajSketch.DilWords
    val g = TrajSketch.geom(2861.0)
    // a user's dilation: random words, empty, every row full, some rows
    // full, or a real dilation of a random cell set
    def dilation(kind: Int): Array[Long] = kind match {
      case 0 => Array.fill(words)(rnd.nextLong())
      case 1 => new Array[Long](words)
      case 2 => Array.fill(words)(-1L)
      case 3 =>
        val out = new Array[Long](words)
        for (row <- 0 until TrajSketch.NRow if rnd.nextInt(3) == 0;
             bit <- row * TrajSketch.NLon until (row + 1) * TrajSketch.NLon)
          out(bit >>> 6) |= 1L << (bit & 63)
        out
      case _ => TrajSketch.dilatedBitmap(ArrayData.toArrayData(cellSet()), g)
    }
    for (n <- Seq(1, 63, 64, 65, 200); mix <- Seq(-1, 0, 1, 2, 3, 4)) {
      val dils = IndexedSeq.tabulate(n)(_ => dilation(if (mix >= 0) mix else rnd.nextInt(5)))
      val got = queries.Trajectory.coverHolds(n, dils)
      assert(got.sameElements(perBitHolds(dils)), s"n = $n, dilations of kind $mix")
    }
  }

  test("cell_cover equals cell_hits == size on rows, primitive and generic arrays") {
    val schema: Array[DataType] = Array(IntegerType, ArrayType(IntegerType, containsNull = false),
      ArrayType(LongType, containsNull = false))
    for (rep <- 0 until 300) {
      val cs = cellSet()
      // the other side's dilation at a radius that covers some sets and not others
      val dil = TrajSketch.dilatedBitmap(ArrayData.toArrayData(cellSet()),
        Seq(0.0, 300.0, 1500.0, 4000.0)(rep % 4))
      val want = TrajSketch.cellHits(ArrayData.toArrayData(cs), ArrayData.toArrayData(dil)) == cs.length
      val row = UnsafeProjection.create(schema)
        .apply(InternalRow(7, new GenericArrayData(cs), new GenericArrayData(dil))).copy()
      val kinds = Seq(("unsafe-row", row.getArray(1), row.getArray(2)),
        ("primitive", UnsafeArrayData.fromPrimitiveArray(cs), UnsafeArrayData.fromPrimitiveArray(dil)),
        ("generic", new GenericArrayData(cs), new GenericArrayData(dil)))
      for ((kind, c, g) <- kinds)
        assert(TrajSketch.cellsCovered(c, g) == want, s"$kind: ${cs.toSeq}")
    }
    // a covering and a missing cell, and the same through generated code
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.TrajSketchFns
    val sets = Seq.fill(200)((cellSet().toSeq, cellSet().toSeq))
    val df = sets.toDF("a", "b")
      .select(TrajSketchFns.cellCover(col("a"), TrajSketchFns.dilateCells(col("b"), 1500.0)).as("cover"),
        TrajSketchFns.cellHits(col("a"), TrajSketchFns.dilateCells(col("b"), 1500.0)).as("hits"),
        org.apache.spark.sql.functions.size(col("a")).as("n"))
    val rows = df.collect()
    assert(rows.length == sets.size && rows.exists(_.getBoolean(0)) && rows.exists(!_.getBoolean(0)))
    assert(rows.forall(r => r.getBoolean(0) == (r.getInt(1) == r.getInt(2))))
  }

  /** The tracks() `pb` column of a unit-vector track: (cell << 32 | fix)
    * ascending, each fix's cell from its own coordinates. */
  private def packedCells(xs: Array[Double]): ArrayData =
    ArrayData.toArrayData(Array.tabulate(xs.length / 3) { i =>
      val lat = math.toDegrees(math.asin(xs(3 * i + 2)))
      val lon = math.toDegrees(math.atan2(xs(3 * i + 1), xs(3 * i)))
      (TrajSketch.cellId(lat, lon).toLong << 32) | i.toLong
    }.sorted)

  test("sparse LCSS/EDR read tracks in place and equal the full DPs on rows, primitive and generic arrays") {
    // the same lengths as the dense kernels' matrix: 1 × 63 points and
    // below take the full-matrix fallback, 63 × 63 and above the sparse
    // ε-match search
    val lengths = Seq(3, 189, 192, 195)
    for (la <- lengths; lb <- lengths; rep <- 0 until 2) {
      val from = start()
      val (a, b) = (track(la, from), track(lb, if (rep == 0) from else start()))
      val (pa, pb) = (packedCells(a), packedCells(b))
      val (lcss, edr) = (Copied.lcss(a, b, 900.0), Copied.edr(a, b, 900.0))
      for ((kind, ua, ub) <- kinds(a, b)) {
        assert(TrajSketch.lcssSparse(pa, ua, pb, ub, 900.0) == lcss,
          s"lcss_sparse on $kind arrays of $la, $lb doubles")
        assert(TrajSketch.edrSparse(pa, ua, pb, ub, 900.0) == edr,
          s"edr_sparse on $kind arrays of $la, $lb doubles")
      }
    }
  }
}
