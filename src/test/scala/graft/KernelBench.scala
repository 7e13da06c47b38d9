package graft

import org.apache.spark.sql.catalyst.util.ArrayData

/** Driver-side microbenchmark of the TrajSketch kernels — ns/call without
  * any Spark machinery (`sbt "Test/runMain graft.KernelBench"`). */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val rnd = new scala.util.Random(7)
    val n = 34
    def mkTrack(): (ArrayData, ArrayData, ArrayData) = {
      val ll = Array.fill(n)((rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 340 - 170))
      val xyz = ll.flatMap { case (lat, lon) =>
        val (la, lo) = (math.toRadians(lat), math.toRadians(lon))
        Seq(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
      }
      val fc = ll.map { case (lat, lon) => graft.functions.TrajSketch.cellId(lat, lon) }
      val pb = fc.zipWithIndex.map { case (c, i) => (c.toLong << 32) | i.toLong }.sorted
      val cells = fc.distinct.sorted
      (ArrayData.toArrayData(xyz), ArrayData.toArrayData(pb), ArrayData.toArrayData(cells))
    }
    val tracks = Array.fill(256)(mkTrack())
    def bench(label: String, iters: Int)(f: Int => Long): Unit = {
      var sink = 0L
      var i = 0
      while (i < iters) { sink += f(i); i += 1 } // warmup
      val t0 = System.nanoTime()
      i = 0
      while (i < iters) { sink += f(i); i += 1 }
      val ns = (System.nanoTime() - t0).toDouble / iters
      println(f"$label%-22s ${ns}%9.1f ns/call (sink=$sink)")
    }
    val I = 300000
    bench("lcss_sparse", I) { i =>
      val (ta, pa, _) = tracks(i % 256); val (tb, pb, _) = tracks((i + 1) % 256)
      graft.functions.TrajSketch.lcssSparse(pa, ta, pb, tb, 500.0)
    }
    bench("edr_sparse", I) { i =>
      val (ta, pa, _) = tracks(i % 256); val (tb, pb, _) = tracks((i + 1) % 256)
      graft.functions.TrajSketch.edrSparse(pa, ta, pb, tb, 500.0)
    }
    bench("lcss full DP", I) { i =>
      val (ta, _, _) = tracks(i % 256); val (tb, _, _) = tracks((i + 1) % 256)
      graft.functions.LcssMatches.compute(ta, tb, 500.0)
    }
    bench("hausdorff capped 3000", I) { i =>
      val (ta, _, _) = tracks(i % 256); val (tb, _, _) = tracks((i + 1) % 256)
      if (graft.functions.HausdorffKm.computeCapped(ta, tb, 3000.0) == Double.MaxValue) 0L else 1L
    }
    bench("hausdorff kernel", I) { i =>
      val (ta, _, _) = tracks(i % 256); val (tb, _, _) = tracks((i + 1) % 256)
      graft.functions.HausdorffKm.compute(ta, tb).toLong
    }
    bench("frechet DP", I) { i =>
      val (ta, _, _) = tracks(i % 256); val (tb, _, _) = tracks((i + 1) % 256)
      graft.functions.FrechetDist.compute(ta, tb).toLong
    }
    val dils = tracks.map { case (_, _, c) =>
      ArrayData.toArrayData(graft.functions.TrajSketch.dilatedBitmap(c, 500.0)) }
    bench("near_counts (bitmap)", I) { i =>
      val (_, pa, _) = tracks(i % 256); val (_, pb, _) = tracks((i + 1) % 256)
      graft.functions.TrajSketch.nearCounts(pa, dils((i + 1) % 256), pb, dils(i % 256))
    }
  }
}
