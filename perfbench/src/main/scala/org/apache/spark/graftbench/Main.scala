package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{SparkEntry, Tables}
import graft.operators.LastIterations
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layered benchmark over every `SparkEntry.queries` key.
  *
  * Modes:
  *  - `run`: one workload, closed loop with one client. Sets up the session
  *    several times, runs every timed key once cold, then `--passes` warm
  *    passes in seed-permuted order, then the untimed keys of `--check` once,
  *    checks each output digest and prints one result line. `--trace 1`
  *    attaches the tracer and reports per-layer sums.
  *  - `survey`: every key of `--keys` (default all), traced cold plus
  *    `--passes` warm passes; writes one JSON record per execution to `--records`.
  *  - `keys`: prints every key and whether it has a DuckDB oracle.
  *  - `check`: fails unless every key is in exactly one workload and has an
  *    expected digest. */
object Main {
  final case class Opts(
      mode: String = "run", workload: String = "", seed: Long = 1, trace: Boolean = false,
      passes: Int = 2, setups: Int = 3, data: String = "", bench: String = "", out: String = "",
      keys: String = "all", action: String = "digest", dump: String = "", check: String = "",
      records: String = "",
      cores: Int = Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val code =
      try { run(parse(args.toList, Opts()), entryNs) }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def parse(a: List[String], o: Opts): Opts = a match {
    case Nil => o
    case "--mode" :: v :: t => parse(t, o.copy(mode = v))
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--passes" :: v :: t => parse(t, o.copy(passes = v.toInt))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--bench" :: v :: t => parse(t, o.copy(bench = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--keys" :: v :: t => parse(t, o.copy(keys = v))
    case "--action" :: v :: t => parse(t, o.copy(action = v))
    case "--dump" :: v :: t => parse(t, o.copy(dump = v))
    case "--records" :: v :: t => parse(t, o.copy(records = v))
    case "--check" :: v :: t => parse(t, o.copy(check = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  private def run(o: Opts, entryNs: Long): Int = o.mode match {
    case "keys" =>
      val oracle = SparkEntry.oracleSql.keySet
      SparkEntry.queries.keys.toSeq.sorted.foreach(k => println(s"$k\t${oracle(k)}"))
      0
    case "check" =>
      val ms = membership(o.bench)
      val exp = expected(o.bench)
      val noDigest = ms.map(_.key).filterNot(exp.contains).sorted
      if (noDigest.nonEmpty)
        throw new IllegalStateException(s"keys without an expected digest: ${noDigest.mkString(",")}")
      val sizes = ms.groupBy(_.workload).map { case (w, v) => s"$w ${v.size}" }
      println(s"${ms.size} keys, each in exactly one workload (${sizes.mkString(", ")}), all with digests")
      0
    case "survey" => survey(o)
    case "run" => runWorkload(o, entryNs)
    case m => throw new IllegalArgumentException(s"unknown mode $m")
  }

  // ---------------------------------------------------------------- config

  final case class Member(key: String, workload: String, timed: Boolean)
  final case class Expected(key: String, check: String, rows: Long, schema: String, hash: String)

  private def tsv(p: Path): Seq[Array[String]] =
    Files.readAllLines(p, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t", -1)).drop(1)

  /** Reads `workloads.tsv` and fails unless every query key is in exactly
    * one workload and every listed key exists. */
  def membership(bench: String): Seq[Member] = {
    val ms = tsv(Paths.get(bench, "workloads.tsv")).map(r => Member(r(0), r(1), r(2) == "1"))
    val keys = SparkEntry.queries.keySet
    val count = ms.groupBy(_.key).view.mapValues(_.size).toMap
    val missing = keys.filterNot(count.contains).toSeq.sorted
    val twice = count.filter(_._2 > 1).keys.toSeq.sorted
    val unknown = count.keySet.diff(keys).toSeq.sorted
    if (missing.nonEmpty || twice.nonEmpty || unknown.nonEmpty)
      throw new IllegalStateException(
        s"workload membership broken: in no workload ${missing.mkString(",")}; " +
          s"in two ${twice.mkString(",")}; not a query key ${unknown.mkString(",")}")
    ms
  }

  private def expected(bench: String): Map[String, Expected] = {
    val p = Paths.get(bench, "digests.tsv")
    if (!Files.exists(p)) Map.empty
    else tsv(p).map(r => r(0) -> Expected(r(0), r(1), r(2).toLong, r(3), r(4))).toMap
  }

  /** Oracle keys must match rows, schema and hash; `no_oracle` keys are
    * checked on row count and schema only. */
  private def matches(e: Expected, d: Digest): Boolean =
    e.rows == d.rows && e.schema == d.schema && (e.check != "oracle" || e.hash == d.hash)

  // ---------------------------------------------------------------- session

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Setup(spark: SparkSession, totalS: Double, tablesS: Double, cpu: CpuTicks) {
    def timeS: Double = cpu.unstolen(totalS)
  }

  private def setupOnce(o: Opts): Setup = {
    val c0 = cpuTicks()
    val t0 = System.nanoTime()
    val spark = session(o)
    val t1 = System.nanoTime()
    Tables.names.foreach(Tables(spark, o.data, _))
    val t2 = System.nanoTime()
    warmUp(spark, o)
    Setup(spark, (System.nanoTime() - t0) / 1e9, (t2 - t1) / 1e9, cpuTicks() - c0)
  }

  /** Digests the smallest table: a parquet scan, hashing, an aggregate and a
    * shuffle. In a fresh JVM this moves the engine's one-time start-up, class
    * loading and the code generator's compiler, out of the first timed key
    * and into set-up. */
  private def warmUp(spark: SparkSession, o: Opts): Unit =
    Digest.of(Tables(spark, o.data, "region"))

  /** Builds the session, loads the tables and warms up `n` times; keeps the last. */
  private def setups(o: Opts): Seq[Setup] =
    (1 to o.setups).map { i =>
      val s = setupOnce(o)
      if (i < o.setups) s.spark.stop()
      s
    }

  // ---------------------------------------------------------------- execution

  private lazy val queries = SparkEntry.queries

  final case class Exec(
      key: String, pass: Int, traced: Boolean, wallS: Double, failed: Boolean, wrong: Boolean,
      digest: Option[Digest], trace: Option[KeyTrace], error: String,
      cpu: CpuTicks = CpuTicks(0, 0), procCpuS: Double = 0.0) {
    /** The latency the metrics use: wall time without hypervisor steal. */
    def timeS: Double = cpu.unstolen(wallS)
  }

  private def execute(
      spark: SparkSession, o: Opts, key: String, pass: Int, tracer: Option[Tracer],
      exp: Map[String, Expected]): Exec = {
    val fn = queries(key)
    tracer.foreach(_.begin(key))
    val c0 = cpuTicks()
    val p0 = procCpuNs()
    val t0 = System.nanoTime()
    try {
      val df: DataFrame = fn(spark, o.data)
      tracer.foreach(_.constructed())
      val d = if (o.action == "count") Digest.countOnly(df) else Digest.of(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val c1 = cpuTicks()
      val p1 = procCpuNs()
      val tr = tracer.map(_.end(LastIterations.get(key)))
      val wrong = exp.get(key).exists(e => !matches(e, d))
      Exec(key, pass, tracer.isDefined, wall, failed = false, wrong, Some(d), tr, "",
        c1 - c0, (p1 - p0) / 1e9)
    } catch {
      case NonFatal(e) =>
        val wall = (System.nanoTime() - t0) / 1e9
        tracer.foreach { t => t.constructed(); t.end(None) }
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        Exec(key, pass, tracer.isDefined, wall, failed = true, wrong = false, None, None, msg)
    }
  }

  /** Heap in use after a full collection: the live set the session retains
    * (memoized plans and checkpoint blocks, cached tables, driver-side state).
    * Spark's context cleaner frees unreachable RDD, shuffle and broadcast
    * state asynchronously, and what one cleaning releases becomes unreachable
    * only for the next collection: after an iterative key the third
    * collection still drops the heap by about 35 MB. So collections repeat
    * 200 ms apart, at least three and at most six, until the heap shrinks by
    * less than 1 MB. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { mem.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    val seen = mutable.ArrayBuffer(collect())
    while (seen.size < 6 && (seen.size < 3 || seen(seen.size - 2) - seen.last >= 1.0)) {
      Thread.sleep(200)
      seen += collect()
    }
    seen.min
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** CPU time the hypervisor gave to other guests, summed over all CPUs
    * (the `steal` column of /proc/stat, in USER_HZ = 1/100 s). Latencies
    * inflate with it while load1 does not show it. */
  private def stealS(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).linesIterator.next()
      .split("\\s+")(8).toDouble / 100
    catch { case NonFatal(_) => -1.0 }

  /** Machine-wide CPU time from the first line of /proc/stat, in USER_HZ
    * ticks (1/100 s): `busy` is user + nice + system + irq + softirq,
    * `steal` the time the hypervisor ran other guests while a CPU of this
    * one had work. */
  final case class CpuTicks(busy: Long, steal: Long) {
    def -(o: CpuTicks): CpuTicks = CpuTicks(busy - o.busy, steal - o.steal)

    /** `wallS` scaled by the share of demanded CPU time the hypervisor
      * delivered, busy / (busy + steal). On a shared host steal comes and
      * goes with other guests' load and stretches every latency; this takes
      * out its first-order effect (waits it causes between threads remain).
      * Without steal it is the wall time. */
    def unstolen(wallS: Double): Double =
      if (busy > 0 && steal > 0) wallS * busy / (busy + steal) else wallS
  }

  private def cpuTicks(): CpuTicks =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      CpuTicks(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case NonFatal(_) => CpuTicks(0, 0) }

  private def procCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def env(o: Opts, load1Start: Double, stealStart: Double): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "cores" -> o.cores,
    "load1_start" -> load1Start,
    "load1_end" -> load1(),
    "steal_s" -> (stealS() - stealStart),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "jdk" -> s"${System.getProperty("java.version")} ${System.getProperty("java.vm.name")}")

  private def write(path: String, lines: Iterable[String]): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def record(e: Exec, workload: String, seed: Long): Map[String, Any] = Map(
    "key" -> e.key, "workload" -> workload, "seed" -> seed, "pass" -> e.pass,
    "traced" -> e.traced, "wall_s" -> e.wallS, "time_s" -> e.timeS, "failed" -> e.failed,
    "wrong" -> e.wrong,
    "error" -> e.error,
    "rows" -> e.digest.map(_.rows), "schema" -> e.digest.map(_.schema),
    "hash" -> e.digest.map(_.hash),
    "counters" -> e.trace.map(_.counters).getOrElse(Map.empty),
    "spans" -> e.trace.map(_.spans.toSeq).getOrElse(Seq.empty))

  // ---------------------------------------------------------------- run mode

  /** The per-layer counters summed per workload. `tasks.cpu_util` is the
    * workload ratio, not a sum; `memo.first_touch_s` and the codegen
    * counters come from the cold pass, every other counter from the warm
    * traced passes (per-key median). */
  val layerMetrics: Seq[(String, String)] = Seq(
    "tables.load_s" -> "s", "memo.first_touch_s" -> "s",
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.job_wall_s" -> "s", "scheduler.driver_s" -> "s",
    "tasks.run_s" -> "s", "tasks.cpu_s" -> "s", "tasks.cpu_util" -> "fraction",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "operators.rounds" -> "count", "jvm.gc_s" -> "s", "tasks.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  private val coldCounters = Set("codegen.compile_s", "codegen.classes")

  private def runWorkload(o: Opts, entryNs: Long): Int = {
    val load1Start = load1()
    val stealStart = stealS()
    val members = membership(o.bench)
    val exp = expected(o.bench)
    val inWorkload = members.filter(_.workload == o.workload)
    require(inWorkload.nonEmpty, s"no keys in workload '${o.workload}'")
    val keys = inWorkload.filter(_.timed).map(_.key).sorted
    val checkKeys = o.check.split(",").filter(_.nonEmpty).toSeq
    val unknown = checkKeys.filterNot(k => inWorkload.exists(m => m.key == k && !m.timed))
    require(unknown.isEmpty, s"--check keys not untimed in '${o.workload}': ${unknown.mkString(",")}")
    val sets = setups(o)
    val spark = sets.last.spark
    val setupFirstS = (System.nanoTime() - entryNs) / 1e9 - sets.tail.map(_.totalS).sum
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val rng = new scala.util.Random(o.seed)
    val heapBase = liveHeapMb()
    val order = mutable.ArrayBuffer[Seq[String]]()
    def pass(p: Int, t: Option[Tracer]): Seq[Exec] = {
      val ks = rng.shuffle(keys)
      order += ks
      ks.map(k => execute(spark, o, k, p, t, exp))
    }
    val cold = pass(0, tracer)
    // Read once, untimed, after the first pass over every timed key; later
    // pass ends only creep up, by about 1 MB a pass.
    val liveMb = liveHeapMb()
    // A traced run alternates untraced and traced warm passes, so the
    // tracing overhead is measured on the same keys in the same session.
    val warm = (1 to o.passes).flatMap(p => pass(p, if (o.trace && p % 2 == 0) tracer else None))
    tracer.foreach(_.detach())
    // Output check of untimed keys, after every timed pass and heap reading,
    // so it moves no metric.
    val checked = checkKeys.map(k => execute(spark, o, k, -1, None, exp))
    val all = cold ++ warm ++ checked
    val untraced = warm.filterNot(_.traced)
    val tracedWarm = warm.filter(_.traced)

    def warmSum(es: Seq[Exec], t: Exec => Double = _.timeS): Double =
      es.groupBy(_.key).values.map(v => median(v.map(t))).sum
    val samples = untraced.map(_.timeS)
    val p90 = quantile(samples, 0.9)
    val beyondP90 = samples.count(_ > p90)
    val failed = all.count(_.failed)
    val wrong = all.count(_.wrong)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(sets.map(_.timeS)), "s"),
      "cold_s" -> (cold.map(_.timeS).sum, "s"),
      "warm_s" -> (warmSum(untraced), "s"),
      "p50_s" -> (median(samples), "s"),
      "live_heap_mb" -> (liveMb, "MB"))
    // The same metrics on raw wall time, and the share of demanded CPU time
    // lost to steal over the timed executions, for the report line.
    val wall = Map("setup_s" -> median(sets.map(_.totalS)), "cold_s" -> cold.map(_.wallS).sum,
      "warm_s" -> warmSum(untraced, _.wallS), "p50_s" -> median(untraced.map(_.wallS)))
    val timedCpu = (cold ++ warm).map(_.cpu)
    val stealShare = timedCpu.map(_.steal).sum.toDouble / math.max(1L, timedCpu.map(c => c.busy + c.steal).sum)

    val layers = mutable.LinkedHashMap[String, Double]()
    val keyRecords = mutable.ArrayBuffer[Map[String, Any]]()
    if (o.trace) {
      val coldBy = cold.map(e => e.key -> e).toMap
      val warmBy = tracedWarm.groupBy(_.key)
      layerMetrics.foreach { case (m, _) => layers(m) = 0.0 }
      keys.foreach { k =>
        val ws = warmBy.getOrElse(k, Seq.empty).flatMap(_.trace)
        val c = coldBy(k)
        val per = mutable.LinkedHashMap[String, Double]()
        layerMetrics.map(_._1).filterNot(Set("tables.load_s", "trace.overhead_s")).foreach { m =>
          per(m) =
            if (coldCounters(m)) c.trace.map(_(m)).getOrElse(0.0)
            else if (m == "memo.first_touch_s")
              c.timeS - median(warmBy.getOrElse(k, Seq(c)).map(_.timeS))
            else if (ws.isEmpty) 0.0
            else median(ws.map(_(m)))
        }
        per.foreach { case (m, v) => if (m != "tasks.cpu_util") layers(m) += v }
        keyRecords += Map("key" -> k, "workload" -> o.workload, "seed" -> o.seed,
          "layers" -> per,
          "cold" -> record(c, o.workload, o.seed),
          "warm" -> warm.filter(_.key == k).map(record(_, o.workload, o.seed)))
      }
      layers("tables.load_s") = median(sets.map(_.tablesS))
      val jobWall = layers("scheduler.job_wall_s")
      layers("tasks.cpu_util") = if (jobWall > 0) layers("tasks.cpu_s") / (jobWall * o.cores) else 0.0
      layers("trace.overhead_s") =
        if (tracedWarm.isEmpty) 0.0 else warmSum(tracedWarm) - warmSum(untraced)
    }

    val envInfo = env(o, load1Start, stealStart)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "keys" -> keys.size,
      "warm_passes" -> o.passes, "checked_keys" -> checkKeys, "pass_order" -> order, "env" -> envInfo,
      "setup_first_s" -> setupFirstS, "setup_runs_s" -> sets.map(_.timeS),
      "live_heap_after_setup_mb" -> heapBase, "steal_share" -> stealShare, "wall" -> wall,
      "metrics" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "p90_s" -> Map("value" -> (if (beyondP90 >= 10) Some(p90) else None), "unit" -> "s",
        "samples" -> samples.size, "beyond" -> beyondP90),
      "failed_ratio" -> Map("value" -> failed.toDouble / all.size, "unit" -> "fraction"),
      "wrong_ratio" -> Map("value" -> wrong.toDouble / all.size, "unit" -> "fraction"),
      "errors" -> all.filter(_.failed).map(e => e.key -> e.error).toMap,
      "wrong_keys" -> all.filter(_.wrong).map(_.key).distinct.sorted,
      "per_key" -> keys.map { k =>
        val ws = untraced.filter(_.key == k)
        val c = cold.find(_.key == k)
        k -> Map("cold_s" -> c.map(_.timeS), "cold_wall_s" -> c.map(_.wallS),
          "cold_process_cpu_s" -> c.map(_.procCpuS), "warm_median_s" -> median(ws.map(_.timeS)),
          "warm_s" -> ws.map(_.timeS), "warm_wall_s" -> ws.map(_.wallS),
          "warm_process_cpu_s" -> ws.map(_.procCpuS))
      }.toMap)
    if (o.trace) report("layers") = layers
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    write(s"${o.out}/result-$tag.json", Seq(Json(report)))
    if (o.trace) write(s"${o.out}/trace-$tag.jsonl", keyRecords.map(Json(_)))
    println(Json(report.filterNot { case (k, _) => k == "per_key" || k == "layers" }))
    if (o.trace) println(Json(Map("layers" -> layers)))

    val metrics =
      if (o.trace) layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> layerMetrics.toMap.apply(k)) }
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(Json(mutable.LinkedHashMap(
      "correct" -> (failed == 0 && wrong == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics)))
    spark.stop()
    0
  }

  // ---------------------------------------------------------------- survey mode

  private def survey(o: Opts): Int = {
    val exp = expected(o.bench)
    val keys =
      if (o.keys == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (o.keys.contains(",")) o.keys.split(",").toSeq
      else membership(o.bench).filter(_.workload == o.keys).map(_.key).sorted
    val spark = setups(o.copy(setups = 1)).last.spark
    val tracer = new Tracer(spark)
    tracer.attach()
    val rng = new scala.util.Random(o.seed)
    val out = mutable.ArrayBuffer[String]()
    val runs = (0 to o.passes).flatMap { p =>
      rng.shuffle(keys).map { k =>
        val e = execute(spark, o, k, p, Some(tracer), exp)
        System.err.println(f"[survey] pass $p ${e.wallS}%8.3f s $k${if (e.failed) " FAILED " + e.error else ""}")
        out += Json(record(e, o.keys, o.seed))
        e
      }
    }
    tracer.detach()
    write(o.records, out)
    if (o.dump.nonEmpty) {
      keys.foreach { k =>
        try SparkEntry.queries(k)(spark, o.data).coalesce(1).write.mode("overwrite").parquet(s"${o.dump}/$k")
        catch { case NonFatal(e) => System.err.println(s"[survey] dump $k failed: ${e.getMessage}") }
      }
      write(s"${o.dump}/oracle_sql.json",
        Seq(Json(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) })))
    }
    spark.stop()
    if (runs.exists(e => e.failed || e.wrong)) 1 else 0
  }
}
