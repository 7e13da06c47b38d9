package graft

/** SessionMemo contract (r9, ADVICE): compute-once per key, nested
  * different-key computes (Spark jobs inside a memoized compute routinely
  * memoize their own sub-plans), racing threads on one key share one
  * compute, and eviction drops a session's entries. Plus the per-thread
  * executed-rounds record (`operators.LastIterations`). */
class MemoSpec extends BaseSpec {

  test("computes once per key and caches the value") {
    val memo = new SessionMemo[String, Int]
    var calls = 0
    def get(k: String) = memo.getOrCompute(spark, k) { calls += 1; calls }
    assert(get("a") == 1 && get("a") == 1 && calls == 1)
    assert(get("b") == 2 && calls == 2)
    assert(memo.sizeFor(spark) == 2)
  }

  test("nested different-key compute works (old bin-locked form threw ISE)") {
    val memo = new SessionMemo[String, Int]
    // keys chosen to land anywhere — the old computeIfAbsent held a bin
    // lock across f, so a nested computeIfAbsent could throw
    // IllegalStateException (same bin) or deadlock; the holder form nests.
    val v = memo.getOrCompute(spark, "outer") {
      10 + memo.getOrCompute(spark, "inner") { 5 }
    }
    assert(v == 15)
    assert(memo.getOrCompute(spark, "inner") { fail("must be cached") } == 5)
  }

  test("racing threads on one key run a single compute") {
    val memo = new SessionMemo[String, Int]
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = memo.getOrCompute(spark, "hot") {
            Thread.sleep(50); calls.incrementAndGet(); 42
          }
        })
      }
      assert(futs.map(_.get()).toSet == Set(42))
      assert(calls.get() == 1, s"compute ran ${calls.get()} times under contention")
    } finally pool.shutdown()
  }

  test("evict drops the session's entries; next get recomputes") {
    val memo = new SessionMemo[String, Int]
    var calls = 0
    memo.getOrCompute(spark, "k") { calls += 1; calls }
    assert(memo.sizeFor(spark) == 1)
    memo.evict(spark)
    assert(memo.sizeFor(spark) == 0)
    assert(memo.getOrCompute(spark, "k") { calls += 1; calls } == 2)
  }

  test("executed rounds are thread-confined: another thread's run never overwrites them") {
    import spark.implicits._
    import graft.operators.{Bpe, LastIterations}
    LastIterations.take()
    // thread A (this one): the 'aaa' corpus trains 3 rounds
    Bpe.train(spark, Seq(("aaa", 5L)).toDF("word", "freq"), numMerges = 8)
    // thread B: nothing ran there yet, then the minCount corpus trains 0
    var seenByB: (Option[Int], Option[Int]) = (Some(-1), Some(-1))
    val b = new Thread(() => {
      val fresh = LastIterations.take()
      Bpe.train(spark, Seq(("ab", 1L), ("cd", 1L)).toDF("word", "freq"), numMerges = 4)
      seenByB = (fresh, LastIterations.take())
    })
    b.start(); b.join()
    assert(LastIterations.take().contains(3), "thread B's run overwrote thread A's rounds")
    assert(seenByB == ((None, Some(0))))
    // a read clears the record: nothing ran since, so the next read is None
    assert(LastIterations.get("q_scan_count").isEmpty)
  }
}
