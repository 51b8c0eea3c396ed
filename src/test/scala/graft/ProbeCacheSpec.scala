package graft

import graft.queries.ProbeCache

/** Fence-probe memoization contract (VERDICT r15 #5): every saturation
  * fence's probe scan runs ONCE per (session, key) — Bench's warmup + two
  * timed passes and Verify's concurrent dump must not re-pay the linear
  * probe per invocation. */
class ProbeCacheSpec extends SparkSpec {

  test("a probe runs once per (session, key) and the value is memoized") {
    var runs = 0
    def probe(): Long = { runs += 1; 42L }
    assert(ProbeCache.cached(spark, "p1#dirA")(probe()) == 42L)
    assert(ProbeCache.cached(spark, "p1#dirA")(probe()) == 42L)
    assert(ProbeCache.cached(spark, "p1#dirA")(probe()) == 42L)
    assert(runs == 1, s"probe re-ran under the cache: $runs times")
  }

  test("distinct keys (probe or dir) do not collide") {
    var a = 0
    var b = 0
    ProbeCache.cached(spark, "p2#dirA") { a += 1; 1L }
    ProbeCache.cached(spark, "p2#dirB") { b += 1; 2L }
    assert(ProbeCache.cached(spark, "p2#dirA")(sys.error("must be cached")) == 1L)
    assert(ProbeCache.cached(spark, "p2#dirB")(sys.error("must be cached")) == 2L)
    assert(a == 1 && b == 1)
  }

  test("a new session re-probes: no stale mass served across sessions") {
    val fresh = spark.newSession()
    var runs = 0
    ProbeCache.cached(spark, "p3#dir") { runs += 1; 7L }
    ProbeCache.cached(fresh, "p3#dir") { runs += 1; 8L }
    assert(runs == 2, "second session must not be served the first's probe")
    assert(ProbeCache.cached(fresh, "p3#dir")(sys.error("cached")) == 8L)
  }

  /** Spark jobs `build` runs. The build runs under its own job group,
    * then one sentinel job under another; the status store sees jobs in
    * submission order, so once the sentinel is visible every job of the
    * build is too. */
  private def jobsDuring(group: String)(build: => Unit): Int = {
    val sc = spark.sparkContext
    try {
      sc.setJobGroup(group, group)
      build
      sc.setJobGroup(s"$group/sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group/sentinel").isEmpty) {
      assert(System.nanoTime() < deadline, "sentinel job never reached the status store")
      Thread.sleep(20)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("the fence probes actually ride the cache (one scan per bench key)") {
    // Every fence probe keys by "<probe>#<dir>" (the corpus counts by
    // "count#<dir>#<table>"). The probes are private; observe through the
    // public query path via the GC-stable peek seam (the r16 red gate:
    // asserting on the WeakHashMap's GLOBAL occupancy fails when GC
    // collects an earlier test's unreferenced session — `spark` here is
    // strongly held by the suite, so ITS entries cannot disappear
    // mid-test). Per (query, probe key):
    //  - after one build the key is memoized for this session;
    //  - a build with that one memo evicted runs MORE Spark jobs than a
    //    build with every memo warm — a probe that scans whether or not
    //    it is memoized runs the same jobs both times;
    //  - a call through the cache with a throwing thunk is served the memo.
    val probes = Seq(
      "dedup_minhash_lsh" -> s"minhashBandWork#$sfDir",
      "dedup_minhash_lsh" -> s"count#$sfDir#documents",
      "dedup_ngram_jaccard" -> s"exactIndexDocs#$sfDir",
      "dedup_ngram_jaccard" -> s"exactIndexPairWork#$sfDir",
      "dedup_simhash" -> s"simhashPairWork#$sfDir",
      "dedup_simhash" -> s"count#$sfDir#documents",
      "ann_cosine_topk" -> s"count#$sfDir#embeddings")
    probes.foreach { case (query, key) =>
      def build(): Unit = graft.queries.SimilarityQueries.queries(query)(spark, sfDir)
      build()
      val memo = ProbeCache.peek(spark, key)
      assert(memo.nonEmpty, s"$query: fence probe $key not memoized after the first build")
      val warm = jobsDuring(s"probe-cache $query $key warm")(build())
      ProbeCache.evict(spark, key)
      val cold = jobsDuring(s"probe-cache $query $key cold")(build())
      assert(cold > warm, s"$query: probe $key ran $warm jobs with its memo warm " +
        s"and $cold with it evicted — it re-scans whether or not it is memoized")
      val served = ProbeCache.cached(spark, key)(
        sys.error(s"$query: probe $key must be served from the memo, not re-executed"))
      assert(served == memo.get)
    }
  }
}
