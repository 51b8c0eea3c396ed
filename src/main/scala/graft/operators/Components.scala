package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the dedup-clustering step that
  * turns near-duplicate PAIRS (MinHash/SimHash/Jaccard output) into
  * duplicate GROUPS, so a pipeline can keep one canonical document per
  * component. The reference has no graph operator; this is the standard
  * iterative min-label-propagation formulation (the GraphX/GraphFrames
  * algorithm expressed in plain DataFrame ops, no extra dependency).
  *
  * Each round every vertex adopts the smallest component id among itself
  * and its neighbors; convergence takes O(graph diameter) rounds. Near-dup
  * graphs are unions of small dense clusters (diameter 2-4 in practice),
  * so the loop is short; each round is one join + one min-aggregate —
  * shuffle-bounded, no driver-side graph state.
  *
  * Iterative-DataFrame mechanics that matter at scale — each generation is
  * SPILLED TO PARQUET and read back as a leaf plan, not persist()ed:
  *  - lineage is cut every round, so round k never replays (or even
  *    re-PRINTS) rounds 0..k-1. With persist(), each generation's plan
  *    nests the previous generation's cached plan; anything that renders
  *    the tree (Dataset.persist itself computes the cache entry's name
  *    from plan.toString) walks that nesting — measured MINUTES of driver
  *    CPU by round ~5 over a constant-heavy LSH edge plan, before any
  *    executor work;
  *  - zero cached blocks are ever held (asserted in ComponentsSpec) — the
  *    operator leaves only its final parquet labeling behind;
  *  - the convergence probe is FUSED into each round's spill job: an
  *    `observe()` metric counts changed labels while the parquet write
  *    runs, so each round is exactly ONE Spark job — no second read-back
  *    pass over the freshly written generation.
  */
object Components {

  /** Executor-visible scratch root. A driver-local JVM temp dir is only
    * correct when executors share the driver's filesystem (local mode);
    * on a cluster the spills must land on the shared filesystem, so the
    * default falls back to `spark.sql.warehouse.dir` there. Explicit
    * `scratchDir` always wins. */
  private def defaultScratch(spark: org.apache.spark.sql.SparkSession): String =
    if (spark.sparkContext.isLocal)
      java.nio.file.Files.createTempDirectory("graft_cc_").toString
    else {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      s"$wh/.graft_cc_scratch/${java.util.UUID.randomUUID()}"
    }

  /** @param edges DataFrame with two id columns (undirected edges)
    * @param scratchDir where edge/generation parquet spills live. Defaults
    *        to a JVM temp dir on local mode and to a unique directory under
    *        `spark.sql.warehouse.dir` on a cluster (executors must be able
    *        to read what the rounds write). Intermediate spills are always
    *        removed before returning — on success AND on the
    *        non-convergence throw — leaving only `<scratch>/components`
    *        (the returned DataFrame's backing files); pass an explicit
    *        `scratchDir` to control where that final labeling lives and
    *        when it is deleted.
    * @return (id, component) — component = min id reachable; only ids that
    *         appear in `edges` are labeled (isolated vertices are the
    *         complement of the edge set; callers union them if needed).
    *         Backed by a flat parquet scan: no lineage into the iteration,
    *         no retained cache.
    * @throws IllegalStateException if the labels have not converged after
    *         `maxIterations` rounds — a partially-propagated labeling would
    *         silently violate the min-id contract on graphs whose diameter
    *         exceeds the cap, so the failure must be loud. Raise
    *         `maxIterations` (rounds needed = log2(graph diameter) + slack). */
  def connectedComponents(edges: DataFrame, src: String = "src",
      dst: String = "dst", maxIterations: Int = 20,
      scratchDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val scratch = scratchDir.getOrElse(defaultScratch(spark))
    def spill(df: DataFrame, name: String): DataFrame = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$scratch/$name")
      spark.read.parquet(s"$scratch/$name")
    }
    // Path-based delete (not java.net.URI): scratch dirs with spaces or
    // URI-reserved characters are valid filesystem paths, and the Path's
    // own getFileSystem resolves the same way the writer above did.
    def drop(name: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$scratch/$name")
      p.getFileSystem(hadoopConf).delete(p, true)
    }

    // The (possibly expensive) edge plan — LSH bucket joins, cosine
    // verification — executes exactly ONCE, into the edge spill; the
    // symmetrized view unions two scans of that flat file. (Unioning the
    // edge PLAN with its own reversal instead would run the join + verify
    // work twice — only the exchanges below the join are reuse-eligible —
    // and would double-fire any observe() metric inside the edge plan.)
    // No .distinct(): duplicate edges/ids are absorbed by the
    // min-aggregate each round, and a distinct would be an extra shuffle
    // of the biggest intermediate.
    val one = spill(
      edges.select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst")),
      "edges")
    val sym = one.union(one.select(col("dst").as("src"), col("src").as("dst")))

    // labels carries (id, component, prev): prev = the component this id had
    // at the START of the round that produced the row. Folding prev into the
    // min-aggregate lets the convergence probe ride the spill write as an
    // observe() metric instead of joining back against the previous
    // generation — one shuffle AND one job per round. The initial generation
    // may hold duplicate ids (one per incident edge); round 0's groupBy
    // collapses them, and min("self") over identical values still recovers
    // prev.
    var labels = sym
      .select(col("src").as("id"), col("src").as("component"), col("src").as("prev"))
    var converged = false
    var i = 0
    try {
      while (!converged && i < maxIterations) {
        val self = labels.select(col("id"), col("component"), col("component").as("self"))
        val prop = sym.join(labels.select(col("id").as("src"), col("component")), "src")
          .select(col("dst").as("id"), col("component"), lit(null).cast("long").as("self"))
        // Each id appears exactly once in `self`, so min("self") (nulls
        // ignored) recovers the round-start label alongside the new min.
        val hopped = self.union(prop)
          .groupBy("id").agg(min("component").as("component"), min("self").as("prev"))
        // POINTER JUMP (label doubling): follow each row's label to that
        // vertex's OWN label and keep the smaller — labels now travel 2^k
        // hops after k rounds, so convergence is O(log diameter) rounds, not
        // O(diameter). A chain that took 16 edge-propagation rounds closes in
        // 5. Invariant-safe: every label is a vertex id present in `hopped`,
        // and labels only ever decrease. Costs one extra self-join shuffle
        // per round and saves ~3× the rounds.
        val jump = hopped.select(col("id").as("j_id"), col("component").as("j_label"))
        // Convergence metric computed DURING the write (CollectMetrics):
        // rows whose label shrank this round. `prev` is never null — every
        // id has a `self` row — so the count is exact, at zero extra jobs.
        val obs = Observation(s"cc_round_$i")
        val next = spill(
          hopped.join(jump, col("component") === col("j_id"), "left")
            .select(col("id"),
              least(col("component"), coalesce(col("j_label"), col("component")))
                .as("component"),
              col("prev"))
            .observe(obs,
              coalesce(sum(when(col("component") < col("prev"), 1L).otherwise(0L)),
                lit(0L)).as("changed")),
          s"gen_$i")
        val changed = obs.get("changed").asInstanceOf[Long]
        if (i > 0) drop(s"gen_${i - 1}")
        labels = next
        converged = changed == 0L
        i += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIterations iterations; " +
            "graph diameter exceeds the cap — raise maxIterations")
      spill(labels.select("id", "component"), "components")
    } finally {
      // Success or throw, the intermediate spills never outlive the call:
      // only <scratch>/components (the returned frame's files) remains.
      drop("edges")
      if (i > 0) drop(s"gen_${i - 1}")
    }
  }
}
