package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration the engine assumes everywhere.
  *
  * Tuned for the driver's local[N] harness but with settings that hold on a
  * real cluster: AQE on (runtime partition coalescing, skew-join splitting,
  * broadcast demotion), small dims auto-broadcast, UTC session time so
  * timestamp results are oracle-comparable, micros parquet timestamps so
  * downstream engines (DuckDB/Arrow) read identical values.
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // SQL surface: graft's functions (surrogate keys, sketches, vector
      // ops) available from spark.sql(...) — see GraftExtensions.
      .withExtensions(new GraftExtensions)
      // One shuffle partition per core locally; on a cluster this would be
      // ~2-3x total executor cores. AQE coalesces the tail either way.
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 8 MB: dims (nation/region/lookups) broadcast; anything bigger
      // shuffles. Larger thresholds measured badly here — the driver builds
      // each hashed relation single-threaded, and at cluster scale an
      // oversized broadcast ships to every executor.
      .config("spark.sql.autoBroadcastJoinThreshold", (8 * 1024 * 1024).toString)
      // ObjectHashAggregate (TypedImperative aggregates: the MG sketches,
      // the bounded top-k) falls back to SORT-based aggregation past this
      // many in-memory group keys (default 128) — which would re-introduce
      // exactly the per-group sort the bounded top-k exists to remove (the
      // recall paths group by query_id: hundreds of groups per partition).
      // 64Ki keys of ≤k-entry state is a few MB per task, far under
      // execution memory, and the fallback still bounds memory on
      // adversarial group counts past it. Values cannot change: aggregation
      // strategy is a physical choice, and every collect_list/collect_set
      // consumer in the repo order-normalizes with array_sort.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Bound plan-tree stringification (default ~2 GB): Dataset.persist
      // computes the cache entry's NAME by toString-ing the whole physical
      // plan, and a deep-lineage plan carrying constant-heavy expressions
      // (e.g. unions over LSH hyperplane dots) turns that into minutes of
      // driver CPU before any work starts. 64 KB keeps explain output
      // useful and makes every toString O(1)-ish.
      .config("spark.sql.maxPlanStringLength", (64 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type, so
      // read as long and convert to micros in Tables (truncation matches
      // DuckDB's nanos→micros cast).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
