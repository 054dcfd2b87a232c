package graft.core

import org.apache.spark.sql.SparkSession

/** The one local session conf every entrypoint and spec builds from:
  * scratch dir ([[LocalDirs]]), measured SQL-conf tuning
  * ([[SessionTuning]]), then the fixed conf below. Callers add only
  * what is theirs (app name, warehouse dir) and call `getOrCreate`. */
object Session {
  def builder(cpus: String): SparkSession.Builder =
    SessionTuning.configure(LocalDirs.configure(SparkSession.builder()))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // session-wide so no per-read conf mutation: events.ts is parquet
      // TIMESTAMP(NANOS), unsupported by the vectorized reader
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.1's union-preserves-partitioning feature zips co-partitioned
      // union children; a memoized frame whose AQE-materialized partition
      // count diverges from its claimed partitioning crashes the zip
      // (q233 hot at clone10) -- keep the sound concatenating Union
      .config("spark.sql.unionOutputPartitioning", "false")
      // the default 100-entry codegen-class LRU thrashes under a
      // 130-query board: the r13 persweep instrument measured ~1985
      // recompilations in EVERY sweep, not just the first — size the
      // cache to the workload, as a long-lived service would
      // (sweep 2+3 compile deltas drop to ~80 with this set); static
      // conf, so it is set at session create
      .config("spark.sql.codegen.cache.maxEntries", "5000")
}
