package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the configuration this engine assumes.
  *
  * Design notes (scale-first): AQE is on so skewed shuffles re-plan at
  * runtime on a real cluster; shuffle partitions default to the local
  * core count (the driver overrides per environment); session timezone
  * is pinned to UTC so results are reproducible against the DuckDB
  * oracle and across clusters.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // whole-operator extension showcase: AsOfJoinPlan strategy
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // Legacy-data fallback: older driver testdata generations stored
      // events.ts as TIMESTAMP(NANOS), which the Spark reader rejects;
      // reading nanos as long keeps those files loadable (Tables.events
      // dispatches on the scanned dtype). Current testdata ships
      // timestamp[us], which this flag does not affect.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Generated code stays warm across query invocations. Spark caches
      // compiled classes per (class loader, source), JVM-wide, capped by
      // this static conf (default 100) and evicted roughly LRU, so a
      // working set over the cap misses on every cyclic pass. Measured at
      // sf0.01 with an unbounded cache: the graft.Bench headline set
      // compiles 1,480 classes in its first pass and 4-26 new ones per
      // later pass; the perfbench ingest workload needs about 119 and
      // corpus_4x 92. 2,048 is the smallest power of two that holds the
      // headline set.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // Artifact isolation (default on in Spark 4.1) makes every cloned
      // session, so every writeStream.start() and newSession(), ship its
      // own session UUID to the executor, which builds a fresh class
      // loader for it; the cache and the JIT then start over per stream.
      // graft adds no session artifacts, so isolation protects nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
}
