package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry is assembled from per-domain modules:
  *   - [[graft.queries.CoreQueries]]  — relational operator inventory (§2)
  *   - [[graft.queries.TextQueries]]  — dedup / text-analysis pipeline ops
  *   - [[graft.queries.VectorQueries]] — embedding similarity ops
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_tpch_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.queries ++
    graft.queries.TextQueries.queries ++
    graft.queries.VectorQueries.queries ++
    graft.queries.ExtQueries.queries ++
    graft.queries.TpchQueries.queries ++
    graft.queries.ScaleQueries.queries ++
    graft.queries.JsonBenchQueries.queries ++
    graft.queries.SsbQueries.queries ++
    graft.queries.DsQueries.queries ++
    graft.queries.BreadthQueries.queries ++
    graft.queries.AnalyticsQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    *
    * RENDER CONTRACT: a few oracles embed driver-computed literal
    * fragments (transcendental models — see [[OracleLiterals]]). Render
    * this map EITHER (a) after the queries have executed in the same JVM
    * (what [[Verify]] does — it then also writes the rendered map to
    * `outDir/oracle_sql.json`, the preferred artifact for any harness;
    * valid at ANY scale, since the stash carries that run's values),
    * OR (b) cold, in any JVM that can call this method at all: the
    * sf0.01 literal snapshot is a COMPILED-IN constant
    * ([[OracleLiteralsSnapshot]], generated source committed in-repo and
    * written only by [[SnapshotGen]]), so it is present wherever these
    * classes are (CORRECTNESS_r10 failed because a resource-file copy
    * missed the driver's render classpath). Cold renders are only valid
    * at the snapshot's scale (sf0.01); if a hash-checked literal is
    * somehow absent, the rendered SQL FAILS LOUDLY in the oracle engine
    * naming the missing key instead of silently recomputing a
    * boundary-fragile `round(ln(...))`. `tools/check.py --render-first`
    * gates all of this end to end. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreQueries.oracles ++
    graft.queries.TextQueries.oracles ++
    graft.queries.VectorQueries.oracles ++
    graft.queries.ExtQueries.oracles ++
    graft.queries.TpchQueries.oracles ++
    graft.queries.ScaleQueries.oracles ++
    graft.queries.JsonBenchQueries.oracles ++
    graft.queries.SsbQueries.oracles ++
    graft.queries.DsQueries.oracles ++
    graft.queries.BreadthQueries.oracles ++
    graft.queries.AnalyticsQueries.oracles
}
