package graft

/** The only writer of the committed oracle-literal snapshot, the
  * compiled-in [[OracleLiteralsSnapshot]] source: builds exactly the
  * stash-dependent queries on fresh sf0.01 models — building a query runs
  * its bounded driver-side model jobs, which stash the literal fragments
  * — then [[OracleLiterals.persist]] writes the stash. Deterministic on
  * any host and at any core count: the models are exact integer counts +
  * StrictMath.log (fdlibm) + BigDecimal HALF_UP, so the regenerated
  * constant is bit-identical wherever the parquet is.
  *
  * Usage, from the repo root: `sbt "runMain graft.SnapshotGen
  * [/root/testdata/sf0.01]"` (any other corpus is refused), then
  * recompile and commit the regenerated
  * `src/main/scala/graft/OracleLiteralsSnapshot.scala`.
  */
object SnapshotGen {
  /** Queries whose BUILD stashes every hash-checked literal key. These
    * lists are convenient, not load-bearing: [[main]] derives the set of
    * keys the registry ACTUALLY consumes by recording every
    * [[OracleLiterals.get]] call during a full oracle render, and fails
    * if consumption and these lists disagree in either direction — so a
    * literal-consuming query added without extending them cannot
    * regenerate a partial snapshot (VERDICT r11 #1: e15 did exactly
    * that). OracleLiteralsResourceSpec pins the same equality. */
  val StashQueries: Seq[String] =
    Seq("d18_dsir_weights", "g3_bigram_xent", "ir1_bm25", "e12_pq_adc",
        "e15_ivf_adc", "e18_ivf_adc_persisted", "e19_adc_rerank")

  /** Every key those builds are expected to stash. */
  val StashKeys: Seq[String] =
    Seq("d18_w", "g3_lp", "bm25_idf", "e12_lut", "e15_lut", "e15_probes",
        "e18_lut", "e18_probes", "e19_lut", "e19_probes")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(OracleLiterals.CanonicalDir)
    val spark = LocalSession(defaultCpus = 4)
    StashQueries.foreach(q => SparkEntry.queries(q)(spark, sfDir))
    val missing = StashKeys.filter(OracleLiterals.stashed(_).isEmpty)
    require(missing.isEmpty,
      s"query builds did not stash: ${missing.mkString(", ")}")
    // STRUCTURAL completeness check: render the WHOLE registry's oracle
    // SQL, recording every literal key actually consumed. Every consumed
    // key must have been freshly stashed by this run's builds (not merely
    // inherited from the old snapshot — that would silently freeze a
    // stale value), and the hand lists above must match consumption
    // exactly so they can never drift again.
    val (rendered, consumed) =
      OracleLiterals.recordConsumed(SparkEntry.oracleSql)
    val unstashed = consumed.filter(OracleLiterals.stashed(_).isEmpty)
    require(unstashed.isEmpty,
      "oracle render consumes literal keys that no StashQueries build " +
        s"stashed — extend SnapshotGen.StashQueries: " +
        unstashed.toSeq.sorted.mkString(", "))
    require(consumed == StashKeys.toSet,
      "SnapshotGen.StashKeys drifted from actual registry consumption — " +
        s"listed=${StashKeys.sorted.mkString(",")} " +
        s"consumed=${consumed.toSeq.sorted.mkString(",")}")
    val broken = rendered.collect {
      case (n, sql) if sql.contains(OracleLiterals.MissingMarker) => n }
    require(broken.isEmpty,
      s"rendered oracles still carry the missing-literal marker: " +
        broken.toSeq.sorted.mkString(", "))
    OracleLiterals.persist(sfDir)
    spark.stop()
  }
}
