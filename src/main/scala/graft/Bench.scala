package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query is
  * timed through [[sink]], the full-materialization action; the full
  * line also carries each query's `count()` time as `queries_count`, the
  * figure earlier rounds recorded, so old and new readings can be
  * compared.
  *
  * Profiling hooks (local dev, driver never sets them):
  *   SPARK_GRAFT_ONLY=s1[,s2…] — run only queries whose name contains any
  *                               of the comma-separated substrings
  *   SPARK_GRAFT_EXCLUDE=s1[,…]— drop queries whose name contains any of
  *                               the substrings (applied after ONLY; the
  *                               r16 d2-vs-d29 suite-order experiments
  *                               needed "everything except X", which ONLY
  *                               cannot express — "d2" is a substring of
  *                               "d29")
  *   SPARK_GRAFT_EXPLAIN=1     — print the formatted physical plan per query
  *   SPARK_GRAFT_REPEAT=n      — time best-of-n runs (default 1)
  */
object Bench {
  /** Best-of-`repeat` wall time of `run`, or -1.0 iff EVERY attempt
    * threw — a failure must never be recorded as a (fast) duration. */
  def bestTime(repeat: Int, name: String)(run: () => Unit): Double = {
    val times = (1 to repeat).map { _ =>
      val t0 = System.nanoTime()
      try { run(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    val ok = times.filter(_ >= 0)
    if (ok.nonEmpty) ok.min else -1.0
  }

  /** The timed action: writes `df` to the `noop` sink, which evaluates
    * every output column and ships nothing — the sink perfbench times
    * through. `count()` is not used: Catalyst prunes every projection
    * nothing else reads out of its plan, so a query whose output column
    * is expensive (or throws) looks cheap (or fine) under it. */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val explain = sys.env.contains("SPARK_GRAFT_EXPLAIN")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT + codegen + parquet footer caches, so the first
    // timed query isn't charged for session startup.
    try {
      Tables.registerAll(spark, sfDir)
      Seq("q1_tpch_agg", "d1_exact_dedup").flatMap(SparkEntry.queries.get)
        .foreach(fn => sink(fn(spark, sfDir)))
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    val onlySubs = only.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val exclSubs = sys.env.get("SPARK_GRAFT_EXCLUDE").toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        onlySubs.isEmpty || onlySubs.exists(n.contains) }
      .filterNot { case (n, _) => exclSubs.exists(n.contains) }
    val results = selected.map { case (name, fn) =>
      if (explain) {
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => System.err.println(s"explain $name: $e") }
      }
      // A failed run records -1, NOT its time-to-exception: BENCH_r08
      // recorded crashed queries as 0.088 s "runtimes", which reads as a
      // speedup. best = -1 iff every attempt failed.
      val best = bestTime(repeat, name)(() => sink(fn(spark, sfDir)))
      val counted = bestTime(repeat, name)(() => fn(spark, sfDir).count())
      System.err.println(
        f"[bench] $name%-24s $best%8.3f s (count() $counted%.3f s)")
      (name, best, counted)
    }
    val failed = results.filter(_._2 < 0).map(_._1)
    if (failed.nonEmpty)
      System.err.println(
        s"[bench] ${failed.size} queries FAILED (recorded -1): " +
          failed.mkString(", "))
    def timings(pick: ((String, Double, Double)) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + pick(r)).mkString("{", ",", "}")
    val qs = timings(_._2)
    val qsCount = timings(_._3)
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""queries_count":$qsCount,"sf":"$sfDir"}"""
    // Full map to stdout FIRST (complete in any full-stdout capture) …
    println(fullLine)
    // … and to a file — the driver's stdout capture keeps only the LAST
    // ~2000 chars, which truncated ~140 of 206 timings in BENCH_r09 and
    // left its `parsed` null.
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    try {
      Option(outFile.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(outFile, fullLine + "\n")
      System.err.println(s"[bench] wrote $outFile")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    // The FINAL stdout line is guaranteed to fit a 2000-char tail capture
    // AND parse as complete JSON: totals + the slowest queries at 3 dp
    // (as many as fit the budget), with a pointer to the full map.
    val slowest = results.map(r => (r._1, r._2)).filter(_._2 >= 0)
      .sortBy(-_._2)
    // locale-free 3-dp formatting: the f"%.3f" interpolator follows the
    // JVM default locale and would emit a decimal COMMA (invalid JSON)
    // on comma-decimal locales
    def dp3(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    val entries = slowest.map { case (k, v) => s""""$k":${dp3(v)}""" }
    val budget = 1600
    val kept = entries.scanLeft(0)((acc, e) => acc + e.length + 1).tail
      .zip(entries).takeWhile(_._1 <= budget).map(_._2)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""queries_full":"$outFile","queries":${kept.mkString("{", ",", "}")}}"""
    println(line)
    spark.stop()
  }
}
