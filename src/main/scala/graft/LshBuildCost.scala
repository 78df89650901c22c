package graft

import org.apache.spark.sql.functions._

/** Dev tool: measure the LSH index build's directory-cost model.
  *
  * Usage (CP = target/scala-2.13/classes plus the /opt/spark jars):
  *   java -cp "$CP" graft.LshBuildCost <sfDir> <nBuckets> [nBuckets ...]
  *
  * r16 profiling named the d29 build's cost driver: the
  * dynamic-partition write's FIXED ~20 ms/directory (data-size
  * independent — PLANS.md "Round 16: d29 build cost"). This main makes
  * that claim one command to re-verify at any scale: it builds the d29
  * corpus index once per requested nBuckets (bands=8, so directory
  * count = 8·nBuckets), times each build twice (cold + warm-JIT), and
  * prints the implied per-directory cost between consecutive configs.
  * Runs on [[LocalSession]], the session Verify runs on, so timings
  * match the gate's.
  */
object LshBuildCost {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.LshBuildCost <sfDir> <nBuckets> [more...]")
    val sfDir = args.head
    val cfgs = args.tail.map(_.toInt)
    val spark = LocalSession(defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")

    // the exact d29 corpus frame (TextQueries: every doc_id % 20 != 0)
    val corpus = Tables.load(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(20L)) =!= 0L)

    val results = cfgs.map { nb =>
      val dirs = 8 * nb
      val times = (1 to 2).map { i =>
        val out = TmpDirs.create(s"lsh_cost_${nb}_")
        val t0 = System.nanoTime()
        graft.operators.Dedup.buildLshIndex(corpus, "text", "doc_id",
          out, nBuckets = nb)
        val dt = (System.nanoTime() - t0) / 1e9
        // eager delete keeps disk bounded across configs (the exit
        // hook would otherwise hold every built index until JVM end)
        TmpDirs.deleteRec(new java.io.File(out))
        println(f"nBuckets=$nb%4d dirs=$dirs%5d run$i build=$dt%6.2f s")
        dt
      }
      (dirs, times.min) // warm-JIT best: the model's steady-state view
    }
    for (pair <- results.toSeq.sliding(2) if pair.length == 2) {
      val (d1, t1) = pair(0)
      val (d2, t2) = pair(1)
      val perDir = (t2 - t1) / (d2 - d1) * 1000.0
      println(f"dirs $d1%5d -> $d2%5d: best $t1%.2f -> $t2%.2f s "
        + f"=> $perDir%.1f ms/directory marginal")
    }
    spark.stop()
  }
}
