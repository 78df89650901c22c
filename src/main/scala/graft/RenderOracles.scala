package graft

/** Renders `SparkEntry.oracleSql` to a JSON file WITHOUT running any
  * query — the cold-stash path a driver-side harness may take
  * (CORRECTNESS_r09 failed exactly the stash-dependent oracles because
  * of it). The literals come from the COMPILED-IN
  * [[OracleLiteralsSnapshot]] (committed source, so present on any
  * classpath that can run this main), so the SQL rendered here is
  * byte-identical to what [[Verify]] renders after a full run;
  * `tools/check.py --render-first` pins that property against the whole
  * registry.
  *
  * Usage: `java -cp ... graft.RenderOracles /path/to/oracle_sql.json
  *         [intended_sf_dir]`
  *
  * The optional 2nd arg declares the corpus this render will be verified
  * against; a persisted-snapshot serve at a DIFFERENT scale then prints a
  * WARNING (fatal to check.py's scraper) instead of an INFO note —
  * defense-in-depth behind check.py's own canonical-scale guard.
  */
object RenderOracles {
  def main(args: Array[String]): Unit = {
    val (outPath, expectedSf) = args match {
      case Array(o)     => (o, None)
      case Array(o, sf) => (o, Some(sf))
      case _ => throw new IllegalArgumentException(
        s"expected 1-2 args (outPath [intendedSfDir]), got ${args.length}")
    }
    // a flag mistaken for the output path once littered the repo with a
    // file named '--list' (ADVICE r11) — fail fast instead
    require(!outPath.startsWith("-"),
      s"output path looks like a CLI flag: '$outPath'")
    expectedSf.foreach { sf =>
      require(!sf.startsWith("-"),
        s"intended sf dir looks like a CLI flag: '$sf'")
      OracleLiterals.setExpectedDir(sf)
    }
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    Verify.writeOracleSql(p)
    println(s"[render-oracles] wrote ${SparkEntry.oracleSql.size} oracle " +
      s"SQL entries to $outPath (stash cold — literals came from the " +
      "compiled-in snapshot)")
  }
}
