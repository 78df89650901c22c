package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Writes only
  * under its outDir; the committed literal snapshot is regenerated by
  * [[SnapshotGen]] alone. */
object Verify {
  /** Dumps one query result; on ANY failure writes a 1-row
    * (error STRING) parquet in its place and returns false. The sentinel
    * row guarantees the driver's oracle compare produces a RED row
    * (schema+hash mismatch) instead of silently omitting the query —
    * CORRECTNESS_r08 dropped 16 crashed queries from the artifact
    * entirely, which read as coverage shrink, not breakage. */
  def dumpOne(spark: SparkSession, name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              sfDir: String, outDir: String): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        import spark.implicits._
        Seq(s"QUERY FAILED: ${e.toString.take(500)}").toDF("error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name: sentinel write failed: $e2") }
      false
    }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Renders SparkEntry.oracleSql as JSON and writes it. Shared with
    * [[RenderOracles]] so the render-first harness mode and the post-run
    * artifact can never drift. */
  def writeOracleSql(path: java.nio.file.Path): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(path, json)
  }

  def main(args: Array[String]): Unit = {
    // Optional third arg: substring filter over query names — dump only
    // the matching subset (iteration aid; the driver always passes 2
    // args and gets the full registry).
    val (sfDir, outDir, filt) = args match {
      case Array(a, b)    => (a, b, "")
      case Array(a, b, f) => (a, b, f)
      case _ => sys.error("usage: graft.Verify <sfDir> <outDir> [filter]")
    }
    val spark = LocalSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filt.isEmpty || name.contains(filt) }
      .filterNot {
        case (name, fn) => dumpOne(spark, name, fn, sfDir, outDir)
      }.map(_._1)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    // Rendered AFTER the queries run above: oracle text may embed
    // driver-stashed literals (graft.OracleLiterals).
    writeOracleSql(Paths.get(s"$outDir/oracle_sql.json"))
    spark.stop()
  }
}
