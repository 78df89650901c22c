package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.api.GraftSession

/** In-JVM half of the benchmark: executes the inputs `run.py` generated
  * and records raw per-operation timings (plus, when tracing, raw layer
  * events). All statistics and correctness checks are computed in Python
  * from the files this writes into the run directory.
  *
  * Usage: `perfbench.Harness <workload> <runDir> <dataDir> <trace 0|1>
  * <cpus> <capSeconds>`
  *
  * Inputs (run directory):
  *   - llm_pipeline: `warm.txt` (the untimed warm passes) and
  *     `passes.txt` (the timed ones), one pass a line, registry names
  *     separated by spaces;
  *   - session workload: `setup.tsv`, `stream.tsv`
  *     (`kind<TAB>check<TAB>statement`) and `tables.txt`.
  *
  * Outputs: `ops.tsv` (one line per operation), `meta.tsv`, result
  * parquet under `results/` (query outputs, written after the timing),
  * `outputs/` and `final/` (session reads, RETURNING rows, final tables),
  * `oracle_sql.json`, and with tracing `trace.tsv`.
  */
object Harness {
  final case class Op(phase: String, pass: Int, idx: Int, name: String,
                      kind: String, start: Long, end: Long, ok: Boolean,
                      err: String, compileNs: Long, compiles: Long)

  private val ops = ArrayBuffer[Op]()
  private val meta = ArrayBuffer[(String, String)]()

  def main(args: Array[String]): Unit = {
    val Array(workload, runDirS, dataDir, traceS, cpusS, capS) = args
    val runDir = Paths.get(runDirS)
    val trace = traceS == "1"
    val cap = capS.toDouble
    val scratch = runDir.resolve("spark").toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpusS]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpusS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    meta += "session_ready_ms" -> System.currentTimeMillis.toString
    try {
      workload match {
        case "llm_pipeline" =>
          runQueries(spark, runDir, dataDir, trace, tracer, cap)
        case "session_oltp" =>
          runSession(spark, runDir, trace, tracer)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
    } finally {
      meta += "peak_rss_kb" -> peakRssKb.toString
      meta += "codegen_cache_max_entries" ->
        spark.conf.get("spark.sql.codegen.cache.maxEntries", "100")
      writeOps(runDir)
      Files.writeString(runDir.resolve("meta.tsv"),
        meta.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
      if (trace) tracer.write(runDir.resolve("trace.tsv"))
      spark.stop()
    }
  }

  // --------------------------------------------------------- one operation

  /** Runs `body` as operation `idx`, recording wall time, outcome and the
    * codegen counters around it. Tracing adds an op-id local property so
    * the jobs it launches can be attributed. */
  private def op(spark: SparkSession, tracer: Tracer, phase: String,
                 pass: Int, idx: Int, name: String, kind: String)
                (body: => Unit): Op = {
    val opId = s"$phase:$pass:$idx"
    if (tracer.enabled) {
      tracer.currentOp = opId
      spark.sparkContext.setLocalProperty(Tracer.OpKey, opId)
    }
    val c0 = CodeGenerator.compileTime
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    var err = ""
    try body catch {
      case e: Throwable =>
        err = (e.getClass.getSimpleName + ": " + e.getMessage)
          .replaceAll("\\s+", " ").take(300)
    }
    val t1 = System.nanoTime()
    val o = Op(phase, pass, idx, name, kind, t0, t1, err.isEmpty, err,
      CodeGenerator.compileTime - c0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0)
    if (tracer.enabled) {
      tracer.span("op", opId, "", t0, t1)
      spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    }
    ops += o
    o
  }

  /** The full-materialization sink: evaluates every output column and
    * ships nothing (never `count()`, whose plan Catalyst prunes). */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Traced call of `f`, recorded as span `name` of the current op. */
  private def spanned[A](tracer: Tracer, name: String)(f: => A): A = {
    if (!tracer.enabled) return f
    val t0 = System.nanoTime()
    try f finally tracer.span(name, tracer.currentOp, "op", t0, System.nanoTime())
  }

  private def lines(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    else Nil

  // --------------------------------------------------------- llm_pipeline

  private def runQueries(spark: SparkSession, runDir: Path, dataDir: String,
                         trace: Boolean, tracer: Tracer, cap: Double): Unit = {
    val registry = graft.SparkEntry.queries
    val warm = lines(runDir.resolve("warm.txt")).map(_.split(' ').toSeq)
    val set = warm.flatten.distinct
    val passes = lines(runDir.resolve("passes.txt")).map(_.split(' ').toSeq)
    val missing = (set ++ passes.flatten).filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.distinct.mkString(",")}")
    graft.Tables.registerAll(spark, dataDir)

    def runPass(phase: String, p: Int, order: Seq[String]): Unit =
      order.zipWithIndex.foreach { case (q, i) =>
        op(spark, tracer, phase, p, i, q, "read") {
          val df = spanned(tracer, "queries.construct")(registry(q)(spark, dataDir))
          if (tracer.enabled) tracer.phasesOf(df)
          spanned(tracer, "sink")(sink(df))
        }
      }
    // untimed warm pass, the same plans as the timed ones: first-call
    // codegen, IndexCache builds and JIT happen here
    warm.zipWithIndex.foreach { case (order, p) => runPass("warm", p, order) }
    meta += "timed_start_ms" -> System.currentTimeMillis.toString
    val t0 = System.nanoTime()
    val done = passes.zipWithIndex.takeWhile { case (order, p) =>
      val go = p == 0 || (System.nanoTime() - t0) / 1e9 < cap
      if (go && !trace) runPass("timed", p, order)
      else if (go) {
        // each pass runs twice, untraced and traced, alternating which
        // goes first: the difference in wall time is the tracing overhead
        def traced(): Unit = {
          tracer.enable(); runPass("traced", p, order); tracer.disable() }
        if (p % 2 == 0) { runPass("timed", p, order); traced() }
        else { traced(); runPass("timed", p, order) }
      }
      go
    }.size
    meta += "timed_passes" -> done.toString
    // after the measured passes, each result is written for the oracle
    // compare
    set.zipWithIndex.foreach { case (q, i) =>
      op(spark, tracer, "dump", 0, i, q, "read") {
        registry(q)(spark, dataDir).write.mode("overwrite")
          .parquet(runDir.resolve("results").resolve(q).toString)
      }
    }
    // rendered after the queries ran in this JVM (the Verify contract):
    // literal-carrying oracles then embed this corpus's values
    graft.Verify.writeOracleSql(runDir.resolve("oracle_sql.json"))
  }

  // ---------------------------------------------------- session workload

  private final case class Stmt(kind: String, check: Boolean, sql: String)

  private def stmts(p: Path): Seq[Stmt] = lines(p).map { l =>
    val Array(k, c, s) = l.split("\t", 3)
    Stmt(k, c == "1", s)
  }

  /** `api` statements reach session calls that have no SQL spelling. */
  private def api(s: GraftSession, line: String): Unit =
    line.split(' ').toSeq match {
      case Seq("fk", child, column, parent, parentCol) =>
        s.addForeignKey(child, column, parent, parentCol, s.Cascade)
      case other => throw new IllegalArgumentException(s"api: $other")
    }

  private def runSession(spark: SparkSession, runDir: Path, trace: Boolean,
                         tracer: Tracer): Unit = {
    val root = runDir.resolve("session").toAbsolutePath
    val s = GraftSession(spark, root.toString)
    val tables = lines(runDir.resolve("tables.txt"))
    val batchLog = new StringBuilder
    def logBatches(phase: String, idx: Int): Unit = tables.foreach { t =>
      val d = root.resolve(t).resolve("data")
      val n = if (!Files.isDirectory(d)) 0 else {
        val st = Files.list(d)
        try st.iterator.asScala.count(_.getFileName.toString.startsWith("batch_"))
        finally st.close()
      }
      batchLog ++= s"$phase\t$idx\t$t\t$n\n"
    }
    def exec(phase: String, idx: Int, st: Stmt): Op = {
      var out: Option[DataFrame] = None
      val o = op(spark, tracer, phase, 0, idx, st.sql.take(40), st.kind) {
        if (st.kind == "api") api(s, st.sql)
        else {
          val df = spanned(tracer, "api.execute")(s.execute(st.sql))
          if (tracer.enabled) tracer.phasesOf(df)
          spanned(tracer, "sink")(sink(df))
          out = Some(df)
        }
      }
      // untimed: the statement's output for the model compare (RETURNING
      // frames stay readable after the swap), and the live batch
      // directories per table
      if (phase == "timed" || phase == "traced") {
        if (st.check && o.ok) out.foreach(_.write.mode("overwrite")
          .parquet(runDir.resolve("outputs").resolve(s"$phase-$idx").toString))
        logBatches(phase, idx)
      }
      o
    }
    // A traced read runs twice more, warm: untraced ("repeat") and traced
    // ("retraced"), in turn which goes first. The difference is the
    // tracing overhead of the same work; writes cannot be repeated.
    def repeatRead(idx: Int, st: Stmt): Unit = {
      def untraced(): Unit = {
        tracer.disable(); exec("repeat", idx, st); tracer.enable() }
      if (idx % 2 == 0) { untraced(); exec("retraced", idx, st) }
      else { exec("retraced", idx, st); untraced() }
    }
    stmts(runDir.resolve("setup.tsv")).zipWithIndex.foreach { case (st, i) =>
      val o = exec("setup", i, st)
      require(o.ok, s"setup statement $i failed: ${o.err}")
    }
    val stream = stmts(runDir.resolve("stream.tsv"))
    val (plain, traced) =
      if (trace) stream.splitAt(stream.size / 2) else (stream, Nil)
    // every statement runs (the model's final state assumes the whole
    // stream), so there is no time cap here
    meta += "timed_start_ms" -> System.currentTimeMillis.toString
    plain.zipWithIndex.foreach { case (st, i) => exec("timed", i, st) }
    if (traced.nonEmpty) {
      tracer.enable()
      traced.zipWithIndex.foreach { case (st, i) =>
        exec("traced", plain.size + i, st)
        if (st.kind == "read") repeatRead(plain.size + i, st)
      }
      tracer.disable()
    }
    Files.writeString(runDir.resolve("batches.tsv"), batchLog.toString)
    tables.foreach { t =>
      s.table(t).write.mode("overwrite")
        .parquet(runDir.resolve("final").resolve(t).toString)
    }
    meta += "disk_bytes" -> Files.walk(root).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toString
  }

  // ---------------------------------------------------------------- output

  private def writeOps(runDir: Path): Unit = {
    val sb = new StringBuilder
    ops.foreach { o =>
      sb ++= Seq(o.phase, o.pass, o.idx, o.name.replaceAll("[\t\n]", " "),
        o.kind, o.start, o.end, if (o.ok) 1 else 0, o.err.replace('\t', ' '),
        o.compileNs, o.compiles).mkString("\t") += '\n'
    }
    Files.writeString(runDir.resolve("ops.tsv"), sb.toString)
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), or -1. */
  private def peakRssKb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)
    catch { case _: Throwable => -1L }
}
