package graft

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Shared physical-layout helpers for the operator library. */
object Spread {
  /** The pinned barrier width: the session's shuffle parallelism. */
  private[graft] def count(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Hash-repartition on `key` at [[count]] partitions, with the count
    * PINNED (passing it explicitly opts the exchange out of AQE partition
    * coalescing). The coalescer sizes partitions by shuffle BYTES, but
    * the operators using this barrier put heavy per-row CPU (regex
    * tokenize, shingle+minhash, per-dim explodes, literal-argmin vector
    * encodes) ABOVE the exchange — on their small-bytes/high-CPU frames
    * AQE folds the shuffle back to one or two tasks and the work runs
    * serial. The count stays conf-driven, so cluster deployments scale it
    * with the cluster and low-core local runs stay at their core count.
    * Caller contract (ADVICE r19): sessions must size
    * spark.sql.shuffle.partitions to their core count, as Bench/Verify
    * do — a default-200 session pins 200 tasks under every barrier.
    * The barrier's origin is `REPARTITION_BY_NUM`, which AQE never
    * coalesces, so [[graft.plans.SortInPlace]] never sorts over it in
    * place: a global sort above it keeps its range exchange and the
    * pinned width. */
  def by(df: DataFrame, key: Column): DataFrame =
    df.repartition(count(df), key)

  /** [[by]] only when `df` scans at parallelism below the barrier width —
    * the CPU-parallelism rescue for single-split/low-split inputs (every
    * smoke parquet here is one row group, so heavy-per-row projections
    * otherwise run ONE task), while an already well-split cluster input
    * keeps the narrow scan-fused path and is never shuffled just to be
    * shuffled (ADVICE r19 on Retrieval). The gate reads file-source
    * METADATA only (size / file count vs maxPartitionBytes — no physical
    * planning, no jobs, unlike an `.rdd` probe, which would also
    * materialize upstream stages under AQE); non-file-backed frames
    * (local relations, RDD scans) are treated as under-split. */
  def ensure(df: DataFrame, key: Column): DataFrame = {
    val n = count(df)
    if (scanParallelism(df).exists(_ >= n)) df else df.repartition(n, key)
  }

  /** Estimated scan parallelism of the file relations under `df`:
    * max(#files, ceil(bytes / maxPartitionBytes)) summed per relation —
    * within ~2× of Spark's real split count in both the few-big-files
    * and many-small-files regimes, which is all the ensure() gate needs.
    * None when any leaf isn't a file source. */
  private def scanParallelism(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val rels = df.queryExecution.logical.collect {
      case l: LogicalRelation => l.relation
    }
    val fs = rels.collect { case r: HadoopFsRelation => r }
    if (fs.isEmpty || fs.size != rels.size) None
    else Some(fs.map { r =>
      math.max(r.location.inputFiles.length.toLong,
        (r.location.sizeInBytes + maxSplit - 1) / maxSplit)
    }.sum)
  }
}

/** Reliable-aware lineage-truncating materialization (VERDICT r19 #3).
  *
  * `localCheckpoint` stores blocks on executors: under executor loss /
  * decommissioning the lineage is gone and the job dies — the wrong
  * trade for the cluster regime. The mode is therefore picked by session
  * state: with `SparkContext.setCheckpointDir` set (the cluster
  * deployment signal) this is a RELIABLE checkpoint; otherwise an
  * executor-local one (the single-host smoke default — no FS round
  * trip). Results are identical either way; only fault tolerance and
  * speed differ.
  *
  * Lifetime note (ADVICE r19): the checkpointed blocks are left to
  * ContextCleaner GC — callers are bounded per-query materializations
  * (edge projections, CC adjacency), so a long-lived session
  * accumulates at most one RDD per query invocation until the frame is
  * collected; reliable-mode files additionally need
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or a swept
  * checkpoint dir. */
object Materialize {
  def once(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Longest wait for an observed metric. Observed metrics reach the
    * driver through the listener bus after the action's job ends, which
    * normally takes milliseconds. */
  private val metricWait: FiniteDuration = 10.seconds

  /** Eager checkpoint of `df` in [[once]]'s mode, with the value of the
    * aggregate `agg` over its rows observed during the checkpoint's own
    * action (no second job). The fixpoint loops' per-round convergence
    * gates ride on it. */
  def observed(df: DataFrame, agg: Column): (DataFrame, Any) = {
    val obs = Observation()
    val ck = once(df.observe(obs, agg.as("v")))
    (ck, awaitMetric(obs, metricWait)(ck.agg(agg).head().get(0)))
  }

  /** The single metric of `obs`, waited on for at most `bound`; past it,
    * `fallback` computes the value instead. A metric that never arrives
    * costs one extra job, never a hung driver. */
  private[graft] def awaitMetric(obs: Observation, bound: FiniteDuration)(
      fallback: => Any): Any =
    try Await.result(obs.future, bound).get(0)
    catch { case _: TimeoutException => fallback }
}

/** The one parquet read of the program: each path's schema is inferred
  * once per JVM and kept, the way a catalog keeps column metadata, so
  * building a query never runs a Spark job to learn a schema. Parquet
  * schema inference runs one job per `spark.read.parquet` call; a read
  * with the kept schema (`spark.read.schema(s).parquet(path)`) runs none.
  *
  * Memo key: the qualified path plus the session's values of the confs
  * that change what inference returns ([[InferenceConfs]]). Each entry
  * also holds the fingerprint of the data it was inferred from: name,
  * length and mtime of the path itself when it is a file, or of each
  * entry directly under it when it is a directory, skipping the `_` and
  * `.` names that Spark's file index skips. A read whose fingerprint
  * differs infers again and replaces the entry, so a file rewritten in
  * place, a directory rewritten with `mode("overwrite")` (new part-file
  * names) or a conf flip never gets a stale schema. Only the top level
  * of a directory is fingerprinted: a partitioned tree is tracked through
  * its top-level entries, which every overwrite of the tree replaces.
  * Paths that do not exist are read plainly, so their error is Spark's.
  */
object ParquetSchemas {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.types.StructType

  /** The session confs that change the schema parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private case class Key(path: Path, confs: Seq[Option[String]])
  private case class Entry(fingerprint: Seq[(String, Long, Long)],
                           schema: StructType)

  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** `path` read as parquet with its memoized schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The parquet schema of `path`: inferred on the first call for a key
    * and whenever the fingerprint moved, memoized otherwise. */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = qualify(spark, path)
    val key = Key(p, InferenceConfs.map(spark.conf.getOption))
    def inferred = spark.read.parquet(path).schema
    // fingerprint BEFORE inferring: a write racing the inference leaves
    // an entry whose fingerprint no longer matches, never a stale hit
    fingerprint(spark, p).fold(inferred) { fp =>
      memo.get(key) match {
        case Entry(`fp`, s) => s
        case _ =>
          val s = inferred
          memo.put(key, Entry(fp, s))
          s
      }
    }
  }

  /** Drops the entries of the paths directly under `dir` not in `live`. */
  private[graft] def forget(spark: SparkSession, dir: String,
                            live: Set[String]): Unit = {
    val parent = qualify(spark, dir)
    val keep = live.map(qualify(spark, _))
    memo.keySet.removeIf(k => k.path.getParent == parent && !keep(k.path))
  }

  /** Number of entries at or under `dir`. */
  private[graft] def count(spark: SparkSession, dir: String): Int = {
    val root = qualify(spark, dir)
    def under(p: Path): Boolean =
      p != null && (p == root || under(p.getParent))
    memo.keySet.stream.filter(k => under(k.path)).count.toInt
  }

  private def qualify(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def fingerprint(spark: SparkSession,
                          p: Path): Option[Seq[(String, Long, Long)]] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entry(s: FileStatus) =
      (s.getPath.getName, s.getLen, s.getModificationTime)
    try {
      val st = fs.getFileStatus(p)
      Some(
        if (!st.isDirectory) Seq(entry(st))
        else fs.listStatus(p).toSeq.map(entry)
          .filterNot { case (n, _, _) =>
            n.startsWith("_") || n.startsWith(".") }
          .sortBy(_._1))
    } catch { case _: java.io.FileNotFoundException => None }
  }
}

/** Table loading helpers shared by SparkEntry / Verify / Bench / tests.
  *
  * All driver test tables are single parquet files under a scale-factor
  * directory (see /root/repo/TESTDATA.md). At cluster scale the same code
  * path reads a partitioned parquet directory — `spark.read.parquet` is
  * agnostic; filter pushdown + column pruning happen in Catalyst either way.
  */
object Tables {
  /** Table `name` of the scale-factor dir `dir`, read through
    * [[ParquetSchemas.read]]: the first load of a table infers its
    * schema, every later one reuses it and runs no Spark job. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Timestamp physical-type tolerance (the driver has regenerated
    // events.parquet with different encodings across rounds):
    //  - TIMESTAMP(NANOS), which Spark's reader rejects outright → read
    //    the nanos as epoch-long instead and convert where needed;
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 would
    //    surface as TIMESTAMP_NTZ → read as plain TimestampType. The
    //    parquet value is passed through as micros-since-epoch unchanged
    //    (no session-timezone shift on read), and every session here runs
    //    UTC, so this matches DuckDB's naive-timestamp oracle semantics.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ParquetSchemas.read(spark, s"$dir/$name.parquet")
  }

  /** Adds the canonical microsecond event-time column `t` (TimestampType)
    * to an events-shaped frame, dispatching on the physical type `ts`
    * arrived as. Downstream code uses `t` (and `unix_micros(t)` for epoch
    * math) exclusively, so query code is independent of how the driver
    * encoded the column this round. */
  def withEventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // epoch-nanos long (legacy TIMESTAMP(NANOS) surfaced via
      // nanosAsLong): floor-truncate to micros, matching CAST(ns AS
      // TIMESTAMP) in the oracle engine. NOTE: on this path `t` is a
      // DERIVED column, so time-band predicates on `t` cannot reach the
      // parquet scan as PushedFilters (they do on the canonical
      // TIMESTAMP path below — pinned in PlanGuardSpec via c24).
      case LongType => df.withColumn("t", timestamp_micros(expr("ts DIV 1000")))
      // already a micros timestamp: use as-is.
      case TimestampType => df.withColumn("t", col("ts"))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — expected epoch-nanos " +
          "BIGINT or TIMESTAMP")
    }

  /** events with a proper microsecond timestamp column `t` (see
    * [[withEventTime]] for the physical-type dispatch). */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEventTime(load(spark, dir, "events"))

  /** Registers every test table as a temp view so `spark.sql` text matches
    * the DuckDB oracle dialect as closely as possible. Idempotent. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
