package graft.api

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, hll_sketch_agg, hll_union_agg, lit, max, min, monotonically_increasing_id, raise_error, regexp_extract, row_number, sum, when}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, LocalRelation, LogicalPlan, SubqueryAlias, Union, UnresolvedWith}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.functions.Jsonb.Masked
import graft.sources.DynamicSchema

/** Session + catalog facade — the Spark-native equivalent of the
  * reference's database/namespace/table surface
  * (/root/reference components/catalog/: pg_class-style catalog,
  * `relkind` r/g/v/m, integration/cpp/wrapper_dispatcher.hpp entry points).
  *
  * Tables live as directories of parquet ingest batches under a root path;
  * dynamic tables evolve their schema per insert via [[DynamicSchema]]
  * (each batch keeps its own physical schema; reads cast to the union —
  * old data survives type evolution without rewrites). Views are stored
  * SQL expanded at reference time; matviews are CTAS with explicit
  * refresh. Transactions/WAL/MVCC are intentionally absent: batch
  * overwrite semantics with staged directory swaps (documented divergence
  * from the reference's OLTP half).
  *
  * The catalog is one JSON record per durable object, written through
  * [[GraftSession.writeRecord]] (temp file, then an atomic move) and read
  * through [[GraftSession.readRecord]]:
  *   - `<table>/_table.json`: kind, schema, tombstones, renames, CHECKs
  *     and FKs ([[GraftSession.TableRecord]]), beside the table's
  *     `data/batch_*` dirs;
  *   - `_catalog/<kind>/<name>.json`, one file per view or matview body,
  *     incremental matview (spec plus the base batches it has folded),
  *     enum or composite type, macro, index, sequence and database, so two
  *     sessions over one root never rewrite each other's objects.
  * Only two files per table keep their own format: `_generation`, the
  * batch-name counter, and `_stream_commits`, the append-only epoch log
  * of [[insertIfNew]].
  */
class GraftSession(val spark: SparkSession, val root: String) {
  import GraftSession._
  private val rootPath = Paths.get(root)
  Files.createDirectories(rootPath)

  /** The record of catalog object `name` of `kind`. */
  private def catalogFile(kind: String, name: String): Path =
    rootPath.resolve("_catalog").resolve(kind).resolve(s"$name.json")

  /** Every record of `kind`, by object name. */
  private def catalog[T: scala.reflect.ClassTag](kind: String): Seq[(String, T)] = {
    val d = rootPath.resolve("_catalog").resolve(kind)
    if (!Files.isDirectory(d)) Nil
    else children(d).map(_.getFileName.toString).filter(_.endsWith(".json"))
      .sorted.flatMap(f => readRecord[T](d.resolve(f)).map(f.stripSuffix(".json") -> _))
  }

  private def dropRecord(kind: String, name: String): Unit =
    Files.deleteIfExists(catalogFile(kind, name))

  // stored views survive restarts (body SQL re-expanded at reference time)
  private val views = scala.collection.mutable.Map[String, String]() ++
    catalog[ViewRecord]("view").map { case (n, r) => n -> r.body }
  private case class TableState(
    dynamic: Boolean,
    var schema: StructType,
    var tombstones: Set[String] = Set.empty,
    // by the renamed column's visible name
    var renames: Map[String, Rename] = Map.empty,
    var checks: Seq[Check] = Nil,
    var fks: Seq[Fk] = Nil)
  private val tables = scala.collection.mutable.Map[String, TableState]()

  /** Per-table write locks. Streaming sinks run each query's
    * foreachBatch on its own thread, so two queries landing in one table
    * write concurrently; [[insert]]'s generation bump and
    * [[insertIfNew]]'s check-then-commit are read-then-write sequences
    * that must be serialized PER TABLE (never globally — independent
    * tables keep full parallelism). */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writeLock(name: String): Object =
    tableLocks.computeIfAbsent(name, _ => new Object)

  // ---------------------------------------------------------------- DDL

  /** CREATE DATABASE: records `name` as a qualifier that [[sql]] strips
    * from `name.table` references, in this session and every later one. */
  def createDatabase(name: String): Unit = {
    databases += name.toLowerCase
    writeRecord(catalogFile("database", name.toLowerCase),
      DatabaseRecord(name.toLowerCase))
  }

  def dropDatabase(name: String): Unit = {
    databases -= name.toLowerCase
    dropRecord("database", name.toLowerCase)
  }

  /** Fixed-schema table (`relkind='r'`). */
  def createTable(name: String, schema: StructType): Unit = {
    Files.createDirectories(dataDir(name))
    tables(name) = TableState(dynamic = false, schema)
    persistMeta(name)
  }

  // ------------------------------------------------------------ enum types

  /** CREATE TYPE … AS ENUM (reference transformer.cpp:75-79
    * T_CreateEnumStmt), per SURVEY §1.2's mapping: an enum is a STRING
    * column plus an automatic membership CHECK — Spark has no native enum
    * type, and a dictionary-encoded parquet string column gives the same
    * storage behavior at scale. */
  def createEnumType(name: String, values: Seq[String]): Unit = {
    require(values.nonEmpty, s"CREATE TYPE $name AS ENUM: empty value list")
    enumTypes(name.toLowerCase) = values
    writeRecord(catalogFile("enum", name.toLowerCase), EnumRecord(values))
  }

  def dropEnumType(name: String): Unit = {
    enumTypes.remove(name.toLowerCase)
    compositeTypes.remove(name.toLowerCase)
    dropRecord("enum", name.toLowerCase)
    dropRecord("composite", name.toLowerCase)
  }

  def enumValues(name: String): Option[Seq[String]] =
    enumTypes.get(name.toLowerCase)

  /** CREATE TYPE … AS (field type, …) (reference T_CompositeTypeStmt,
    * test_sql_features "CREATE TYPE (composite)"): a composite type is a
    * Spark struct — columns declared with it become struct columns, which
    * parquet stores columnar per field (so field pruning still works, see
    * PLANS.md jb1). Recorded as its field DDL. */
  def createCompositeType(name: String, fieldsDdl: String): Unit = {
    val struct = StructType.fromDDL(fieldsDdl) // validates eagerly
    compositeTypes(name.toLowerCase) = struct
    writeRecord(catalogFile("composite", name.toLowerCase),
      CompositeRecord(fieldsDdl))
  }

  def compositeType(name: String): Option[StructType] =
    compositeTypes.get(name.toLowerCase)

  private val enumTypes = scala.collection.mutable.Map[String, Seq[String]]() ++
    catalog[EnumRecord]("enum").map { case (n, r) => n -> r.values }
  private val compositeTypes = scala.collection.mutable.Map[String, StructType]() ++
    catalog[CompositeRecord]("composite").map { case (n, r) =>
      n -> StructType.fromDDL(r.fields) }

  /** CREATE TABLE column DDL entries with enum-typed columns rewritten to
    * STRING; returns the schema plus the membership CHECKs to attach. A
    * NULL value still passes the CHECK (PG enum columns are nullable). */
  private def resolveEnumDdl(columns: Seq[String]): (StructType, Seq[(String, String)]) = {
    val entries = columns.map(_.trim).filter(_.nonEmpty)
    val rewritten = scala.collection.mutable.Buffer[String]()
    val checksOut = scala.collection.mutable.Buffer[(String, String)]()
    entries.foreach { e =>
      // probe only the FIRST type token for an enum name, preserving
      // trailing modifiers — `status mood NOT NULL` must still resolve
      val toks = e.split("\\s+", 3)
      val colName = toks(0)
      val tpe = toks.lift(1).getOrElse("").trim
      val modifiers = toks.lift(2).map(" " + _).getOrElse("")
      enumTypes.get(tpe.toLowerCase) match {
        case Some(vals) =>
          rewritten += s"$colName STRING$modifiers"
          val quoted = vals.map(v => s"'${v.replace("'", "''")}'")
          checksOut += ((s"${colName}_enum",
            s"$colName IN (${quoted.mkString(", ")})"))
        case None => compositeTypes.get(tpe.toLowerCase) match {
          case Some(struct) =>
            rewritten += s"$colName STRUCT<${struct.toDDL}>$modifiers"
          case None => rewritten += e
        }
      }
    }
    (StructType.fromDDL(rewritten.mkString(", ")), checksOut.toSeq)
  }

  /** Dynamic/computing table (`relkind='g'`) — columns appear on insert. */
  def createDynamicTable(name: String): Unit = {
    Files.createDirectories(dataDir(name))
    tables(name) = TableState(dynamic = true, new StructType())
    persistMeta(name)
  }

  def dropTable(name: String): Unit = {
    // OTHER tables' FKs referencing this one must not dangle
    allFks.collect { case (child, fk) if child != name && fk.parent == name =>
      child }.distinct.foreach { child =>
      tables(child).fks = tables(child).fks.filterNot(_.parent == name)
      persistMeta(child)
    }
    // the table record (constraints, rename history) goes with its dir; a
    // re-created table must not inherit a dead (mat)view body or spec
    deleteRecursively(tableDir(name))
    forgetBatches(name, Set.empty)
    tables.remove(name)
    dropRecord("incview", name)
    dropView(name)
  }

  /** Drops the view `name` and, transitively, every view and matview that
    * reads it (reference dynamic_cascade_delete's pg_depend walk) — a
    * dangling view must not survive the drop. */
  def dropView(name: String): Unit = {
    views.remove(name)
    dropRecord("view", name)
    spark.catalog.dropTempView(name)
    dropDependentViews(name)
  }

  /** Relations a view body actually references: UnresolvedRelation names
    * from the parsed (not analyzed) plan of the prepared body, subqueries
    * included. Parser-level resolution avoids the textual-match trap where
    * a table named `order` would "depend" on every body containing ORDER
    * BY. None when the body does not parse. */
  private def referencedRelations(body: String): Option[Set[String]] =
    parsed(prepare(body).restored).map(relationsOf)

  /** Spark's parse of `stmt`, or None when it does not parse. */
  private def parsed(stmt: String): Option[LogicalPlan] =
    try Some(spark.sessionState.sqlParser.parsePlan(stmt))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Relation names a parsed plan references, subqueries and WITH bodies
    * included: the parser keeps CTE bodies in `cteRelations`, outside the
    * plan's children, so they are walked here. */
  private def relationsOf(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries {
      case r: UnresolvedRelation =>
        Set(r.multipartIdentifier.last.toLowerCase)
      case w: UnresolvedWith => w.cteRelations.flatMap(c => relationsOf(c._2))
    }.flatten.toSet

  /** Drops every stored view that references `name`, and every
    * incremental matview over it. Matviews are backed by a table and take
    * the table-drop path. */
  private def dropDependentViews(name: String): Unit = {
    val target = name.toLowerCase
    val pattern = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    views.toSeq
      .collect { case (v, body) if referencedRelations(body)
          .map(_.contains(target))
          .getOrElse(pattern.findFirstIn(body).isDefined) => v }
      .foreach(v => if (tables.contains(v)) dropTable(v) else dropView(v))
    incViewsOver(name).foreach { case (v, _) => dropTable(v) }
  }

  def addColumn(name: String, column: String, dt: DataType): Unit = {
    val st = state(name)
    st.schema = DynamicSchema.merge(st.schema,
      StructType(Seq(StructField(column, dt))))
    st.tombstones -= column
    persistMeta(name)
  }

  /** DROP COLUMN is a tombstone — data files are untouched (metadata-only,
    * O(1) at any scale); re-adding the column resurfaces the old values,
    * mirroring `dynamic_schema_drop_then_readd_preserves_old_data`. */
  def dropColumn(name: String, column: String): Unit = {
    val st = state(name)
    st.tombstones += column
    persistMeta(name)
  }

  def renameColumn(name: String, from: String, to: String): Unit = {
    val st = state(name)
    // physical batches keep the old name; reads alias it. The rename is
    // versioned by the table's batch generation: batches written BEFORE
    // the rename (generation < renameGen) resolve the old physical name,
    // later batches already carry the new one — so neither chained
    // renames nor a later re-added column with the old name can shadow.
    st.renames += to -> Rename(from, peekGeneration(name))
    st.schema = StructType(st.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    persistMeta(name)
  }

  // ----------------------------------------------------------- constraints

  sealed trait FkAction
  case object Restrict extends FkAction
  case object Cascade extends FkAction
  case object SetNull extends FkAction

  /** CHECK constraint enforced on the write path (the reference planner
    * wraps DML with check_constraint operators —
    * components/planner/planner.cpp:54-87). Validation is one distributed
    * count over the incoming batch only, never the whole table. */
  def addCheckConstraint(table: String, name: String, sqlExpr: String): Unit = {
    state(table).checks :+= Check(name, sqlExpr)
    persistMeta(table)
  }

  /** FOREIGN KEY with RESTRICT / CASCADE / SET NULL delete semantics
    * (reference fk_check / fk_cascade operators; tests fk_cascade_delete,
    * fk_set_null, fk_cascade_restrict). Insert-side check is an anti-join
    * against the distinct parent keys (AQE broadcasts small parents). */
  def addForeignKey(child: String, column: String, parent: String,
                    parentCol: String, onDelete: FkAction = Restrict): Unit = {
    // the record stores the action by name: restrict, cascade or setnull
    state(child).fks :+= Fk(column, parent, parentCol, onDelete.toString.toLowerCase)
    persistMeta(child)
  }

  /** (child table, FK) for every FK of every table under the root, tables
    * this session has not read yet included: a delete must fire the FK
    * actions a fresh session has not loaded. */
  private def allFks: Seq[(String, Fk)] = {
    discoverTables()
    tables.toSeq.flatMap { case (t, st) => st.fks.map(t -> _) }
  }

  private def validateInsert(name: String, df: DataFrame): Unit = {
    validateChecks(name, df)
    state(name).fks.foreach(fk => validateFkRef(name, df, fk))
  }

  private def validateChecks(name: String, df: DataFrame): Unit =
    state(name).checks.foreach { c =>
      // SQL-standard / PG CHECK semantics: only FALSE violates — a NULL
      // (unknown) predicate result passes, so nullable columns under
      // `CHECK (v > 0)` accept NULL rows exactly as PostgreSQL does
      val bad = df.filter(s"NOT coalesce(CAST((${c.expr}) AS BOOLEAN), true)")
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"CHECK constraint ${c.name} violated by $bad row(s)")
    }

  /** One FK reference check: rows of `df` whose child column has no parent
    * key. The parent key set stays a distributed frame — no broadcast()
    * hint, AQE picks broadcast only when the parent side is actually small
    * (an unbounded forced broadcast of a 10⁹-key parent would OOM). */
  private def validateFkRef(name: String, df: DataFrame, fk: Fk): Unit = {
    val parents = table(fk.parent)
      .select(col(fk.parentCol).as(fk.column)).distinct()
    val orphans = df.select(col(fk.column))
      .filter(col(fk.column).isNotNull)
      .join(parents, Seq(fk.column), "left_anti").count()
    if (orphans > 0) throw new IllegalStateException(
      s"FK violation: $orphans row(s) in $name.${fk.column} " +
        s"without parent in ${fk.parent}.${fk.parentCol}")
  }

  /** UPDATE must re-validate what INSERT validates (the reference planner
    * wraps update with check/fk nodes too — planner.cpp rewrite_update):
    * CHECKs over the post-update rows, FK reference checks for the FK-child
    * columns the statement SET. Without this, `UPDATE t SET mood='bogus'`
    * would sneak an out-of-range enum value past the membership CHECK. */
  private def validateUpdate(name: String, updatedRows: DataFrame,
                             setCols: Set[String]): Unit = {
    validateChecks(name, updatedRows)
    state(name).fks.filter(fk => setCols.contains(fk.column))
      .foreach(fk => validateFkRef(name, updatedRows, fk))
  }

  /** Applies FK delete semantics when rows leave `parent`: children
    * pointing at `deletedKeys` are restricted, cascaded, or nulled.
    *
    * The deleted-key set stays a distributed frame end to end — semi/anti/
    * left joins against it (AQE broadcasts small key sets at runtime); it is
    * never collected into driver-side literals, so a parent delete hitting
    * 10^7 keys neither OOMs the driver nor builds a 10^7-node plan.
    * Self-referential FKs (child == parent) are handled inside
    * [[deleteMatching]]'s single rewrite, not here. */
  private def applyFkDeleteActions(parent: String, deletedKeys: DataFrame): Unit = {
    val affected = allFks.filter { case (child, fk) =>
      fk.parent == parent && child != parent }
    def keysFor(fk: Fk) = deletedKeys.select(col(fk.parentCol).as(fk.column))
      .filter(col(fk.column).isNotNull).distinct()
    // All RESTRICT checks run FIRST (read-only counts): a statement that is
    // going to fail must fail before any CASCADE/SET NULL child overwrite
    // commits — otherwise the outcome of a doomed delete would depend on
    // hash-map iteration order, with cascaded children already gone.
    affected.foreach { case (child, fk) =>
      if (fk.onDelete == "restrict") {
        val n = table(child).join(keysFor(fk), Seq(fk.column), "left_semi").count()
        if (n > 0) throw new IllegalStateException(
          s"FK RESTRICT: $n row(s) in $child still reference $parent")
      }
    }
    affected.foreach { case (child, fk) =>
      fk.onDelete match {
        case "cascade" =>
          deleteMatching(child,
            cur => cur.join(keysFor(fk), Seq(fk.column), "left_semi"),
            cur => cur.join(keysFor(fk), Seq(fk.column), "left_anti"))
        case "setnull" =>
          val cur = table(child)
          overwrite(child, nullOutReferences(cur, fk.column, keysFor(fk)),
            spark.emptyDataFrame)
        case _ => // restrict: checked above
      }
    }
  }

  /** Surviving rows whose `column` hits `keys` get it nulled; column order
    * is preserved (the equi-join moves the key column first). */
  private def nullOutReferences(cur: DataFrame, column: String,
                                keys: DataFrame): DataFrame = {
    val dt = cur.schema(column).dataType
    cur.join(keys.withColumn("__graft_fk_hit", lit(1)), Seq(column), "left")
      .select(cur.columns.map { c =>
        if (c == column)
          when(col("__graft_fk_hit").isNotNull, lit(null).cast(dt))
            .otherwise(col(c)).as(c)
        else col(c)
      }.toSeq: _*)
  }

  // ---------------------------------------------------------------- DML

  /** INSERT: appends a batch. Dynamic tables merge schemas
    * (NEW / SAME-TYPE / TYPE-EVOLUTION); fixed tables validate + cast. */
  /** Batch-count ceiling before an insert auto-triggers [[compactSmall]].
    * Every `batch_*` dir is one more root path of [[table]]'s scans, one
    * more listing and schema check per read, and at least one more part
    * file to open, so unbounded growth degrades every read even when the
    * data is tiny — a pathological insert loop must not be able to build
    * a 10^4-dir table. Dirs of one physical layout share a single scan
    * ([[scanBatches]]), and each batch's schema is inferred once
    * ([[graft.ParquetSchemas]]). ≤ 0 disables. */
  var autoCompactThreshold: Int = 32

  def insert(name: String, df: DataFrame): Unit = writeLock(name).synchronized {
    val st = state(name)
    if (st.dynamic) {
      st.schema = DynamicSchema.merge(st.schema, df.schema)
    } else {
      val unknown = df.schema.fieldNames.filterNot(st.schema.fieldNames.contains)
      require(unknown.isEmpty, s"unknown columns ${unknown.mkString(",")}")
    }
    validateInsert(name, df)
    val batch = dataDir(name).resolve(f"batch_${bumpGeneration(name)}%08d")
    // rows held on the driver (INSERT … VALUES) land as ONE part file: a
    // local relation is split across every core, so a 5-row insert would
    // otherwise leave one tiny file per row for every later read to open
    val local = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    (if (local) df.coalesce(1) else df)
      .write.mode(SaveMode.ErrorIfExists).parquet(batch.toString)
    persistMeta(name)
    // compaction POLICY (round-5 gap: the mechanism existed, nothing
    // called it): fold the small-batch tail once the count crosses the
    // threshold. O(small tail), not O(table) — large batches stay put.
    if (autoCompactThreshold > 0 &&
        listBatches(name).size > autoCompactThreshold)
      compactSmall(name)
  }

  /** Idempotent insert for streaming sinks: lands `df` only if
    * (`queryId`, `epochId`) has not been applied to `name` before,
    * recording applied epochs in a per-table commit log. foreachBatch
    * re-delivers a micro-batch after a failure with the SAME epoch id —
    * with plain insert that lands rows twice; with this, replays are
    * no-ops and the table is exactly-once from the sink's perspective.
    *
    * Epoch ids are PER-QUERY (every streaming query numbers its batches
    * from 0), so the log key includes the query id — two streaming
    * queries landing in the same table must not drop each other's
    * batches. Pass the stream's `query.id` as `queryId`; the default ""
    * keeps a single-writer table working unchanged.
    *
    * Concurrency: the log is APPEND-ONLY — one `queryId:epochId` line per
    * committed epoch, so concurrent commits
    * are commutative: neither writer can un-record the other's epoch, the
    * failure mode of the earlier read-modify-rewrite log. The
    * check + insert + append sequence additionally holds the per-table
    * [[writeLock]] so a replay racing its own first delivery can't
    * double-apply. Locks are per table — streams landing in DIFFERENT
    * tables never serialize against each other.
    *
    * Remaining crash window (documented, pinned by StreamingSpec): a
    * crash BETWEEN insert() and the log append re-applies that one epoch
    * on replay — closing it fully would need the data batch and the log
    * entry to land in one atomic directory move, coupling the sink to the
    * batch layout; the window is one micro-batch wide, never unbounded.
    * The log is one line per epoch, O(epochs) metadata, never data.
    * Returns true when the batch was applied. */
  def insertIfNew(name: String, epochId: Long, df: DataFrame,
                  queryId: String = ""): Boolean = {
    require(!queryId.contains("\n") && !queryId.contains(":"),
      "queryId must be single-line and ':'-free")
    val log = tableDir(name).resolve("_stream_commits")
    writeLock(name).synchronized {
      val lines = if (Files.exists(log))
        Files.readString(log).split("\n").filter(_.nonEmpty).toSet
      else Set.empty[String]
      val key = s"$queryId:$epochId"
      if (lines(key)) return false
      insert(name, df)
      Files.createDirectories(tableDir(name))
      Files.writeString(log, key + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      true
    }
  }

  /** UPDATE ... SET ... WHERE ... [RETURNING]: read → transform → staged
    * overwrite (write to _staging, swap directories — the trivial "commit"
    * from SURVEY §7; no txn machinery). Returns the updated rows.
    *
    * SQL semantics: WHERE and every SET expression are evaluated against
    * the PRE-update row (simultaneous assignment — `SET a = b, b = a`
    * swaps), and RETURNING is the post-update image of the matched rows. */
  def update(name: String, set: Map[String, Column], where: Column): DataFrame = {
    val current = table(name)
    val resolved = resolveSetKeys(current.columns.toSeq, set)
    // name-resolved transform so it can apply to the whole table OR to the
    // union of just the matched batches (predicate-pruned path)
    def transform(df: DataFrame): DataFrame = df.select(current.columns.map { c =>
      resolved.get(c).map(v => when(where, v).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }.toSeq: _*)
    val returning = current.filter(where).select(current.columns.map { c =>
      resolved.get(c).map(_.as(c)).getOrElse(col(c))
    }.toSeq: _*)
    validateUpdate(name, returning, resolved.keySet)
    prunedRewrite(name, _.filter(where), transform, returning)
  }

  /** Case-insensitive SET-key resolution; unknown columns are an error,
    * never a silent no-op. */
  private def resolveSetKeys(cols: Seq[String],
                             set: Map[String, Column]): Map[String, Column] = {
    val resolved = set.toSeq.map { case (k, v) =>
      cols.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE: unknown column $k (have ${cols.mkString(",")})")) -> v
    }
    val collided = resolved.groupBy(_._1).filter(_._2.size > 1).keys
    require(collided.isEmpty,
      s"UPDATE: multiple SET clauses target column(s) ${collided.mkString(",")}")
    resolved.toMap
  }

  /** UPDATE ... FROM (join-update; reference operator_update supports
    * UPDATE…FROM + RETURNING): rows of `name` matching `joinCond` against
    * `other` get `set` applied (expressions may reference other's columns);
    * unmatched rows pass through. Runs as a MERGE with one unconditional
    * `WHEN MATCHED THEN UPDATE SET` arm ([[mergeRows]]), target aliased
    * with the table name so join conditions can qualify target columns.
    * Returns the updated rows. */
  def updateFrom(name: String, other: DataFrame, joinCond: Column,
                 set: Map[String, Column]): DataFrame =
    mergeRows(name, other, joinCond,
      Seq(GraftSession.MergeWhen(true, None, GraftSession.MergeUpdate(set))),
      name, carrySource = false).drop("merge_action")

  /** MERGE INTO (SQL:2003; PG 15 brings it to the dialect the reference
    * speaks — the reference itself stops at UPDATE…FROM, so this exceeds
    * its surface). WHEN arms evaluate in statement order as a chained
    * CASE: the first applicable arm wins per row, matching PG.
    *
    * Scale shape: the UPDATE/DELETE side rewrites only batches with join
    * matches (pruned-DML path); the INSERT arm lands as one appended
    * batch derived from the STAGED returning frame (never re-read from
    * the already-swapped table); the one-source-row rule ("MERGE command
    * cannot affect row a second time") is a window count fused into the
    * staged affected-row frame — no separate guard join. When the matched
    * arms always affect every matched row (common upsert: an unconditional
    * UPDATE arm last), the rewrite is a narrow select over the join with
    * NO added shuffle; only conditional/NOTHING arms need a per-rid
    * window to collapse multi-match pass-through copies. [[updateFrom]]
    * and the SQL `UPDATE … FROM` run on the same core ([[mergeRows]]).
    *
    * Returns the affected rows (target columns + `merge_action` ∈
    * UPDATE/DELETE/INSERT — the PG 17 `merge_action()` surface). */
  def merge(name: String, source: DataFrame, on: Column,
            whens: Seq[GraftSession.MergeWhen],
            targetAlias: Option[String] = None): DataFrame =
    mergeRows(name, source, on, whens, targetAlias.getOrElse(name),
      carrySource = false)

  /** The MERGE core behind [[merge]] and [[updateFrom]]: the staged
    * affected rows carry the target columns and `merge_action`, and with
    * `carrySource` also the source's non-colliding columns (PG lets
    * `UPDATE … FROM … RETURNING` name them; NULL on INSERT rows). A
    * source column is non-colliding when no target column, other source
    * column or `merge_action` shares its name (case-insensitively) and it
    * is not a reserved `__graft_` helper. Only a RETURNING that reads them
    * should carry them: they are written with the staged rows, and a
    * column parquet cannot store (an untyped NULL) fails that write. */
  private def mergeRows(name: String, source: DataFrame, on: Column,
      whens: Seq[GraftSession.MergeWhen], alias: String,
      carrySource: Boolean): DataFrame = {
    import GraftSession._
    require(whens.nonEmpty, "MERGE needs at least one WHEN clause")
    val base = table(name).as(alias)
    val baseCols = base.columns.toSeq
    require(!baseCols.exists(_.startsWith("__graft_")),
      "column names starting with __graft_ are reserved")
    val matchedWhens = whens.filter(_.matched)
    val insertWhens = whens.filterNot(_.matched)
    // a DELETE arm's self-FK actions would need deleteMatching's closure
    // inside this one rewrite; applyFkDeleteActions covers other tables only
    require(!(matchedWhens.exists(_.action == MergeDelete) &&
      state(name).fks.exists(_.parent == name)),
      s"MERGE … THEN DELETE on $name, which has a self-referential FK, is " +
        "unsupported; use DELETE (it folds self-FK actions into one rewrite)")
    val srcExtra = if (!carrySource) Seq.empty[String]
      else source.columns.toSeq.filter(c => !c.startsWith("__graft_") &&
        (baseCols ++ source.columns :+ "merge_action")
          .count(_.equalsIgnoreCase(c)) == 1)
    matchedWhens.foreach(w => require(!w.action.isInstanceOf[MergeInsert],
      "WHEN MATCHED cannot INSERT"))
    insertWhens.foreach(w => require(
      w.action.isInstanceOf[MergeInsert] || w.action == MergeNothing,
      "WHEN NOT MATCHED supports INSERT or DO NOTHING"))
    // resolve every UPDATE arm's SET map once (case-insensitive keys,
    // collision-checked) + the touched-column set for re-validation
    val resolvedArms: Seq[(MergeWhen, Map[String, Column])] =
      matchedWhens.map { w =>
        w -> (w.action match {
          case MergeUpdate(s) => resolveSetKeys(baseCols, s)
          case _ => Map.empty[String, Column]
        })
      }
    val updateKeys = resolvedArms.flatMap(_._2.keySet).toSet
    val tagged = source.withColumn("__graft_hit", lit(1))
    val hit = tagged("__graft_hit").isNotNull
    def armCond(w: MergeWhen): Column = hit && w.pred.getOrElse(lit(true))
    def actionName(a: MergeAction): String = a match {
      case MergeUpdate(_) => "UPDATE"
      case MergeDelete => "DELETE"
      case _ => "NOTHING"
    }
    // chained CASE, first arm wins — evaluation order IS statement order
    def chain(arms: Seq[(Column, Column)], default: Column): Column =
      arms.foldRight(default) { case ((c, v), acc) => when(c, v).otherwise(acc) }
    def actionOf: Column = chain(resolvedArms.map { case (w, _) =>
      armCond(w) -> lit(actionName(w.action)) }, lit(null).cast("string"))
    // post-merge image of one target frame (whole table or a pruned batch
    // union): per-column chained CASE over the arms; f-qualified refs so
    // the same builder serves both rewrite paths
    def imageCols(f: DataFrame): Seq[Column] = baseCols.map { c =>
      chain(resolvedArms.map { case (w, set) =>
        armCond(w) -> set.getOrElse(c, f(c)) }, f(c)).as(c)
    }
    // an arm-chain where every matched row necessarily fires an affecting
    // arm needs no dedup: a multi-matched row always trips the guard
    // first, so survivors carry one copy per rid by construction
    val needsDedup = !(matchedWhens.nonEmpty &&
      matchedWhens.last.pred.isEmpty &&
      matchedWhens.forall(_.action != MergeNothing))
    def survivorsOf(f0: DataFrame): DataFrame = {
      val f = f0.as(alias).withColumn("__graft_rid",
        monotonically_increasing_id())
      val j = f.join(tagged, on, "left")
      val rows = j.select((imageCols(f)
        :+ actionOf.as("__graft_action")
        :+ f("__graft_rid").as("__graft_rid")).toSeq: _*)
      val deduped = if (!needsDedup) rows else {
        // collapse multi-match join copies of rows NO affecting arm took
        // (pass-through / DO NOTHING): prefer the affected copy, keep one
        val w = Window.partitionBy(col("__graft_rid"))
          .orderBy(when(col("__graft_action").isNotNull &&
            col("__graft_action") =!= "NOTHING", 0).otherwise(1))
        rows.withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1)
      }
      deduped
        .filter(col("__graft_action").isNull ||
          col("__graft_action") =!= "DELETE")
        .select(baseCols.map(col).toSeq: _*)
    }
    // --- affected-row (returning) frame, full-table spelling, with the
    // fused one-source-row guard; staged before any swap ---
    val current = base.withColumn("__graft_rid", monotonically_increasing_id())
    val jFull = current.join(tagged, on, "left")
    val allRows = jFull.select((imageCols(current)
      ++ srcExtra.map(tagged(_))
      :+ actionOf.as("__graft_action")
      :+ current("__graft_rid").as("__graft_rid")).toSeq: _*)
    val nAffected = count(lit(1)).over(Window.partitionBy(col("__graft_rid")))
    val affectedTarget = allRows
      .filter(col("__graft_action").isNotNull &&
        col("__graft_action") =!= "NOTHING")
      .withColumn("__graft_nmatch", nAffected)
      .filter(when(col("__graft_nmatch") > 1,
        raise_error(lit(MultiSourceMsg)).cast("boolean"))
        .otherwise(lit(true)))
      .select(((baseCols ++ srcExtra).map(col)
        :+ col("__graft_action").as("merge_action")).toSeq: _*)
    // --- INSERT arm: source rows with no target match, first applicable
    // NOT MATCHED arm wins; values cast to the target column types ---
    val insArm: Option[DataFrame] =
      if (insertWhens.isEmpty) None
      else {
        val insRows = tagged.join(base, on, "left_anti")
        val selector = insertWhens.zipWithIndex.foldRight(lit(0)) {
          case ((w, i), acc) =>
            val tag = if (w.action == MergeNothing) -1 else i + 1
            when(w.pred.getOrElse(lit(true)), lit(tag)).otherwise(acc)
        }
        def valueFor(a: MergeAction, c: String, dt: DataType): Column =
          a match {
            case MergeInsert(cols, values) =>
              val idx =
                if (cols.nonEmpty) cols.indexWhere(_.equalsIgnoreCase(c))
                else baseCols.indexOf(c)
              if (idx >= 0 && idx < values.length) values(idx).cast(dt)
              else lit(null).cast(dt)
            case _ => lit(null).cast(dt)
          }
        insertWhens.foreach {
          case MergeWhen(_, _, MergeInsert(cols, values)) =>
            val width = if (cols.nonEmpty) cols.length else baseCols.length
            require(values.length == width,
              s"MERGE INSERT arm: ${values.length} value(s) for $width " +
                "column(s)")
            val unknown = cols.filterNot(c =>
              baseCols.exists(_.equalsIgnoreCase(c)))
            require(unknown.isEmpty,
              s"MERGE INSERT arm: unknown column(s) ${unknown.mkString(",")}")
          case _ =>
        }
        Some(insRows.withColumn("__graft_ins", selector)
          .filter(col("__graft_ins") > 0)
          .select(base.schema.fields.map { fld =>
            chain(insertWhens.zipWithIndex.map { case (w, i) =>
              (col("__graft_ins") === i + 1,
                valueFor(w.action, fld.name, fld.dataType))
            }, lit(null).cast(fld.dataType)).as(fld.name)
          }.toSeq: _*))
      }
    val returning = insArm match {
      case Some(ins) => affectedTarget.unionByName(
        ins.withColumn("merge_action", lit("INSERT")),
        allowMissingColumns = true)
      case None => affectedTarget
    }
    try {
      // pre-swap validation: CHECK/FK on the update image and the insert
      // arm BEFORE anything commits, FK delete actions (RESTRICT first)
      // for rows a DELETE arm removes
      validateUpdate(name, affectedTarget
        .filter(col("merge_action") === "UPDATE")
        .select(baseCols.map(col).toSeq: _*), updateKeys)
      insArm.foreach(validateInsert(name, _))
      if (matchedWhens.exists(_.action == MergeDelete))
        applyFkDeleteActions(name, allRows
          .filter(col("__graft_action") === "DELETE")
          .select(baseCols.map(col).toSeq: _*))
      val staged = prunedRewrite(name,
        cur => cur.as(alias).join(tagged, on, "left_semi"),
        survivorsOf, returning)
      // INSERT arm appends from the STAGED frame — the pre-swap lazy plan
      // would re-read the now-rewritten table
      if (insArm.isDefined) {
        val ins = staged.filter(col("merge_action") === "INSERT")
          .select(baseCols.map(col).toSeq: _*)
        insert(name, ins)
      }
      staged
    } catch {
      // surface the fused guard's executor-side raise (wrapped in
      // SparkException layers from the failed job) as the API contract
      case e: Throwable if causeChain(e).exists(t =>
          Option(t.getMessage).exists(_.contains(MultiSourceMsg))) =>
        throw new IllegalArgumentException(MultiSourceMsg, e)
    }
  }

  /** Incremental matviews whose base is `base`, with their records —
    * read from the root, so a dependent another session created is not
    * forgotten. */
  private def incViewsOver(base: String): Seq[(String, IncViewRecord)] =
    catalog[IncViewRecord]("incview").filter(_._2.base == base)

  /** After a pure fold of `folded` (batch dirs of `base`) into `product`
    * (None: the fold kept no rows), an incremental matview over `base`
    * that had seen every folded batch sees the product in their place: it
    * holds exactly the rows it already folded. One that had not keeps its
    * seen set, which now names a batch that is gone, so its next refresh
    * rebuilds. */
  private def foldSeen(base: String, folded: Seq[Path],
                       product: Option[String]): Unit = {
    val olds = folded.map(_.getFileName.toString).toSet
    incViewsOver(base).foreach { case (v, r) =>
      if (olds.subsetOf(r.seen.toSet))
        writeRecord(catalogFile("incview", v),
          r.copy(seen = r.seen.filterNot(olds) ++ product))
    }
  }

  /** Compacts all ingest batches into one (the reference's vacuum/
    * checkpoint analogue): O(table) rewrite, schema becomes the current
    * union, tombstoned columns are physically dropped. */
  def compact(name: String): Unit = {
    // fold pending deltas into dependent incremental matviews FIRST:
    // after the rewrite the delta batches are gone, and a fold mixing
    // seen and unseen rows is unrecoverable (forces a full rebuild)
    incViewsOver(name).foreach { case (v, _) => refreshIncrementalMatView(v) }
    val olds = listBatches(name)
    // rewrites cluster on the indexed columns (see createIndex) — this
    // is where an index becomes physically real
    foldSeen(name, olds, swapAll(name, clusterByIndex(name, table(name))))
    // vacuum the staged RETURNING dirs of past DML statements (their lazy
    // result frames are dead after a compact — documented divergence)
    children(tableDir(name))
      .filter(_.getFileName.toString.startsWith("_returning_"))
      .foreach(deleteRecursively)
  }

  /** Size-tiered compaction: folds only the batches smaller than
    * `smallBytes` into one new batch and leaves already-large batches in
    * place. [[compact]] is O(table) — correct but unaffordable as routine
    * maintenance at 100 TB, where ingest and (pruned) DML leave a long
    * tail of small batch dirs; this is O(small tail) and keeps the
    * batch count bounded between full compactions.
    *
    * Same documented divergence as [[compact]], scoped to the FOLDED
    * batches only: folding writes the normalized visible schema, so
    * tombstoned-column data and pre-rename physical names of the folded
    * batches are physically dropped (a later re-add of a dropped column
    * resurfaces values only from batches never folded). */
  def compactSmall(name: String, smallBytes: Long = 128L << 20): Unit = {
    def dirSize(p: Path): Long = Using.resource(Files.walk(p))(_.iterator
      .asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum)
    val small = listBatches(name).filter(dirSize(_) < smallBytes)
    if (small.size <= 1) return // nothing worth folding
    // same ordering rule as compact(): dependent incremental matviews
    // fold their pending deltas before the delta batches disappear
    incViewsOver(name).foreach { case (v, _) => refreshIncrementalMatView(v) }
    val union = clusterByIndex(name, scanBatches(name, small))
    foldSeen(name, small, swapBatches(name, union, small))
    persistMeta(name)
  }

  private def copyWrite(df: DataFrame, path: String,
                        fmt: Option[String]): Unit =
    fmt.map(_.toLowerCase).getOrElse("parquet") match {
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "csv" => graft.sources.Ingest.writeCsv(df, path)
      case "json" => graft.sources.Ingest.writeJson(df, path)
      case "orc" => graft.sources.Ingest.writeOrc(df, path)
      case other => throw new IllegalArgumentException(
        s"COPY: unsupported FORMAT $other (parquet|csv|json|orc)")
    }

  /** Row count of a written parquet dir from footer metadata alone —
    * COPY TO reports rows without a second full pass over what it just
    * wrote (at a 100 TB export the re-read doubles the I/O). O(#files)
    * footer reads on the driver, no data pages touched. Non-parquet
    * formats have no trustworthy in-file count and keep the re-read. */
  private def parquetFooterRowCount(path: String): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(p))
    files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def copyRead(path: String, fmt: Option[String],
                       schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    fmt.map(_.toLowerCase).getOrElse("parquet") match {
      case "parquet" => spark.read.parquet(path)
      case "csv" => graft.sources.Ingest.readCsv(spark, path, schema)
      case "json" => graft.sources.Ingest.readJson(spark, path, schema)
      case "orc" => spark.read.orc(path)
      case other => throw new IllegalArgumentException(
        s"COPY: unsupported FORMAT $other (parquet|csv|json|orc)")
    }

  /** TRUNCATE: schema and constraints survive, every batch dir goes — PG
    * TRUNCATE semantics minus MVCC; O(batches) directory removal, no data
    * scan. Like PG, refuses when another table references `name` by FK
    * (regardless of the FK's delete action or whether referencing rows
    * exist — DELETE is the path that fires FK actions; a directory-drop
    * that skipped them would leave dangling child references).
    * Self-referential FKs don't block: all rows vanish together. */
  def truncateTable(name: String): Unit = {
    state(name) // unknown table errors before anything is deleted
    val referencing = allFks.collect {
      case (child, fk) if child != name && fk.parent == name => child
    }.distinct.sorted
    if (referencing.nonEmpty) throw new IllegalStateException(
      s"cannot TRUNCATE $name: referenced by foreign key(s) from " +
        s"${referencing.mkString(", ")} — use DELETE (fires FK actions) " +
        "or drop the referencing constraint first")
    listBatches(name).foreach(deleteRecursively)
    forgetBatches(name, Set.empty)
    bumpGeneration(name)
    persistMeta(name)
  }

  /** DELETE ... WHERE ... [RETURNING the deleted rows]; fires FK delete
    * actions (RESTRICT / CASCADE / SET NULL) on referencing tables. */
  def delete(name: String, where: Column): DataFrame =
    deleteMatching(name,
      cur => cur.filter(where),
      cur => cur.filter(!where || where.isNull))

  /** DELETE ... USING other WHERE cond (reference operator_delete's join
    * form): deletes rows of `name` for which some row of `other` satisfies
    * `cond`. Returns the deleted rows. */
  def deleteUsing(name: String, other: DataFrame, cond: Column): DataFrame =
    deleteMatching(name,
      cur => cur.as(name).join(other, cond, "left_semi"),
      cur => cur.as(name).join(other, cond, "left_anti"))

  // tables currently inside a delete — a CASCADE cycle re-entering one of
  // them would swap its directory out from under the outer lazy frames;
  // refuse with a clear error instead (direct self-FKs ARE supported below)
  private val deleting = scala.collection.mutable.Set[String]()

  /** Shared DELETE core: `doomedOf` / `keptOf` partition the current rows.
    * Fires FK delete actions on other tables; SELF-referential FKs are
    * folded into this one rewrite — transitive CASCADE closure, SET NULL
    * null-out, then an end-of-statement RESTRICT check — because per-level
    * recursive delete() calls would swap the table directory out from under
    * the outer statement's lazy frames (round-2 verdict bug). The CASCADE
    * closure runs on [[graft.operators.RecursiveCte.fixpoint]], so a chain
    * deeper than `spark.sql.cteRecursionLevelLimit` levels fails the
    * statement instead of deleting part of it. */
  private def deleteMatching(name: String,
      doomedOf: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame): DataFrame = {
    require(!deleting.contains(name),
      s"FK CASCADE cycle re-enters $name mid-delete; cyclic FKs across " +
        "tables are unsupported (self-referential FKs on one table are)")
    deleting += name
    try {
      val selfFks = state(name).fks.filter(_.parent == name)
      val current = table(name)
      if (selfFks.isEmpty) {
        // re-project to the original column order: doomedOf/keptOf may be
        // USING-joins (CASCADE children) which move the join column first,
        // and overwrite() persists newData.schema — without this a cascade
        // would permanently reorder the child table's columns
        val order = current.columns.map(col).toSeq
        val doomed = doomedOf(current).select(order: _*)
        applyFkDeleteActions(name, doomed)
        return prunedRewrite(name, doomedOf,
          df => keptOf(df).select(order: _*), doomed)
      }
      // Self-FK path: pin row identity (rid) so the closure's set algebra is
      // exact even under duplicate rows; Materialize.once materializes the
      // nondeterministic rid once (a reliable checkpoint when a checkpoint
      // dir is set). Tables WITH a self-FK pay this materialization — the
      // closure is inherently iterative over the table.
      require(!current.columns.exists(_.startsWith("__graft_")),
        "column names starting with __graft_ are reserved")
      val cur = graft.Materialize.once(
        current.withColumn("__graft_rid", monotonically_increasing_id()))
      val cascades = selfFks.filter(_.onDelete == "cascade")
      val doomed =
        if (cascades.isEmpty) graft.Materialize.once(doomedOf(cur))
        else {
          // transitive CASCADE closure on the shared fixpoint loop, over
          // each doomed row's rid and the keys its children reference:
          // every round semi-joins the table against the newly-doomed
          // keys only. Depth is bounded by spark.sql.cteRecursionLevelLimit.
          val keyed = ("__graft_rid" +: cascades.map(_.parentCol))
            .distinct.map(col)
          val closure = graft.operators.RecursiveCte.fixpoint(
            doomedOf(cur).select(keyed: _*),
            frontier => cascades.map { fk =>
              cur.join(frontier.select(col(fk.parentCol).as(fk.column))
                  .filter(col(fk.column).isNotNull).distinct(),
                Seq(fk.column), "left_semi").select(keyed: _*)
            }.reduce(_ union _))
          cur.join(closure.select("__graft_rid"), Seq("__graft_rid"),
            "left_semi")
        }
      val outCols = current.columns.toSeq
      val doomedOut = doomed.select(outCols.map(col): _*)
      var kept = cur
        .join(doomed.select("__graft_rid"), Seq("__graft_rid"), "left_anti")
      selfFks.filter(_.onDelete == "setnull").foreach { fk =>
        val keys = doomed.select(col(fk.parentCol).as(fk.column))
          .filter(col(fk.column).isNotNull).distinct()
        kept = nullOutReferences(kept, fk.column, keys)
      }
      // RESTRICT as an end-of-statement check (NO ACTION semantics): rows
      // surviving the statement must not reference a key it deleted.
      // Runs BEFORE other-table FK actions so a failing statement aborts
      // without having committed any child-table overwrite.
      selfFks.filter(_.onDelete == "restrict").foreach { fk =>
        val keys = doomed.select(col(fk.parentCol).as(fk.column))
          .filter(col(fk.column).isNotNull).distinct()
        val n = kept.join(keys, Seq(fk.column), "left_semi").count()
        if (n > 0) throw new IllegalStateException(
          s"FK RESTRICT: $n row(s) in $name still reference deleted keys")
      }
      // other-table FK actions see the full (closed) doomed set
      applyFkDeleteActions(name, doomedOut)
      overwrite(name, kept.select(outCols.map(col): _*), doomedOut)
    } finally deleting -= name
  }

  /** Predicate-pruned DML rewrite, the one path every row-level DML
    * statement takes. A full [[overwrite]] rewrites the ENTIRE surviving
    * table — O(table) even when the WHERE touches one batch of a
    * 10^4-batch table. The batch-directory layout already gives
    * file-level granularity, so instead:
    *
    *   1. ONE job over the table's scans ([[scanBatches]]), each row
    *      tagged with its batch directory name from the file it was read
    *      from (`_metadata.file_path`), finds the set of batches
    *      containing matched rows (the predicate/join pushes into the
    *      parquet scans, so unmatched row groups are footer-skipped, and
    *      only the tag + predicate columns are read);
    *   2. only those batches are rewritten (merged into one new
    *      generation-stamped batch); every untouched `batch_*` dir stays
    *      in place byte-identical.
    *
    * A selective UPDATE at 100 TB becomes O(matched batches) instead of
    * O(table) — the reference's row-versioned update is the analogous
    * optimization (/root/reference components/table/row_version_manager.cpp).
    * The tag collect is bounded by the number of batch DIRECTORIES (not
    * rows). Where pruning can't apply — a single batch, every batch
    * matched, or a transform that changes the schema — this falls back to
    * the full [[overwrite]] of `survivorsOf(<whole table>)`. Either way
    * RETURNING is staged before the swap, and the staged frame is
    * returned.
    *
    * `matchedOf` must preserve the columns of its input (filter/semi-join
    * shaped); `survivorsOf` maps a set of batches (the matched ones, or
    * the whole table) to the rows that replace them, in the table's
    * visible schema. */
  private def prunedRewrite(name: String,
      matchedOf: DataFrame => DataFrame,
      survivorsOf: DataFrame => DataFrame,
      returning: DataFrame): DataFrame = {
    val batches = listBatches(name)
    val whole = scanBatches(name, batches)
    val wholeSurvivors = survivorsOf(whole)
    // pruning needs several batches and a free TAG column (a user column
    // in the reserved prefix falls back, never fails); the schema check
    // is pure analysis, no job: a type-evolving SET must take the full
    // rewrite regardless of which batches match, to widen every batch
    def schemaOf(df: DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val prunable = batches.size > 1 &&
      !state(name).schema.fieldNames.exists(_.startsWith("__graft_")) &&
      schemaOf(wholeSurvivors) == schemaOf(whole)
    val hitTags =
      if (!prunable) Set.empty[String]
      else matchedOf(scanBatches(name, batches, tagged = true))
        .select("__graft_batch").distinct()
        .collect().map(_.getString(0)).toSet
    if (!prunable || hitTags.size == batches.size)
      return overwrite(name, wholeSurvivors, returning)
    val returned = stageReturning(name, returning)
    val matched = batches.filter(p => hitTags(p.getFileName.toString))
    if (matched.isEmpty) // no-op statement: no batch touched at all
      bumpGeneration(name) // keep _returning_* names unique per statement
    else {
      swapBatches(name, survivorsOf(scanBatches(name, matched)), matched)
      persistMeta(name)
    }
    returned
  }

  /** Full rewrite: stages RETURNING, then replaces every batch with
    * `newData` ([[swapAll]]). */
  private def overwrite(name: String, newData: DataFrame, returning: DataFrame): DataFrame = {
    val returned = stageReturning(name, returning)
    swapAll(name, newData)
    returned
  }

  /** Replaces every batch of `name` with `rows` through [[swapBatches]];
    * the table's schema becomes `rows`'. Returns the new batch name. */
  private def swapAll(name: String, rows: DataFrame): Option[String] = {
    val batch = swapBatches(name, rows, listBatches(name))
    state(name).schema = rows.schema
    persistMeta(name)
    batch
  }

  /** RETURNING materializes DISTRIBUTED — executors write it to a
    * generation-stamped `_returning_*` dir BEFORE the swap invalidates its
    * input files; the caller gets a lazy scan over that dir. Never a
    * driver collect: an `UPDATE … RETURNING` matching most of a 100 TB
    * table must not OOM the driver. Old dirs are purged by compact(). */
  private def stageReturning(name: String, returning: DataFrame): DataFrame = {
    val retSchema = returning.schema
    if (retSchema.isEmpty) return spark.emptyDataFrame
    val retDir = tableDir(name).resolve(f"_returning_${peekGeneration(name)}%08d")
    deleteRecursively(retDir)
    returning.write.mode(SaveMode.Overwrite).parquet(retDir.toString)
    // explicit schema: a zero-row RETURNING may write no part files, and a
    // schema'd read of an empty dir is an empty frame, not an inference error
    spark.read.schema(retSchema).parquet(retDir.toString)
  }

  /** The staged swap: writes `rows` to `_staging` (reading `replaced`
    * before any of them goes), deletes the `replaced` batch dirs, and
    * moves the staging dir into a fresh generation-stamped `batch_*` dir —
    * names are never reused, so no FileIndex cached against an earlier
    * generation can serve a stale listing. A write that left no part
    * file (every row deleted) installs nothing: an empty dir would break
    * later schema inference. Returns the new batch name, if any. */
  private def swapBatches(name: String, rows: DataFrame,
                          replaced: Seq[Path]): Option[String] = {
    val staging = tableDir(name).resolve("_staging")
    deleteRecursively(staging)
    rows.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val hasParts = children(staging)
      .exists(_.getFileName.toString.startsWith("part-"))
    replaced.foreach(deleteRecursively)
    val batch = f"batch_${bumpGeneration(name)}%08d"
    if (hasParts) {
      Files.move(staging, dataDir(name).resolve(batch),
        StandardCopyOption.ATOMIC_MOVE)
      Some(batch)
    } else {
      deleteRecursively(staging)
      None
    }
  }

  // ---------------------------------------------------------------- read

  /** Resolved table: every ingest batch read with its own physical schema,
    * cast + null-padded to the union schema, tombstones dropped — one
    * parquet scan per distinct physical layout, not one per batch
    * ([[scanBatches]]). Each batch's schema comes from the program's one
    * parquet schema memo ([[graft.ParquetSchemas]]): inferred on the
    * batch's first read, so re-reading an unchanged table runs no Spark
    * job. */
  def table(name: String): DataFrame = scanBatches(name, listBatches(name))

  /** The rows of `dirs` (batch dirs of `name`) in the table's current
    * visible schema: per-generation rename resolution, cast,
    * null-padding. Dirs that share a physical schema AND resolve every
    * visible column the same way (a RENAME splits batches older than it
    * from newer ones) form one group, read as ONE multi-path parquet
    * scan with one projection — Spark packs a group's many small files
    * into a few tasks, where a union arm per dir planned a file index,
    * scan, codegen subtree and task per dir. Groups keep first-seen
    * order and are unioned. A dir's physical schema comes from
    * [[batchSchema]], so building the scan runs no Spark job once every
    * dir has been read. With `tagged`, every row also carries its
    * batch dir name in `__graft_batch`, taken from the file it was read
    * from. */
  private def scanBatches(name: String, dirs: Seq[Path],
                          tagged: Boolean = false): DataFrame = {
    val st = state(name)
    val rename = st.renames
    val visible = st.schema.fields.filterNot(f => st.tombstones(f.name))
    if (dirs.isEmpty || visible.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(visible))
    // per dir: its physical schema and, per visible column, the physical
    // column it reads (None = null-pad)
    def layout(b: Path): (StructType, Seq[Option[String]]) = {
      val physicalSchema = batchSchema(b)
      val batchGen = b.getFileName.toString.stripPrefix("batch_").toLong
      // physical names that, IN THIS BATCH's generation, belong to a
      // renamed column — a re-added column with the old name must not
      // read them (they are the renamed column's historical data)
      val claimed = rename.collect {
        case (_, Rename(old, g)) if batchGen < g => old
      }.toSet
      physicalSchema -> visible.toSeq.map { f =>
        val physical = rename.get(f.name) match {
          case Some(Rename(old, renameGen)) if batchGen < renameGen => old
          case _ => f.name
        }
        Option.when(physicalSchema.fieldNames.contains(physical) &&
          !(physical == f.name && claimed(physical)))(physical)
      }
    }
    val groups = scala.collection.mutable.LinkedHashMap[
      (StructType, Seq[Option[String]]), Vector[Path]]()
    dirs.foreach { b =>
      val key = layout(b)
      groups(key) = groups.getOrElse(key, Vector()) :+ b
    }
    groups.map { case ((physicalSchema, sources), group) =>
      val raw = spark.read.schema(physicalSchema)
        .parquet(group.map(_.toString): _*)
      val cols = visible.toSeq.zip(sources).map {
        case (f, Some(physical)) => col(physical).cast(f.dataType).as(f.name)
        case (f, None) => lit(null).cast(f.dataType).as(f.name)
      }
      val tag = Option.when(tagged)(regexp_extract(
        raw.metadataColumn("_metadata").getField("file_path"),
        "/(batch_[0-9]+)/[^/]*$", 1).as("__graft_batch"))
      raw.select(cols ++ tag: _*)
    }.reduce(_ union _)
  }

  /** Physical schema of one `batch_*` dir, from the program's one parquet
    * schema memo ([[graft.ParquetSchemas]]) — the session's stand-in for
    * the reference's catalog-held column metadata. The first read of a
    * batch infers it (one Spark job); later reads hit the memo and run
    * none. Batch dirs are write-once (generation-stamped, staged, moved
    * into place) and part-file names carry the writing job's UUID, so a
    * dir re-created at the same path (DROP + CREATE restarts numbering;
    * another session over the same root) never matches a stale entry. */
  private def batchSchema(dir: Path): StructType =
    graft.ParquetSchemas.schema(spark, dir.toString)

  /** Drops the memoized schemas of `name`'s batch dirs not in `live`. */
  private def forgetBatches(name: String, live: Set[Path]): Unit =
    graft.ParquetSchemas.forget(spark, dataDir(name).toString,
      live.map(_.toString))

  /** Number of memoized schemas under this session's root (O(live
    * batches) across DML, compaction, TRUNCATE and DROP). */
  private[graft] def batchSchemaCount: Int =
    graft.ParquetSchemas.count(spark, rootPath.toString)

  // ------------------------------------------------------- views/matviews

  def createView(name: String, sql: String): Unit = {
    views(name) = sql
    writeRecord(catalogFile("view", name), ViewRecord(sql))
  }

  /** Materialized view = CTAS; refresh re-runs the stored body. */
  def createMatView(name: String, sql: String): Unit = {
    createView(name, sql)
    val df = this.sql(sql)
    createTable(name, df.schema)
    insert(name, df)
  }

  /** Re-runs the stored body and swaps its rows in through the staged
    * [[overwrite]]: validated first, so a failing refresh leaves the old
    * rows, and never dropped, so views over the matview, its constraints
    * and its catalog entry survive. */
  def refreshMatView(name: String): Unit = {
    if (Files.exists(catalogFile("incview", name))) {
      refreshIncrementalMatView(name); return
    }
    replaceRows(name, sql(views.getOrElse(name,
      throw new IllegalArgumentException(s"no materialized view $name"))))
  }

  /** A matview refresh's write: validates `rows` as an insert, fires the
    * delete actions of other tables' FKs that reference `name` for the
    * keys the refresh drops (values of a referenced column that no new row
    * carries; RESTRICT refuses before any swap), then replaces every batch
    * of `name` with `rows` through [[overwrite]]. The staged write reads
    * the old batches before the swap deletes them, so `rows` may read
    * `name` itself. */
  private def replaceRows(name: String, rows: DataFrame): Unit = {
    validateInsert(name, rows)
    val refCols = allFks.collect {
      case (child, fk) if fk.parent == name && child != name => fk.parentCol
    }.distinctBy(_.toLowerCase)
    if (refCols.nonEmpty) {
      // one branch per referenced column, carrying its dropped keys and
      // NULL in the others: each FK action reads its own column and
      // skips NULLs
      val old = table(name).select(refCols.map(col): _*)
      val fields = old.schema.fields.toSeq
      applyFkDeleteActions(name, fields.indices.map { i =>
        old.select(fields(i).name).except(rows.select(fields(i).name))
          .select(fields.indices.map(j =>
            if (j == i) col(fields(j).name)
            else lit(null).cast(fields(j).dataType).as(fields(j).name)): _*)
      }.reduce(_ union _))
    }
    overwrite(name, rows, spark.emptyDataFrame)
  }

  // ---------------------------------------- incremental matviews
  // Aggregate matviews over one base table, kept fresh by folding ONLY
  // batches appended since the last refresh — O(delta), not O(table).
  // At 100 TB a full re-aggregation per refresh is the difference
  // between rescanning the lake and scanning the day's partition. Only
  // algebraic aggregates participate (count/sum/min/max — each merges
  // batch-locally); avg = sum/count in a view over the matview. Each
  // matview's record holds its spec and the base batches its rows fold
  // (`seen`). Non-append history changes (UPDATE/DELETE rewrote batches)
  // remove a seen batch, and the refresh falls back to a full rebuild —
  // still correct, just not incremental.

  /** First-pass aggregate of raw rows (count counts, sum sums…).
    * COUNT(*) counts rows; COUNT(col) follows SQL and skips NULLs —
    * both merge by SUM, so the incremental fold is unchanged. */
  private def incAggExprs(aggs: Seq[(String, String, String)]): Seq[Column] =
    aggs.map {
      case ("count", c, alias) if c == "*" => count(lit(1)).as(alias)
      case ("count", c, alias) => count(col(c)).as(alias)
      case ("sum", c, alias) => sum(col(c)).as(alias)
      case ("min", c, alias) => min(col(c)).as(alias)
      case ("max", c, alias) => max(col(c)).as(alias)
      // COUNT(DISTINCT) is not algebraic — but its HLL sketch is: the
      // stored column is the binary sketch (mergeable state), deltas
      // union in, and readers take hll_sketch_estimate(alias). At 100 TB
      // this is the only way an incremental distinct count exists at all.
      case ("approx_distinct", c, alias) =>
        hll_sketch_agg(col(c)).as(alias)
      case (f, _, _) => throw new IllegalArgumentException(
        s"incremental matview: non-algebraic aggregate $f " +
          "(count/sum/min/max/approx_distinct merge; derive avg as " +
          "sum/count in a view)")
    }

  /** Merge-pass aggregate over already-aggregated rows: counts combine
    * by SUM, sketches by union, everything else by its own function. */
  private def incMergeExprs(aggs: Seq[(String, String, String)]): Seq[Column] =
    aggs.map {
      case ("count", _, alias) => sum(col(alias)).cast("long").as(alias)
      case ("sum", _, alias) => sum(col(alias)).as(alias)
      case ("min", _, alias) => min(col(alias)).as(alias)
      case ("max", _, alias) => max(col(alias)).as(alias)
      case ("approx_distinct", _, alias) =>
        hll_union_agg(col(alias)).as(alias)
      case (f, _, _) => throw new IllegalArgumentException(f)
    }

  private def incAggregate(df: DataFrame, keys: Seq[String],
                           aggs: Seq[(String, String, String)]): DataFrame = {
    val es = incAggExprs(aggs)
    df.groupBy(keys.map(col): _*).agg(es.head, es.tail: _*)
  }

  /** Create an incremental aggregate matview. `aggs` = (func, column,
    * alias) with func one of count/sum/min/max (column ignored for
    * count). The initial build is a full aggregation; refreshes fold
    * only new batches. */
  def createIncrementalMatView(name: String, base: String,
      groupCols: Seq[String],
      aggs: Seq[(String, String, String)]): Unit = {
    state(base) // must exist
    incAggExprs(aggs) // validate funcs up front
    val batches = listBatches(base)
    val full = incAggregate(scanBatches(base, batches), groupCols, aggs)
    createTable(name, full.schema)
    insert(name, full)
    writeRecord(catalogFile("incview", name), IncViewRecord(base, groupCols,
      aggs, batches.map(_.getFileName.toString)))
  }

  /** Refresh by folding only appended batches; returns the mode taken:
    * "noop" (nothing new), "incremental(n)" (n new batches folded), or
    * "full" (history rewritten — rebuilt from scratch).
    *
    * History is intact while every seen batch is still live: appends add
    * batches, and [[compact]] / [[compactSmall]] refresh dependents before
    * they fold, then put the fold product in place of the folded batches
    * ([[foldSeen]]), so routine auto-compaction keeps refreshes O(delta).
    * A genuine rewrite (UPDATE/DELETE replaced batch dirs with changed
    * rows) removes a seen batch and forces the full rebuild.
    *
    * Both modes validate the new rows, then swap them in through the
    * staged [[overwrite]] ([[replaceRows]]): a refresh that fails its
    * checks leaves the matview's rows as they were. */
  def refreshIncrementalMatView(name: String): String = {
    val spec = readRecord[IncViewRecord](catalogFile("incview", name))
      .getOrElse(throw new IllegalArgumentException(
        s"no incremental matview $name"))
    val IncViewRecord(base, keys, aggs, seenList) = spec
    val seen = seenList.toSet
    val live = listBatches(base)
    // the matview keeps the column types it was created with (merging
    // partials widens a decimal sum by 10 digits per fold)
    def conformed(df: DataFrame): DataFrame = df.select(table(name).schema
      .fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val mode =
      if (!seen.subsetOf(live.map(_.getFileName.toString).toSet)) {
        // UPDATE/DELETE rewrote batch dirs under us (or a fold mixed
        // seen and unseen rows) — the stored partials no longer tile
        // the table; rebuild
        replaceRows(name,
          conformed(incAggregate(scanBatches(base, live), keys, aggs)))
        "full"
      } else {
        val deltaDirs = live.filterNot(p => seen(p.getFileName.toString))
        if (deltaDirs.isEmpty) "noop"
        else {
          val delta = incAggregate(scanBatches(base, deltaDirs), keys, aggs)
          val ms = incMergeExprs(aggs)
          replaceRows(name, conformed(table(name).union(delta)
            .groupBy(keys.map(col): _*).agg(ms.head, ms.tail: _*)))
          s"incremental(${deltaDirs.size})"
        }
      }
    writeRecord(catalogFile("incview", name),
      spec.copy(seen = live.map(_.getFileName.toString)))
    mode
  }

  /** SET TIMEZONE (reference node_set_timezone / session_tz): session-wide
    * zone applied to timestamp parsing, display and tz-aware compares. */
  def setTimezone(tz: String): Unit =
    spark.conf.set("spark.sql.session.timeZone", tz)

  /** EXPLAIN surface: formatted Catalyst physical plan for a query. */
  def explainPlan(query: String): String =
    sql(query).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** CREATE INDEX accepted as metadata-only (SURVEY §2.11: Spark has no
    * secondary indexes; scan pruning fills the role) — but it is not a
    * pure no-op either: the index IS the layout. Whenever an indexed
    * table's data is rewritten (compact / compactSmall), rows are
    * range-clustered and sorted on the indexed columns, so parquet
    * min/max column statistics let pushed equality/range predicates skip
    * whole row groups — the Spark-native index_scan. No separate index
    * structure exists to maintain or go stale. Recorded (survives
    * restarts) so maintenance keeps clustering long after CREATE. */
  def createIndex(index: String, table: String, columns: Seq[String]): Unit = {
    indexes(index) = IndexRecord(table, columns)
    writeRecord(catalogFile("index", index), indexes(index))
  }
  def dropIndex(index: String): Unit = {
    indexes.remove(index); dropRecord("index", index)
  }
  def listIndexes: Map[String, (String, Seq[String])] =
    indexes.map { case (ix, r) => ix -> (r.table, r.columns) }.toMap
  private val indexes = scala.collection.mutable.Map[String, IndexRecord]() ++
    catalog[IndexRecord]("index")

  /** Range-cluster + sort a frame on `name`'s indexed columns (identity
    * when no index covers the table). A COMPOSITE index over z-orderable
    * columns clusters on the Morton-interleaved value instead of
    * lexicographically — a lexicographic sort only lets parquet min/max
    * stats skip on the LEADING column, while the z-curve layout skips on
    * range predicates over EVERY indexed column (see [[graft.sources
    * .ZOrder]]; proven read-side in ZOrderSpec). */
  private def clusterByIndex(name: String, df: DataFrame): DataFrame =
    indexes.values.collectFirst {
      case IndexRecord(t, cols) if t == name && cols.forall(df.columns.contains) =>
        cols
    } match {
      case Some(cols)
          if cols.size >= 2 &&
            cols.forall(c => graft.sources.ZOrder.zOrderable(
              df.schema(c).dataType)) =>
        graft.sources.ZOrder.clusterByZOrder(df, cols,
          bits = math.min(16, 63 / cols.size))
      case Some(cols) =>
        df.repartitionByRange(cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
      case None => df
    }

  /** Databases accepted as namespaces (reference CREATE DATABASE +
    * db.table addressing everywhere, e.g. jsonbench's `bench.events`).
    * The session itself is single-namespace: a recorded database name is
    * a qualifier that [[sql]] strips from `db.table` references. */
  private val databases = scala.collection.mutable.Set[String]() ++
    catalog[DatabaseRecord]("database").map(_._2.name)

  /** `text` without the `db.` qualifier of any recorded database. Runs on
    * masked text, so a literal or comment naming `bench.events` stays as
    * written. */
  private def stripDbQualifiers(text: String): String =
    databases.foldLeft(text) { (q, db) =>
      ("(?i)\\b" + java.util.regex.Pattern.quote(db) + "\\.(?=\\w)").r
        .replaceAllIn(q, "")
    }

  /** Monotonic sequence (reference node_sequence): a recorded counter
    * with PG START/INCREMENT options (reference `CREATE SEQUENCE ... START
    * 10 INCREMENT 2`, test_sql_features.cpp DDL section). An unknown
    * sequence starts at 1. */
  def createSequence(name: String, start: Long = 1L,
                     increment: Long = 1L): Unit = {
    require(increment != 0, "sequence increment must be non-zero")
    writeRecord(catalogFile("sequence", name),
      SequenceRecord(start - increment, increment))
  }

  def dropSequence(name: String): Unit = dropRecord("sequence", name)

  def nextSequence(name: String): Long = {
    val f = catalogFile("sequence", name)
    val sq = readRecord[SequenceRecord](f).getOrElse(SequenceRecord(0L, 1L))
    val next = sq.last + sq.increment
    writeRecord(f, sq.copy(last = next))
    next
  }

  /** Replaces each `nextval('seq')` in a masked VALUES literal list with
    * the next sequence value, left to right: one call per occurrence, like
    * PG's per-row volatile evaluation over literal rows. */
  private def substituteNextval(m: Masked, values: String): String =
    nextvalRe.replaceAllIn(values, c =>
      scala.util.matching.Regex.quoteReplacement(m.literalOf(c.group(1))
        .filter(_.matches("\\w+")).fold(c.matched)(nextSequence(_).toString)))

  // ---------------------------------------------------------------- SQL

  /** SQL entry point: the statement takes the text pass ([[prepare]]),
    * then [[run]] registers the catalog tables and views it references as
    * temp views and hands it to Catalyst. */
  def sql(query: String, params: Seq[Any] = Nil): DataFrame =
    run(prepare(query, params).restored)

  /** The text pass every statement takes once, before any parse, on one
    * mask of its literals and comments ([[graft.functions.Jsonb.Masked]]):
    * db qualifiers stripped, `$n` bound and jsonb operators rewritten
    * ([[graft.functions.Jsonb.rewrite]]), comments blanked, macros
    * expanded. Literals stay masked, so [[execute]] routes and carves
    * without looking inside one; each carved piece is restored alone. */
  private def prepare(statement: String, params: Seq[Any] = Nil): Masked = {
    val m = new Masked(statement.trim)
    m.text = stripDbQualifiers(m.text)
    graft.functions.Jsonb.rewrite(m, params)
    m.blankComments()
    // a CREATE MACRO's own head is a definition, not a call site; its body
    // expands where it is called
    if (!macroRe.matches(m.text)) expandMacros(m)
    m
  }

  /** Runs a prepared query: parsed once, for both the registration of the
    * relations it reads and the route (a statement that does not parse
    * registers nothing; spark.sql reports the parse error). `WITH
    * RECURSIVE … UNION ALL` runs on Spark's own recursion, and only a
    * recursive member with UNION (dedup) semantics, which Spark rejects,
    * lowers to the driver loop ([[unionRecursion]]). */
  private def run(stmt: String): DataFrame = {
    val plan = parsed(stmt)
    plan.foreach(p => registerRelationsFor(relationsOf(p)))
    plan.flatMap(unionRecursion).getOrElse(spark.sql(stmt))
  }

  /** `WITH RECURSIVE name [(cols)] AS (seed UNION step)` (reference
    * transform_select.cpp:26-58; test_subqueries.cpp:1209): the recursive
    * form Spark refuses (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), lowered to
    * the driver-side dedup fixpoint ([[graft.operators.RecursiveCte]]),
    * which terminates on cycles. The parser gives the member as
    * `SubqueryAlias(name, [UnresolvedSubqueryColumnAliases(cols,]
    * Distinct(Union(seed…, step))))`. Each round binds `name` in the step
    * to the previous delta's plan — PG's working table. CTEs before the
    * member scope seed and step; the closure then replaces the member's
    * body in the WITH list, so later CTEs and the outer query read it and
    * it shadows a same-named table or view, as in PG. The column list
    * names the seed and every step output. None for every other
    * statement. */
  private def unionRecursion(plan: LogicalPlan): Option[DataFrame] = {
    val w = plan match {
      case w: UnresolvedWith if w.allowRecursion => w
      case _ => return None
    }
    val members = w.cteRelations.zipWithIndex.flatMap {
      case ((name, member, _), i) =>
        val (cols, body) = member.child match {
          case UnresolvedSubqueryColumnAliases(cs, b) => (Some(cs), b)
          case b => (None, b)
        }
        body match {
          case Distinct(u: Union)
              if relationsOf(u).contains(name.toLowerCase) =>
            Some((i, name, cols, u))
          case _ => None
        }
    }
    if (members.isEmpty) return None
    require(members.size == 1, "WITH RECURSIVE: at most one recursive CTE " +
      "per statement may use UNION (dedup) semantics (found: " +
      members.map(_._2).mkString(", ") + ")")
    val (i, name, cols, u) = members.head
    val leading = w.cteRelations.take(i)
    def frame(p: LogicalPlan): DataFrame = GraftSqlShim.ofRows(spark,
      if (leading.isEmpty) p else UnresolvedWith(p, leading, w.allowRecursion))
    val seedPlan = if (u.children.size == 2) u.children.head
      else u.copy(children = u.children.init)
    require(!relationsOf(seedPlan).contains(name.toLowerCase),
      s"WITH RECURSIVE: the seed of $name must not reference $name")
    val seed0 = frame(seedPlan)
    val seed = cols.fold(seed0)(cs => seed0.toDF(cs: _*))
    val closure = graft.operators.RecursiveCte.fixpoint(seed, d =>
      frame(bindRelation(u.children.last, name, d.queryExecution.analyzed))
        .toDF(seed.columns.toIndexedSeq: _*))
    Some(GraftSqlShim.ofRows(spark, w.copy(cteRelations = w.cteRelations
      .updated(i, w.cteRelations(i).copy(
        _2 = SubqueryAlias(name, closure.queryExecution.analyzed))))))
  }

  /** `p` with every reference to relation `name` replaced by `to`: in
    * subqueries and inside nested WITH bodies, which the subquery-aware
    * transforms do not descend into. */
  private def bindRelation(p: LogicalPlan, name: String,
                           to: LogicalPlan): LogicalPlan =
    p.transformDownWithSubqueries {
      case r: UnresolvedRelation
          if r.multipartIdentifier.map(_.toLowerCase) ==
            Seq(name.toLowerCase) => SubqueryAlias(name, to)
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, c, d) =>
          (n, bindRelation(c, name, to).asInstanceOf[SubqueryAlias], d)
      })
    }

  /** Registers ONLY the relations a statement references (transitively,
    * through stored view bodies) as temp views, fresh: each registration
    * lists the table's batches now. Registering the whole catalog per
    * statement is O(tables x batches) driver work — fine at 10 tables,
    * pathological at 1,000 (each registration lists the table's batch
    * dirs and builds its scan plan in [[table]]).
    * Names that resolve to neither a table nor a stored view (CTE
    * aliases, pre-existing temp views) are ignored. */
  private def registerRelationsFor(names: Set[String]): Unit = {
    discoverTables()
    // transitive closure: a referenced view pulls in its own references
    val needed = scala.collection.mutable.Set[String]()
    def visit(n: String): Unit = if (needed.add(n)) {
      if (!tables.keys.exists(_.equalsIgnoreCase(n)))
        views.collectFirst {
          case (v, body) if v.equalsIgnoreCase(n) => body
        }.foreach(body => referencedRelations(body)
          .getOrElse(Set.empty).foreach(visit))
    }
    names.foreach(visit)
    def hit(n: String) = needed.exists(_.equalsIgnoreCase(n))
    tables.keys.filter(hit).foreach(n => table(n).createOrReplaceTempView(n))
    registerViewsInDependencyOrder(views.toSeq.filter { case (n, _) =>
      hit(n) && !tables.contains(n) })
  }

  /** View bodies are analyzed eagerly at registration, so a view over
    * another view must register after its dependency. The order is
    * TOPOLOGICAL, computed from the parsed bodies ([[referencedRelations]]
    * already does the parse) — one pass, O(V+E), instead of the previous
    * O(V²) exception-driven retry. A registration that still fails did so
    * for a real (non-ordering) reason; every pending view is needed by the
    * statement, so the failure is rethrown annotated with the view's name,
    * and the user sees the body's actual analysis error instead of a
    * generic "table or view not found". */
  private def registerViewsInDependencyOrder(
      pending0: Seq[(String, String)]): Unit = {
    if (pending0.isEmpty) return
    val byName = pending0.map(p => p._1.toLowerCase -> p).toMap
    val done = scala.collection.mutable.Set[String]()
    val visiting = scala.collection.mutable.Set[String]()
    val order = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def visit(key: String): Unit =
      if (!done(key) && !visiting(key))
        byName.get(key).foreach { case (n, body) =>
          visiting += key
          referencedRelations(body).getOrElse(Set.empty)
            .map(_.toLowerCase).foreach(visit)
          visiting -= key
          done += key
          order += ((n, body))
        }
    byName.keys.toSeq.sorted.foreach(visit)
    order.foreach { case (n, body) =>
      try spark.sql(prepare(body).restored).createOrReplaceTempView(n)
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"view $n failed to register: ${e.getMessage}", e)
      }
    }
  }

  /** Statement router — the reference's `execute_sql` entry point
    * (integration/cpp/wrapper_dispatcher.cpp:91: parse → route DDL / DML /
    * query). The statement takes [[sql]]'s text pass ([[prepare]]) once;
    * DDL+DML forms are matched with small regexes on the still-masked text
    * and routed to the session APIs (so dynamic tables, constraints and
    * staged overwrites apply); everything else runs as a query ([[run]]).
    * DML clauses are carved on the masked text and each expression piece
    * becomes a Column through [[dmlExpr]]. Returns the affected/returned
    * rows (empty frame for DDL).
    * Supported DML/DDL surface: CREATE [DYNAMIC] TABLE (enum-typed columns
    * resolve via CREATE TYPE), DROP TABLE, CREATE/DROP TYPE ... AS ENUM,
    * CREATE TYPE ... AS (composite) → struct columns, CREATE SEQUENCE
    * [START n] [INCREMENT n] / DROP SEQUENCE (nextval('s') substitutes in
    * INSERT ... VALUES), CREATE [MATERIALIZED] VIEW / DROP VIEW,
    * CREATE/DROP DATABASE (db.table qualifiers accepted everywhere and
    * stripped — single-namespace session), CREATE/DROP INDEX
    * (metadata-only), ALTER TABLE ADD/DROP/RENAME COLUMN,
    * CHECKPOINT/VACUUM [table] → compact, TRUNCATE [TABLE] (schema and
    * constraints survive), SHOW TABLES / DESCRIBE (pg_class-style
    * introspection), WITH RECURSIVE (via [[run]]: UNION ALL on Spark's
    * own recursion, UNION on the driver fixpoint),
    * INSERT INTO ... VALUES / SELECT,
    * UPDATE ... SET ... [FROM src] [WHERE ...] [RETURNING ...],
    * DELETE FROM ... [USING src] [WHERE ...] [RETURNING ...],
    * MERGE INTO ... USING ... ON ... WHEN .... */
  def execute(statement: String, params: Seq[Any] = Nil): DataFrame = {
    // recorded-database qualifiers are stripped by the text pass, so
    // qualified names work in every clause (FROM/USING sources,
    // conditions, RETURNING lists) — the per-regex qualifier additionally
    // tolerates unrecorded ones in statement-head position
    val m = prepare(statement, params)
    def expr(piece: String): Column = dmlExpr(m.restore(piece.trim))
    def exprs(list: String): Seq[Column] = splitTopLevel(list).map(expr)
    def setList(sets: String): Map[String, Column] =
      splitTopLevel(sets).map { kv =>
        val Array(c, e) = kv.split("=", 2)
        c.trim -> expr(e)
      }.toMap
    def empty = spark.emptyDataFrame
    m.text match {
      case setTzRe(tz) => setTimezone(m.unquote(tz)); empty
      // catalog introspection (the reference's pg_class/pg_attribute
      // system-table surface — catalog_oids.hpp well-known OIDs —
      // exposed in the relkind vocabulary: r/g/v/m)
      case showTablesRe() =>
        discoverTables()
        val rels = tables.toSeq.map { case (n, st) =>
          (n, if (views.contains(n) || Files.exists(catalogFile("incview", n))) "m"
            else if (st.dynamic) "g" else "r")
        } ++ views.keys.filterNot(tables.contains).toSeq.map(v => (v, "v"))
        catalogDf(rels.sortBy(_._1), "relname", "relkind")
      case describeRe(tbl) if tables.contains(tbl) ||
          views.keys.exists(_.equalsIgnoreCase(tbl)) || {
            discoverTables(); tables.contains(tbl) } =>
        // views (relkind 'v') describe via their analyzed body schema;
        // tables/matviews via catalog metadata
        if (!tables.contains(tbl))
          catalogDf(sql(views.collectFirst {
            case (v, body) if v.equalsIgnoreCase(tbl) => body }.get)
            .schema.fields
            .map(f => (f.name, f.dataType.sql.toLowerCase)).toSeq,
            "column_name", "data_type")
        else {
          val st = state(tbl)
          catalogDf(st.schema.fields.filterNot(f => st.tombstones(f.name))
            .map(f => (f.name, f.dataType.sql.toLowerCase)).toSeq,
            "column_name", "data_type")
        }
      case txnRe() =>
        // MVCC/transactions are dropped by design (SURVEY §1.3): fail with
        // the documented reason instead of a Spark parse error
        throw new UnsupportedOperationException(
          "transactions are not supported: each DML statement is " +
            "individually atomic (staged directory swap); see README " +
            "'Known gaps'")
      case createDbRe(db) => createDatabase(db); empty
      case dropDbRe(db) => dropDatabase(db); empty
      case createIndexRe(index, tbl, cols) =>
        createIndex(index, tbl,
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq); empty
      case dropIndexRe(index) => dropIndex(index); empty
      case checkpointRe(tbl) =>
        Option(tbl).map(Seq(_)).getOrElse(tables.keys.toSeq)
          .foreach(compact); empty
      case truncateRe(tbl) => truncateTable(tbl); empty
      // EXPLAIN [ANALYZE|FORMATTED|EXTENDED] <query> — one text row per
      // plan line, consumable through the DB-API cursor. FORMATTED is the
      // default (physical plan + node details); ANALYZE executes and
      // reports observed metrics via Spark's cost mode.
      case explainRe(modeOrNull, body) =>
        val df = run(m.restore(body))
        val text = Option(modeOrNull).map(_.toUpperCase) match {
          case Some("EXTENDED") =>
            df.queryExecution.toString
          case Some("ANALYZE") =>
            df.collect() // execute so AQE finalizes the plan
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.CostMode)
          case _ =>
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
        }
        import spark.implicits._
        spark.createDataset(text.linesIterator.toSeq).toDF("plan")
      // COPY <table|(query)> TO '<path>' [(FORMAT parquet|csv|json|orc)]
      // — PG/DuckDB export idiom over Spark's native writers. A
      // distributed write (one file per partition), not a driver funnel;
      // COPY FROM reads with the target table's declared schema so
      // CSV/JSON round-trips don't depend on inference.
      case copyToRe(src, pathLit, fmtOrNull) =>
        val path = m.unquote(pathLit)
        val fmt = Option(fmtOrNull).map(m.unquote)
        val df = {
          val t = src.trim
          if (t.startsWith("(")) run(m.restore(t.substring(1, t.length - 1)))
          else table(t)
        }
        // write ONCE, then count the written output: a count() before
        // the write would execute the source twice (double scan) and
        // could disagree with the written data for a non-deterministic
        // query. Parquet answers the count from footer metadata alone;
        // formats without in-file stats re-read what was written.
        copyWrite(df, path, fmt)
        val n = fmt.map(_.toLowerCase).getOrElse("parquet") match {
          case "parquet" => parquetFooterRowCount(path)
          case _ => copyRead(path, fmt, Some(df.schema)).count()
        }
        catalogDf(Seq((path, n.toString)), "path", "rows")
      case copyFromRe(tbl, pathLit, fmtOrNull) =>
        val declared = state(tbl).schema
        val df = copyRead(m.unquote(pathLit), Option(fmtOrNull).map(m.unquote),
          if (declared.fields.nonEmpty) Some(declared) else None)
        insert(tbl, df)
        empty
      case alterAddRe(tbl, column, tpe) =>
        addColumn(tbl, column,
          org.apache.spark.sql.types.DataType.fromDDL(tpe)); empty
      case alterDropRe(tbl, column) => dropColumn(tbl, column); empty
      case alterRenameRe(tbl, from, to) => renameColumn(tbl, from, to); empty
      case createSeqRe(name, start, inc) =>
        createSequence(name,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(inc).map(_.toLong).getOrElse(1L)); empty
      case dropSeqRe(name) => dropSequence(name); empty
      // CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      //   SELECT k, count(*) AS n, sum(c) AS s FROM base GROUP BY k
      // — select list restricted to bare group columns + algebraic
      // aggregates with mandatory aliases (the merge needs stable names)
      case createIncMvRe(name, selectList, base, groupList) =>
        val (keys, aggs) = splitTopLevel(selectList).map(_.trim).foldLeft(
          (Seq.empty[String], Seq.empty[(String, String, String)])) {
          case ((ks, as), incAggRe(f, c, alias)) =>
            (ks, as :+ (f.toLowerCase, c, alias))
          case ((ks, as), incColRe(k)) => (ks :+ k, as)
          case (_, item) => throw new IllegalArgumentException(
            "INCREMENTAL MATERIALIZED VIEW select items must be bare " +
              "group columns or count/sum/min/max/approx_distinct(...) " +
              s"AS alias — got: ${m.restore(item)}")
        }
        // group keys come from the bare select columns; a GROUP BY list
        // that differs must error, not silently compute another
        // grouping. Grouping is order-insensitive, so compare as sets —
        // `SELECT a, b ... GROUP BY b, a` is the same view.
        val declared = splitTopLevel(groupList).map(g => m.restore(g.trim))
        require(declared.map(_.toLowerCase).toSet ==
            keys.map(_.toLowerCase).toSet,
          "INCREMENTAL MATERIALIZED VIEW: GROUP BY list " +
            s"(${declared.mkString(", ")}) must equal the bare select " +
            s"columns (${keys.mkString(", ")})")
        createIncrementalMatView(name, base, keys, aggs)
        empty
      case createMatViewRe(name, body) =>
        createMatView(name, m.restore(body)); empty
      case createViewRe(name, body) => createView(name, m.restore(body)); empty
      case dropViewRe(name) => dropView(name); empty
      case macroRe(name, ps, body) =>
        createMacro(name,
          ps.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          m.restore(body)); empty
      case createDynRe(name) => createDynamicTable(name); empty
      // CTAS (reference T_CreateTableAsStmt): schema from the analyzed
      // query, rows through the catalog insert path
      case ctasRe(name, body0) =>
        val b = body0.trim
        val body = if (b.startsWith("(") && b.endsWith(")"))
          b.substring(1, b.length - 1) else b
        val df = run(m.restore(body))
        createTable(name, df.schema)
        insert(name, df)
        empty
      case refreshMvRe(name) => refreshMatView(name); empty
      // no column list OR an empty one — the reference's
      // `CREATE TABLE db.t();` idiom — declares a DYNAMIC table
      case createTableRe(name, colsDdl)
          if colsDdl == null || colsDdl.trim.isEmpty =>
        createDynamicTable(name); empty
      case createTableRe(name, colsDdl) =>
        val (schema, enumChecks) =
          resolveEnumDdl(splitTopLevel(colsDdl).map(m.restore))
        createTable(name, schema)
        enumChecks.foreach { case (cn, ce) => addCheckConstraint(name, cn, ce) }
        empty
      case dropRe(name) => dropTable(name); empty
      case insertValuesRe(name, colsOrNull, values) =>
        // PG-style INSERT without a column list: positional against the
        // table's declared column order (dynamic tables with no schema yet
        // have no positional meaning — require the explicit list there)
        val cols = Option(colsOrNull).getOrElse {
          val declared = state(name).schema.fieldNames
          require(declared.nonEmpty,
            s"INSERT INTO $name VALUES without a column list needs a " +
              "declared schema; name the columns")
          declared.mkString(", ")
        }
        insert(name, spark.sql("SELECT * FROM VALUES " +
          s"${m.restore(substituteNextval(m, values))} AS _ins($cols)"))
        empty
      case insertSelectRe(name, select) =>
        insert(name, run(m.restore(select))); empty
      case createTypeRe(name, values) =>
        // '' inside a quoted value is an escaped quote — store unescaped,
        // the CHECK generator re-escapes exactly once
        createEnumType(name, splitTopLevel(values).map(m.unquote))
        empty
      // composite AFTER enum: the ENUM pattern is strictly more specific
      case createCompositeRe(name, fields) =>
        createCompositeType(name, m.restore(fields)); empty
      case dropTypeRe(name) => dropEnumType(name); empty
      case updateRe(name, rest) =>
        // UPDATE t SET ... [FROM src [alias]] [WHERE cond] [RETURNING list]
        val (beforeRet, retList) = splitAtTopLevelKeyword(rest, "RETURNING")
        val (beforeWhere, cond) = splitAtTopLevelKeyword(beforeRet, "WHERE")
        val (sets, fromSrc) = splitAtTopLevelKeyword(beforeWhere, "FROM")
        val setMap = setList(sets)
        val where = cond.map(expr).getOrElse(lit(true))
        val result = fromSrc match {
          case Some(src) =>
            // a one-arm MERGE; RETURNING may reference the FROM source's
            // columns (legal in PG), which the core's affected rows then
            // carry — without RETURNING the statement yields the
            // post-update target rows only
            mergeRows(name, parseTableRef(src), where, Seq(
              MergeWhen(true, None, MergeUpdate(setMap))),
              name, carrySource = retList.isDefined).drop("merge_action")
          case None => update(name, setMap, where)
        }
        retList.map(l => result.as(name).select(exprs(l): _*)).getOrElse(result)
      case mergeRe(name, aliasOrNull, rest) =>
        // MERGE INTO t [AS a] USING src [AS s] ON cond WHEN ... [WHEN ...]
        val (srcSpec, afterOn) = splitAtTopLevelKeyword(rest, "ON")
        require(afterOn.isDefined, "MERGE: missing ON <join condition>")
        val (onCond, whenText) = splitAtTopLevelKeyword(afterOn.get, "WHEN")
        require(whenText.isDefined, "MERGE: missing WHEN clause(s)")
        val srcDf = {
          val t0 = srcSpec.trim
          if (t0.startsWith("(")) {
            // (SELECT ...) [AS] alias — subquery source
            val close = t0.lastIndexOf(')')
            val aliasToks = t0.substring(close + 1).trim.split("\\s+")
              .filterNot(t => t.isEmpty || t.equalsIgnoreCase("AS"))
            require(aliasToks.nonEmpty, "MERGE: subquery source needs an alias")
            run(m.restore(t0.substring(1, close))).as(aliasToks(0))
          } else parseTableRef(t0)
        }
        def splitWhens(s: String): Seq[String] =
          splitAtTopLevelKeyword(s, "WHEN") match {
            case (head, Some(tail)) => head +: splitWhens(tail)
            case (head, None) => Seq(head)
          }
        val whens = splitWhens(whenText.get).map { clause =>
          val (condPart, thenPart) = splitAtTopLevelKeyword(clause, "THEN")
          require(thenPart.isDefined,
            s"MERGE: WHEN without THEN: ${m.restore(clause)}")
          val (matchWord, predText) = splitAtTopLevelKeyword(condPart, "AND")
          val isMatched = matchWord.trim match {
            case w if w.matches("(?i)MATCHED") => true
            case w if w.matches("(?i)NOT\\s+MATCHED") => false
            case w => throw new IllegalArgumentException(
              s"MERGE: expected [NOT] MATCHED, got '${m.restore(w)}'")
          }
          val action = thenPart.get.trim match {
            case mergeUpdateRe(sets) => MergeUpdate(setList(sets))
            case mergeDeleteRe() => MergeDelete
            case mergeNothingRe() => MergeNothing
            case mergeInsertRe(colsOrNull, values) =>
              MergeInsert(
                Option(colsOrNull).map(_.split(",").map(_.trim)
                  .filter(_.nonEmpty).toSeq).getOrElse(Nil),
                exprs(values))
            case a => throw new IllegalArgumentException(
              s"MERGE: unsupported action '${m.restore(a)}' (UPDATE SET / " +
                "DELETE / INSERT ... VALUES / DO NOTHING)")
          }
          MergeWhen(isMatched, predText.map(expr), action)
        }
        merge(name, srcDf, expr(onCond), whens, Option(aliasOrNull))
      case deleteRe(name, rest) =>
        // DELETE FROM t [USING src [alias]] [WHERE cond] [RETURNING list]
        val (beforeRet, retList) = splitAtTopLevelKeyword(rest, "RETURNING")
        val (beforeWhere, cond) = splitAtTopLevelKeyword(beforeRet, "WHERE")
        val (_, usingSrc) = splitAtTopLevelKeyword(beforeWhere, "USING")
        val where = cond.map(expr).getOrElse(lit(true))
        usingSrc match {
          case Some(src) =>
            val srcDf = parseTableRef(src)
            val result = deleteUsing(name, srcDf, where)
            retList.map(l => applyReturningUsing(name, result, srcDf, where,
              exprs(l))).getOrElse(result)
          case None =>
            val result = delete(name, where)
            retList.map(l => result.select(exprs(l): _*)).getOrElse(result)
        }
      case _ => run(m.restored)
    }
  }

  /** One expression piece of a DML statement (a SET value, a WHERE / ON /
    * WHEN condition, an INSERT value or a RETURNING item), carved from
    * prepared text and restored: parsed by Spark's expression parser, and
    * the relations its subqueries read are registered fresh, as [[run]]
    * registers a query's, so a subquery sees the tables as they are now.
    * A piece without a subquery registers nothing. The returned Column
    * holds the text, which Spark parses again when the plan is built. */
  private def dmlExpr(piece: String): Column = {
    val read = spark.sessionState.sqlParser.parseExpression(piece)
      .collect { case s: SubqueryExpression => relationsOf(s.plan) }.flatten
    if (read.nonEmpty) registerRelationsFor(read.toSet)
    org.apache.spark.sql.functions.expr(piece)
  }

  /** SQL macro (reference CREATE FUNCTION → pg_rewrite macro, expanded at
    * plan time — transform_macro.cpp): body is substituted textually at
    * call sites before Catalyst parses. Recorded like views. */
  def createMacro(name: String, params: Seq[String], body: String): Unit = {
    macros(name) = MacroRecord(params, body)
    writeRecord(catalogFile("macro", name), macros(name))
  }
  private val macros = scala.collection.mutable.Map[String, MacroRecord]() ++
    catalog[MacroRecord]("macro")

  /** Expands macro call sites `name(arg1, arg2)` in masked text, leftmost
    * first, so a macro spelling inside a literal or a comment stays data.
    * A call site is the name at a word start followed by `(` (net_price(…)
    * does not call price); its args end at the matching paren and bind
    * every parameter in one pass over the body. An expansion may call
    * macros itself; a recursive one stops when `steps` run out. */
  @scala.annotation.tailrec
  private def expandMacros(m: Masked, steps: Int = 1000): Unit =
    if (macros.nonEmpty && steps > 0) {
      import java.util.regex.Pattern.quote
      val (t, d) = (m.text, parenDepths(m.text))
      val call = ("(?<!\\w)(" + macros.keys.map(quote).mkString("|") + ")\\(").r
      call.findAllMatchIn(t).flatMap(c => (c.end until t.length)
          .find(i => d(i + 1) == d(c.end - 1)).map(c -> _)).nextOption() match {
        case Some((c, close)) =>
          val MacroRecord(params, body) = macros(c.group(1))
          val args = params.zip(splitTopLevel(t.substring(c.end, close))
            .map(_.trim)).toMap
          val bound = if (args.isEmpty) m.mask(body)
            else ("\\b(" + args.keys.map(quote).mkString("|") + ")\\b").r
              .replaceAllIn(m.mask(body), p =>
                scala.util.matching.Regex.quoteReplacement(s"(${args(p.group(1))})"))
          m.text = t.substring(0, c.start) + s"($bound)" + t.substring(close + 1)
          expandMacros(m, steps - 1)
        case None =>
      }
    }

  /** Paren depth of masked text before each of its characters (and after
    * the last). Literals are masked and comments are spaces, so every
    * paren counted is the statement's own. */
  private def parenDepths(s: String): IndexedSeq[Int] =
    s.scanLeft(0)((d, c) => if (c == '(') d + 1 else if (c == ')') d - 1 else d)

  /** Finds the first occurrence of keyword `kw` outside parens in masked
    * text, returning (before, Some(after)) or (all, None). Carves DML
    * statements into SET / FROM / USING / WHERE / RETURNING / ON / WHEN /
    * THEN / AND parts without a full SQL parser. */
  private def splitAtTopLevelKeyword(s: String, kw: String): (String, Option[String]) = {
    val (d, k) = (parenDepths(s), kw.length)
    def gap(j: Int) = j < 0 || j >= s.length || s(j).isWhitespace
    s.indices.find(i => d(i) == 0 && s.regionMatches(true, i, kw, 0, k) &&
        gap(i - 1) && (gap(i + k) || s(i + k) == '(')) match {
      case Some(i) => (s.substring(0, i).trim, Some(s.substring(i + k).trim))
      case None => (s.trim, None)
    }
  }

  /** `tbl [AS] [alias]` source spec of UPDATE…FROM / DELETE…USING. */
  private def parseTableRef(spec: String): DataFrame = {
    val toks = spec.trim.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
    val df = table(toks(0))
    if (toks.length > 1) df.as(toks(1)) else df.as(toks(0))
  }

  /** DELETE … USING … RETURNING: the deleted-row snapshot carries only the
    * target's columns; if the list references the USING source (legal in
    * PG), re-join the snapshot against the source on the same condition —
    * one output row per deleted row (an arbitrary match when several
    * source rows match, same as PG). */
  private def applyReturningUsing(name: String, deleted: DataFrame,
      src: DataFrame, cond: Column, list: Seq[Column]): DataFrame =
    try deleted.as(name).select(list: _*)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      // rid is deterministic here: the deleted snapshot is a stable scan
      // of the statement's _returning_* dir
      deleted
        .withColumn("__graft_rid", monotonically_increasing_id()).as(name)
        .join(src, cond).dropDuplicates("__graft_rid")
        .drop("__graft_rid")
        .select(list: _*)
    }

  /** Splits a masked list on commas outside parens, so
    * `a = greatest(x, y), b = ','` splits in two. */
  private def splitTopLevel(s: String): Seq[String] = {
    val d = parenDepths(s)
    val cuts = s.indices.filter(i => s(i) == ',' && d(i) == 0)
    val pieces = (-1 +: cuts).zip(cuts :+ s.length)
      .map { case (a, b) => s.substring(a + 1, b) }
    pieces.init ++ pieces.lastOption.filter(_.nonEmpty)
  }

  /** UDF registration surface (reference register_udf /
    * operator_register_udf): thin naming shim over spark.udf. */
  def registerUdf[A, B](name: String, f: A => B)(
      implicit ta: reflect.runtime.universe.TypeTag[B],
      tb: reflect.runtime.universe.TypeTag[A]): Unit =
    spark.udf.register(name, f)

  /** UDAF registration (reference aggregate_function kernels /
    * register_udf aggregate path): a typed Aggregator exposed to SQL. */
  def registerUdaf[I, B, O](name: String,
      agg: org.apache.spark.sql.expressions.Aggregator[I, B, O])(
      implicit enc: org.apache.spark.sql.Encoder[I]): Unit =
    spark.udf.register(name,
      org.apache.spark.sql.functions.udaf(agg, enc))

  // ------------------------------------------------------------- plumbing

  /** Loads metadata for any on-disk table this session hasn't touched yet
    * (fresh-session catalog recovery — pg_class scan analogue). */
  private def discoverTables(): Unit = {
    children(rootPath)
      .filter(p => Files.exists(p.resolve(TableRecordFile)))
      .map(_.getFileName.toString)
      .filterNot(tables.contains)
      .foreach(loadMeta)
  }

  private def state(name: String): TableState =
    tables.getOrElse(name, loadMeta(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name")))

  private def tableDir(name: String): Path =
    rootPath.resolve(name.replace('.', '/'))
  private def dataDir(name: String): Path = tableDir(name).resolve("data")

  /** The table's `batch_*` dirs, oldest first. Every call also evicts the
    * memoized schemas of this table's dirs that are gone. */
  private def listBatches(name: String): Seq[Path] = {
    val listed = children(dataDir(name))
      .filter(p => p.getFileName.toString.startsWith("batch_")).sortBy(_.toString)
    forgetBatches(name, listed.toSet)
    listed
  }

  /** The entries of `dir`; the directory stream is closed before this
    * returns (an unclosed `Files.list` holds a file descriptor until GC,
    * which a long-lived session's per-statement listings outrun). */
  private def children(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator.asScala.toVector)

  /** Monotonic per-table batch-directory counter (survives restarts via
    * the _generation file; never reset while the table exists, so its dir
    * names are never reused — DROP TABLE deletes it, and a re-created
    * table starts again at `batch_00000000`). */
  private def bumpGeneration(name: String): Long = {
    val next = peekGeneration(name)
    Files.createDirectories(tableDir(name))
    Files.writeString(tableDir(name).resolve("_generation"), next.toString)
    next
  }

  /** The generation the NEXT batch will get (no bump). */
  private def peekGeneration(name: String): Long = {
    val f = tableDir(name).resolve("_generation")
    (if (Files.exists(f)) Files.readString(f).trim.toLong else -1L) + 1
  }

  private def persistMeta(name: String): Unit = {
    val st = tables(name)
    writeRecord(tableDir(name).resolve(TableRecordFile), TableRecord(
      if (st.dynamic) "g" else "r", RecordJson.readTree(st.schema.json),
      st.tombstones, st.renames, st.checks, st.fks))
  }

  private def loadMeta(name: String): Option[TableState] =
    readRecord[TableRecord](tableDir(name).resolve(TableRecordFile)).map { r =>
      val st = TableState(r.kind == "g",
        DataType.fromJson(r.schema.toString).asInstanceOf[StructType],
        r.tombstones, r.renames, r.checks, r.fks)
      tables(name) = st
      st
    }

  /** Two-string-column local frame for catalog introspection results. */
  private def catalogDf(rows: Seq[(String, String)], c1: String,
                        c2: String): DataFrame = {
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach { case (a, b) =>
      jrows.add(org.apache.spark.sql.Row(a, b)) }
    spark.createDataFrame(jrows, StructType(Seq(
      StructField(c1, StringType), StructField(c2, StringType))))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator.asScala.toVector)
        .reverse.foreach(Files.delete)
}

object GraftSession {
  def apply(spark: SparkSession, root: String): GraftSession =
    new GraftSession(spark, root)

  /** Marker message of the fused one-source-row guard of MERGE and
    * UPDATE…FROM (PG: "MERGE command cannot affect row a second time");
    * also the needle used to recognize it inside SparkException cause
    * chains. */
  private[api] val MultiSourceMsg =
    "a target row is affected by multiple source rows"

  private[api] def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq

  // ---- catalog records: one JSON file per durable object ----

  private val RecordJson = com.fasterxml.jackson.databind.json.JsonMapper
    .builder().addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .build()

  /** Writes `record` as JSON to `file`: to a temp file beside it, then an
    * atomic move over it, so a reader sees the old record or the new one,
    * never a torn one. */
  private[api] def writeRecord(file: Path, record: AnyRef): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(
      s".${file.getFileName}.${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, RecordJson.writeValueAsBytes(record))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The record in `file`, or None when there is none. */
  private[api] def readRecord[T](file: Path)(
      implicit t: scala.reflect.ClassTag[T]): Option[T] =
    try Some(RecordJson.readValue(file.toFile,
      t.runtimeClass.asInstanceOf[Class[T]]))
    catch { case _: java.io.FileNotFoundException => None }

  private val TableRecordFile = "_table.json"

  /** A table: kind `r` (fixed schema) or `g` (dynamic), the union schema
    * as Spark's `StructType.json`, tombstoned columns, renames by visible
    * name, CHECKs and FKs. */
  private[api] final case class TableRecord(kind: String,
    schema: com.fasterxml.jackson.databind.JsonNode, tombstones: Set[String],
    renames: Map[String, Rename], checks: Seq[Check], fks: Seq[Fk])
  /** A renamed column's old physical name and the first batch generation
    * written with the new one. */
  private[api] final case class Rename(from: String, generation: Long)
  private[api] final case class Check(name: String, expr: String)
  /** `onDelete` is restrict, cascade or setnull. */
  private[api] final case class Fk(column: String, parent: String,
    parentCol: String, onDelete: String)
  /** A view's or plain matview's body. */
  private[api] final case class ViewRecord(body: String)
  /** An incremental matview: its spec and the `batch_*` dirs of `base`
    * whose rows its stored partials fold. */
  private[api] final case class IncViewRecord(base: String, keys: Seq[String],
    aggs: Seq[(String, String, String)], seen: Seq[String])
  private[api] final case class EnumRecord(values: Seq[String])
  private[api] final case class CompositeRecord(fields: String)
  private[api] final case class MacroRecord(params: Seq[String], body: String)
  private[api] final case class IndexRecord(table: String, columns: Seq[String])
  /** `last` is the value nextval returned last (start − increment before
    * the first call). */
  private[api] final case class SequenceRecord(last: Long, increment: Long)
  private[api] final case class DatabaseRecord(name: String)

  // ---- the statement patterns execute() matches on prepared text ----

  // optional db qualifier on object names, accepted and dropped
  private val Q = """(?:\w+\.)?"""
  private val createTableRe =
    ("""(?is)^CREATE\s+TABLE\s+""" + Q + """(\w+)\s*(?:\((.*)\))?\s*;?$""").r
  private val ctasRe =
    ("""(?is)^CREATE\s+TABLE\s+""" + Q + """(\w+)\s+AS\s+(\(?\s*SELECT\s+.*?)\s*;?$""").r
  private val refreshMvRe =
    ("""(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+""" + Q + """(\w+)\s*;?$""").r
  private val createDynRe =
    ("""(?is)^CREATE\s+DYNAMIC\s+TABLE\s+""" + Q + """(\w+)\s*;?$""").r
  private val dropRe = ("""(?is)^DROP\s+TABLE\s+""" + Q + """(\w+)\s*;?$""").r
  private val insertValuesRe =
    ("""(?is)^INSERT\s+INTO\s+""" + Q + """(\w+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.*?);?$""").r
  private val insertSelectRe =
    ("""(?is)^INSERT\s+INTO\s+""" + Q + """(\w+)\s+(SELECT\s+.*?);?$""").r
  private val updateRe =
    ("""(?is)^UPDATE\s+""" + Q + """(\w+)\s+SET\s+(.*?)\s*;?$""").r
  private val mergeRe =
    ("""(?is)^MERGE\s+INTO\s+""" + Q + """(\w+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+(.+?)\s*;?$""").r
  private val deleteRe =
    ("""(?is)^DELETE\s+FROM\s+""" + Q + """(\w+)\s*(.*?)\s*;?$""").r
  private val createTypeRe =
    ("""(?is)^CREATE\s+TYPE\s+""" + Q + """(\w+)\s+AS\s+ENUM\s*\(([^)]*)\)\s*;?$""").r
  private val createCompositeRe =
    ("""(?is)^CREATE\s+TYPE\s+""" + Q + """(\w+)\s+AS\s*\(([^)]*)\)\s*;?$""").r
  private val dropTypeRe = ("""(?is)^DROP\s+TYPE\s+""" + Q + """(\w+)\s*;?$""").r
  private val macroRe =
    ("""(?is)^CREATE\s+(?:MACRO|FUNCTION)\s+""" + Q + """(\w+)\s*\(([^)]*)\)\s*(?:AS|RETURN)\s+(.*?);?$""").r
  private val setTzRe =
    """(?is)^SET\s+TIME\s*ZONE\s+(?:TO\s+)?([^\s;]+)\s*;?$""".r
  private val showTablesRe = """(?is)^SHOW\s+TABLES\s*;?$""".r
  private val truncateRe =
    ("""(?is)^TRUNCATE\s+(?:TABLE\s+)?""" + Q + """(\w+)\s*;?$""").r
  private val describeRe =
    ("""(?is)^DESC(?:RIBE)?\s+(?:TABLE\s+)?""" + Q + """(\w+)\s*;?$""").r
  private val createSeqRe =
    ("""(?is)^CREATE\s+SEQUENCE\s+""" + Q + """(\w+)(?:\s+START\s+(?:WITH\s+)?(-?\d+))?(?:\s+INCREMENT\s+(?:BY\s+)?(-?\d+))?\s*;?$""").r
  private val dropSeqRe = ("""(?is)^DROP\s+SEQUENCE\s+""" + Q + """(\w+)\s*;?$""").r
  private val createIncMvRe =
    ("""(?is)^CREATE\s+INCREMENTAL\s+MATERIALIZED\s+VIEW\s+""" + Q + """(\w+)\s+AS\s+SELECT\s+(.*?)\s+FROM\s+""" + Q + """(\w+)\s+GROUP\s+BY\s+(.*?)\s*;?$""").r
  private val createMatViewRe =
    ("""(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+""" + Q + """(\w+)\s+AS\s+(.*?);?$""").r
  private val createViewRe =
    ("""(?is)^CREATE\s+VIEW\s+""" + Q + """(\w+)\s+AS\s+(.*?);?$""").r
  private val dropViewRe = ("""(?is)^DROP\s+VIEW\s+""" + Q + """(\w+)\s*;?$""").r
  private val createDbRe = """(?is)^CREATE\s+DATABASE\s+(\w+)\s*;?$""".r
  private val dropDbRe = """(?is)^DROP\s+DATABASE\s+(\w+)\s*;?$""".r
  private val createIndexRe =
    ("""(?is)^CREATE\s+INDEX\s+(\w+)\s+ON\s+""" + Q + """(\w+)\s*\(([^)]*)\)\s*;?$""").r
  private val dropIndexRe = """(?is)^DROP\s+INDEX\s+(\w+)\s*;?$""".r
  private val checkpointRe =
    ("""(?is)^(?:CHECKPOINT|VACUUM)(?:\s+""" + Q + """(\w+))?\s*;?$""").r
  private val explainRe =
    """(?is)^EXPLAIN\s+(?:(ANALYZE|FORMATTED|EXTENDED)\s+)?(SELECT\s+.*|WITH\s+.*)\s*;?$""".r
  // a path or format is a literal, which the masked text holds as one
  // placeholder token
  private val copyToRe =
    ("""(?is)^COPY\s+(\(.+\)|""" + Q + """\w+)\s+TO\s+([^\s;]+)\s*(?:(?:WITH\s*)?\(\s*FORMAT\s+([^\s)]+)\s*\))?\s*;?$""").r
  private val copyFromRe =
    ("""(?is)^COPY\s+""" + Q + """(\w+)\s+FROM\s+([^\s;]+)\s*(?:(?:WITH\s*)?\(\s*FORMAT\s+([^\s)]+)\s*\))?\s*;?$""").r
  private val alterAddRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Q + """(\w+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+([\w()<>, ]+?)\s*;?$""").r
  private val alterDropRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Q + """(\w+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*;?$""").r
  private val alterRenameRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Q + """(\w+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?$""").r
  private val txnRe = """(?is)^(?:BEGIN|COMMIT|ROLLBACK|ABORT)\b.*""".r
  private val incAggRe =
    """(?i)^(count|sum|min|max|approx_distinct)\s*\(\s*(\*|\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val incColRe = """^(\w+)$""".r
  private val mergeUpdateRe = """(?is)^UPDATE\s+SET\s+(.*)$""".r
  private val mergeDeleteRe = """(?is)^DELETE$""".r
  private val mergeNothingRe = """(?is)^DO\s+NOTHING$""".r
  private val mergeInsertRe =
    """(?is)^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)$""".r
  private val nextvalRe = """(?i)\bnextval\(([^()]*)\)""".r

  // ---- MERGE WHEN-clause model (SQL:2003 / PG 15 MERGE) ----
  sealed trait MergeAction
  /** WHEN [NOT] MATCHED ... THEN UPDATE SET col = expr, ... */
  final case class MergeUpdate(set: Map[String, Column]) extends MergeAction
  /** WHEN MATCHED ... THEN DELETE */
  case object MergeDelete extends MergeAction
  /** WHEN NOT MATCHED ... THEN INSERT [(cols)] VALUES (exprs); empty
    * `cols` = positional against the target's declared column order. */
  final case class MergeInsert(cols: Seq[String], values: Seq[Column])
    extends MergeAction
  /** WHEN ... THEN DO NOTHING */
  case object MergeNothing extends MergeAction

  /** One WHEN arm: `matched` selects the join side, `pred` is the
    * optional AND condition, arms evaluate in statement order
    * (first applicable wins, like a chained CASE). */
  final case class MergeWhen(matched: Boolean, pred: Option[Column],
                             action: MergeAction)
}
