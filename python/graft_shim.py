"""Python DataFrame / DB-API-ish shim over the graft Scala library.

Mirrors the reference's Python surface (otterbrix pyconnection:
/root/reference/integration/python/pyconnection/initialize.cpp, tests at
integration/python/tests/fast/dataframe/) — Connection.from_df,
Relation.filter/join/group/fetchall, ColumnExpression / ConstantExpression /
CountExpression — on top of PySpark, with the Scala session layer
(graft.api.GraftSession) reachable through the same JVM via py4j for the
SQL/catalog surface (execute, dynamic tables, constraints).

Usage requires the compiled classes on the driver classpath:

    GRAFT_CLASSES=/root/repo/target/scala-2.13/classes python3 -m pytest \
        python/test_graft_python.py

The shim is OPTIONAL integration glue, like the reference's
integration/python tree: the sbt build does not depend on it.
"""
import os
import uuid

from pyspark.sql import SparkSession, functions as F
from pyspark.sql import DataFrame as SparkDataFrame


class ColumnExpression:
    """Column reference; optional `side` qualifies a join input
    ("left"/"right"), matching the reference's join tests."""

    def __init__(self, name, conn=None, side=None):
        self.name = name
        self.side = side

    def col(self):
        return F.col(f"{self.side}.{self.name}" if self.side else self.name)

    def __eq__(self, other):  # noqa: E721 — expression DSL, not identity
        return self.col() == _as_col(other)

    def __gt__(self, other):
        return self.col() > _as_col(other)

    def __lt__(self, other):
        return self.col() < _as_col(other)

    def avg(self):
        return AggExpression(F.avg(self.col()).cast("double"),
                             f"avg({self.name})")


class ConstantExpression:
    def __init__(self, value, conn=None):
        self.value = value


class CountExpression:
    """COUNT(*) aggregate."""

    def __init__(self, conn=None):
        self.agg = AggExpression(F.count(F.lit(1)), "count")


class AggExpression:
    def __init__(self, column, label):
        self.column = column.alias(label)
        self.label = label


def _as_col(e):
    if isinstance(e, ColumnExpression):
        return e.col()
    if isinstance(e, ConstantExpression):
        return F.lit(e.value)
    return F.lit(e)


class Relation:
    """Lazy relation + cursor surface (reference cursor.hpp fetchall)."""

    def __init__(self, df: SparkDataFrame):
        self.df = df

    def filter(self, cond):
        return Relation(self.df.filter(cond))

    def join(self, right, cond, how="inner"):
        return Relation(self.df.alias("left")
                        .join(right.df.alias("right"), cond, how))

    def group(self, *exprs):
        keys = [e for e in exprs if isinstance(e, ColumnExpression)]
        aggs = [e.agg if isinstance(e, CountExpression) else e
                for e in exprs
                if isinstance(e, (AggExpression, CountExpression))]
        agg_cols = [a.column for a in aggs]
        if keys:
            grouped = self.df.groupBy(*[k.col() for k in keys])
        else:
            grouped = self.df.groupBy()
        return Relation(grouped.agg(*agg_cols))

    def limit(self, n):
        return Relation(self.df.limit(n))

    def sort(self, *exprs):
        return Relation(self.df.orderBy(*[e.col() for e in exprs]))

    def map_in_pandas(self, func, schema):
        """Arrow-batched per-partition transform (the reference's
        multimodal decode/feature-extract shape: binary columns in,
        typed features out, executed as pandas batches)."""
        return Relation(self.df.mapInPandas(func, schema))

    def select(self, *exprs):
        return Relation(self.df.select(*[e.col() for e in exprs]))

    @property
    def columns(self):
        return list(self.df.columns)

    @property
    def types(self):
        return [f.dataType.simpleString().upper()
                for f in self.df.schema.fields]

    def fetchall(self):
        return [tuple(r) for r in self.df.collect()]


def apply_pipeline(rel, stages, conn=None):
    """Mongo-style aggregation pipeline over a Relation — the executable
    mirror of the reference's `to_aggregate` dict DSL
    (/root/reference/integration/python/tests/test_convert.py: $match
    with $eq/$lt/$lte/$gt/$gte/$ne/$regex and implicit AND, $group with
    _id + $sum/$avg/$min/$max plus computed arithmetic, $sort,
    $limit/$skip, $project). The reference converts these dicts to its
    internal aggregate string; here each stage lowers directly onto the
    DataFrame plan, so the whole pipeline is ONE Catalyst plan (filters
    push down, the group is a normal partial/final aggregate).

    The reference's full stage enum (logical_plan/forward.hpp:107-122 —
    count/group/limit/match/merge/out/project/skip/sort/unset/unwind) is
    covered: `{"$count": "n"}` collapses to one row, `{"$unset": ...}`
    drops columns, `{"$unwind": "$arr"}` explodes one row per element
    (Mongo semantics: null/empty arrays drop the document). `$out` and
    `$merge` are TERMINAL write stages and need `conn`: $out replaces the
    named session table with the pipeline result; $merge upserts into it
    through the session's MERGE (update matched keys, insert the rest —
    pruned DML, never a table rewrite).

    Expression documents ({"$multiply": ["$price", "$count"]}, nested
    freely) follow the reference's scalar op set
    (expressions/scalar_expression.cpp:125-157: add/subtract/multiply/
    divide/mod/pow/abs/ceil/floor/sqrt/round/coalesce/unary_minus) and
    its $group routing (physical_plan_generator/impl/
    create_plan_group.cpp:170-183): an arithmetic value whose column
    refs all name OTHER $group outputs is a POST-aggregate computed per
    group over the aggregated row; one referencing input columns is a
    PRE-group computed column that becomes an extra group key. Aggregate
    args may themselves be expression documents
    ({"$sum": {"$multiply": [...]}} — operator_group's internal
    aggregates)."""
    ops = {"$lt": lambda c, v: c < v, "$lte": lambda c, v: c <= v,
           "$gt": lambda c, v: c > v, "$gte": lambda c, v: c >= v,
           "$ne": lambda c, v: c != v, "$eq": lambda c, v: c == v,
           "$regex": lambda c, v: c.rlike(v)}
    aggs = {"$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max,
            "$count": lambda c: F.count(F.lit(1))}
    # n-ary ops left-fold like Mongo ($add/$multiply are variadic there)
    binary = {"$add": lambda a, b: a + b,
              "$subtract": lambda a, b: a - b,
              "$multiply": lambda a, b: a * b,
              "$divide": lambda a, b: a / b,
              "$mod": lambda a, b: a % b,
              "$pow": F.pow}
    unary = {"$abs": F.abs, "$ceil": F.ceil, "$floor": F.floor,
             "$sqrt": F.sqrt, "$unary_minus": lambda c: -c}

    def ref(v):  # "$field" references a column, bare values are literals
        return F.col(v[1:]) if isinstance(v, str) and v.startswith("$") \
            else F.lit(v)

    def is_expr_doc(v):
        return (isinstance(v, dict) and len(v) == 1 and
                next(iter(v)) in
                (set(binary) | set(unary) | {"$round", "$coalesce"}))

    def expr(v):
        """Expression document / "$col" ref / literal -> Column."""
        if not is_expr_doc(v):
            return ref(v)
        (op, args), = v.items()
        args = args if isinstance(args, list) else [args]
        if op in binary:
            out = expr(args[0])
            for nxt in args[1:]:
                out = binary[op](out, expr(nxt))
            return out
        if op in unary:
            return unary[op](expr(args[0]))
        if op == "$round":
            return F.round(expr(args[0]),
                           args[1] if len(args) > 1 else 0)
        return F.coalesce(*[expr(a) for a in args])

    def col_refs(v):
        """Column names referenced anywhere in an expression document."""
        if isinstance(v, str) and v.startswith("$"):
            return {v[1:]}
        if isinstance(v, dict):
            out = set()
            for args in v.values():
                for a in (args if isinstance(args, list) else [args]):
                    out |= col_refs(a)
            return out
        return set()

    df = rel.df
    for stage in stages:
        (kind, spec), = stage.items()
        if kind == "$match":
            for field, cond in spec.items():  # implicit AND across keys
                if isinstance(cond, dict):
                    for op, v in cond.items():
                        df = df.filter(ops[op](F.col(field), v))
                else:
                    df = df.filter(F.col(field) == cond)
        elif kind == "$group":
            # "_id": "$f" groups by column f; a bare value is a constant
            # key (one global group) — the reference's parameter form
            keys, cols, post = [], [], []
            for name, v in spec.items():
                if name == "_id":
                    keys.append(ref(v).alias("_id"))
                elif isinstance(v, dict) and next(iter(v)) in aggs:
                    (op, arg), = v.items()
                    cols.append(aggs[op](expr(arg)).alias(name))
                elif is_expr_doc(v):
                    # reference routing: refs over sibling $group outputs
                    # -> post-aggregate; refs over input columns -> extra
                    # computed group key
                    if col_refs(v) <= set(spec) - {name}:
                        post.append((name, v))
                    else:
                        keys.append(expr(v).alias(name))
                else:
                    # bare constant output column ("type": "type" in the
                    # reference's tests — a parameter, not a field ref)
                    post.append((name, v))
            if cols:
                df = (df.groupBy(*keys) if keys else df.groupBy()) \
                    .agg(*cols)
            else:  # keys only, no accumulators: group = distinct keys
                df = df.select(*keys).distinct()
            for name, v in post:
                df = df.withColumn(name, expr(v))
            df = df.select(*[F.col(n) for n in spec])
        elif kind == "$sort":
            df = df.orderBy(*[F.col(f).asc() if d >= 0 else F.col(f).desc()
                              for f, d in spec.items()])
        elif kind == "$limit":
            df = df.limit(spec)
        elif kind == "$skip":
            df = df.offset(spec)
        elif kind == "$project":
            # {"f": 1} includes f; {"alias": "$f"} renames;
            # {"alias": {"$op": [...]}} computes
            cols = []
            for name, v in spec.items():
                if is_expr_doc(v) or (isinstance(v, str)
                                      and v.startswith("$")):
                    cols.append(expr(v).alias(name))
                elif v:
                    cols.append(F.col(name))
            df = df.select(*cols)
        elif kind == "$count":
            df = df.agg(F.count(F.lit(1)).alias(spec))
        elif kind == "$unset":
            df = df.drop(*(spec if isinstance(spec, list) else [spec]))
        elif kind == "$unwind":
            path = spec if isinstance(spec, str) else spec["path"]
            field = path[1:] if path.startswith("$") else path
            df = df.withColumn(field, F.explode(F.col(field)))
        elif kind == "$out":
            if conn is None:
                raise ValueError("$out needs a connection")
            tbl = spec if isinstance(spec, str) else spec["coll"]
            try:
                conn.execute(f"DROP TABLE {tbl}")
            except Exception:
                pass
            conn.execute(f"CREATE TABLE {tbl} ()")
            conn._jsession.insert(tbl, df._jdf)
            df = conn.execute(f"SELECT * FROM {tbl}").df
        elif kind == "$merge":
            if conn is None:
                raise ValueError("$merge needs a connection")
            into = spec["into"] if isinstance(spec, dict) else spec
            on = (spec.get("on", "_id") if isinstance(spec, dict)
                  else "_id")
            # stage the source with renamed columns so MERGE's
            # unqualified refs can't collide with target names
            # uuid, not pid: two concurrent pipelines in one process must
            # not share (and clobber) a staging table
            stage_tbl = f"_pipe_merge_src_{uuid.uuid4().hex[:12]}"
            renamed = df.select(
                *[F.col(c).alias(f"src_{c}") for c in df.columns])
            try:
                conn.execute(f"DROP TABLE {stage_tbl}")
            except Exception:
                pass
            conn.execute(f"CREATE TABLE {stage_tbl} ()")
            conn._jsession.insert(stage_tbl, renamed._jdf)
            sets = ", ".join(f"{c} = src_{c}" for c in df.columns
                             if c != on)
            ins_cols = ", ".join(df.columns)
            ins_vals = ", ".join(f"src_{c}" for c in df.columns)
            matched = (f"WHEN MATCHED THEN UPDATE SET {sets} "
                       if sets else "")
            conn.execute(
                f"MERGE INTO {into} USING {stage_tbl} "
                f"ON {into}.{on} = src_{on} "
                f"{matched}"
                f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) "
                f"VALUES ({ins_vals})")
            conn.execute(f"DROP TABLE {stage_tbl}")
            df = conn.execute(f"SELECT * FROM {into}").df
        else:
            raise ValueError(f"unsupported pipeline stage {kind}")
    return Relation(df)


def _pandas_to_arrow(pdf):
    """pandas -> pyarrow with the reference prepare-shim's dtype-edge
    contract (integration/python/tests/fast/dataframe/
    test_dtype_ingest.py, scan/pandas_arrow_prepare.cpp): the index is
    dropped (never a column), duplicate column labels are deduplicated,
    float NaN / nullable-int NA / datetime NaT become NULL, categoricals
    ingest as their values, {"key": [...], "value": [...]} object
    columns become MAP, generic dict columns STRUCT, list columns LIST,
    and a mixed-scalar object column falls back leniently to STRING
    (str() per non-null value) instead of raising ArrowInvalid."""
    import numpy as np
    import pyarrow as pa

    def is_null(v):
        return v is None or (isinstance(v, float) and np.isnan(v))

    def column(col):
        if col.dtype != object:
            arr = pa.Array.from_pandas(col)
            # dictionary-encoded (pandas Categorical) -> plain values;
            # Spark has no dictionary column type
            if pa.types.is_dictionary(arr.type):
                arr = arr.cast(arr.type.value_type)
            return arr
        vals = col.tolist()
        nn = [v for v in vals if not is_null(v)]
        if nn and all(isinstance(v, dict) and set(v) == {"key", "value"}
                      for v in nn):
            # reference map-format: parallel key/value lists -> MAP
            ktype = pa.array([k for v in nn for k in v["key"]]).type
            vtype = pa.array([x for v in nn for x in v["value"]]).type
            pairs = [None if is_null(v)
                     else list(zip(v["key"], v["value"])) for v in vals]
            return pa.array(pairs, type=pa.map_(ktype, vtype))
        try:
            # clean object columns: dicts -> STRUCT, lists -> LIST,
            # homogeneous scalars -> their type
            return pa.array(vals)
        except (pa.ArrowInvalid, pa.ArrowTypeError,
                pa.ArrowNotImplementedError):
            # heterogeneous scalars: lenient STRING fallback
            return pa.array([None if is_null(v) else str(v)
                             for v in vals])

    pdf = pdf.reset_index(drop=True)  # a named index is NOT a column
    names, seen = [], {}
    for c in map(str, pdf.columns):
        n = seen.get(c, 0)
        seen[c] = n + 1
        names.append(c if n == 0 else f"{c}_{n}")
    arrays = [column(pdf.iloc[:, j]) for j in range(pdf.shape[1])]
    return pa.Table.from_arrays(arrays, names=names)


class Cursor:
    """PEP 249-shaped cursor over the Scala router — the shim mirror of the
    reference's DB-API cursor surface (otterbrix client.execute returning a
    len()-able, closeable cursor: /root/reference/integration/python/tests/
    test_collection_sql.py). Statements route through GraftSession.execute,
    so DDL/DML/SELECT plus $n parameters all work; results are fetched
    lazily into the cursor on execute()."""

    arraysize = 1

    def __init__(self, conn):
        self._conn = conn
        self._rows = None
        self._rel = None
        self._pos = 0
        self.description = None
        self.rowcount = -1

    def execute(self, statement, params=None):
        rel = self._conn.execute(statement, params)
        self._rel = rel
        df = rel.df
        self.description = [
            (f.name, f.dataType.simpleString().upper(),
             None, None, None, None, f.nullable)
            for f in df.schema.fields]
        self._rows = [tuple(r) for r in df.collect()]
        self._pos = 0
        self.rowcount = len(self._rows)
        return self

    def executemany(self, statement, seq_of_params):
        for params in seq_of_params:
            self.execute(statement, params)
        return self

    def fetchone(self):
        if self._rows is None or self._pos >= len(self._rows):
            return None
        row = self._rows[self._pos]
        self._pos += 1
        return row

    def fetchmany(self, size=None):
        size = self.arraysize if size is None else size
        out = self._rows[self._pos:self._pos + size] if self._rows else []
        self._pos += len(out)
        return out

    def fetchall(self):
        out = self._rows[self._pos:] if self._rows else []
        self._pos = len(self._rows) if self._rows else 0
        return out

    def __iter__(self):
        while True:
            row = self.fetchone()
            if row is None:
                return
            yield row

    def __len__(self):
        return 0 if self._rows is None else len(self._rows)

    def fetch_arrow_table(self):
        """Last result as a `pyarrow.Table`, via the self-describing Arrow
        IPC stream (columnar hand-off, no per-row py4j traffic — the
        DuckDB-cursor `fetch_arrow_table` idiom)."""
        import pyarrow as pa
        if self._rel is None:
            return None
        data = self._conn.to_arrow_stream(self._rel)
        with pa.ipc.open_stream(data) as reader:
            return reader.read_all()

    def fetch_df(self):
        """Last result as a pandas DataFrame (through Arrow)."""
        table = self.fetch_arrow_table()
        return None if table is None else table.to_pandas()

    def close(self):
        self._rows = None
        self._rel = None
        self.description = None


class Connection:
    """The reference's connection object: frame ingest + SQL entry points.

    `execute` routes through the Scala GraftSession (same JVM, py4j), so
    the full router surface — dynamic tables, constraints, RETURNING,
    jsonb rewrite, WITH RECURSIVE — is reachable from Python."""

    def __init__(self, spark: SparkSession, root=None):
        self.spark = spark
        if root is None:
            # auto-generated scratch roots clean themselves up at
            # interpreter exit (the Scala side's graft.TmpDirs contract;
            # caller-supplied roots are the caller's to manage)
            import atexit
            import shutil
            root = os.path.join("/tmp", f"graft_py_{os.getpid()}")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
        jvm = spark.sparkContext._jvm
        self._jsession = jvm.graft.api.GraftSession.apply(
            spark._jsparkSession, root)
        self._jvm = jvm

    def from_df(self, df):
        """Ingest a dataframe (reference test fixture `conn.from_df`).

        Accepts pandas (through [[_pandas_to_arrow]], the mirror of the
        reference's Arrow prepare shim — see its dtype-edge contract
        there), a 2-D numpy ndarray (reference NDARRAY2D: each input ROW
        becomes a column0..N column), and — mirroring the reference's
        polars ingest (integration/python/tests/test_polars_ingest.py,
        which goes through its Arrow export in
        scan/pandas_arrow_prepare.cpp) — any Arrow-native frame: a
        `pyarrow.Table`, a polars DataFrame (its `to_arrow()` is a
        zero-copy export), or any object speaking the Arrow PyCapsule
        protocol (`__arrow_c_stream__`). Everything reaches Spark as
        Arrow batches; a pandas frame the prepare shim cannot convert
        falls back to Spark's own pandas coercion, so no previously
        working ingest breaks."""
        import pyarrow as pa
        import numpy as np
        if isinstance(df, np.ndarray) and df.ndim == 2:
            df = pa.table({f"column{i}": pa.array(df[i, :])
                           for i in range(df.shape[0])})
        try:
            import pandas as pd
            is_pandas = isinstance(df, pd.DataFrame)
        except ImportError:
            is_pandas = False
        if is_pandas:
            try:
                df = _pandas_to_arrow(df)
            except Exception:
                # lenient fallback: Spark's native pandas coercion
                return Relation(self.spark.createDataFrame(df))
        if not isinstance(df, pa.Table):
            to_arrow = getattr(df, "to_arrow", None)
            if callable(to_arrow):  # polars-style Arrow export
                df = to_arrow()
            elif hasattr(df, "__arrow_c_stream__"):  # PyCapsule protocol
                df = pa.table(df)
        return Relation(self.spark.createDataFrame(df))

    def execute(self, statement, params=None):
        jdf = self._jsession.execute(
            statement,
            self._jvm.PythonUtils.toSeq(params or []))
        return Relation(SparkDataFrame(jdf, self.spark))

    def sql(self, query, params=None):
        jdf = self._jsession.sql(query,
                                 self._jvm.PythonUtils.toSeq(params or []))
        return Relation(SparkDataFrame(jdf, self.spark))

    def cursor(self):
        """DB-API entry point (PEP 249 `Connection.cursor()`)."""
        return Cursor(self)

    def to_arrow_stream(self, relation):
        """Self-describing Arrow IPC stream (schema + batches + EOS) for a
        relation; consumable by stock `pyarrow.ipc.open_stream` with no
        out-of-band schema."""
        jbytes = self._jvm.org.apache.spark.sql.graftarrow.ArrowBridge \
            .toArrowStream(relation.df._jdf)
        return bytes(jbytes)


def connect(app_name="graft-python", root=None):
    classes = os.environ.get("GRAFT_CLASSES",
                             "/root/repo/target/scala-2.13/classes")
    spark = (SparkSession.builder
             .master(os.environ.get("GRAFT_MASTER", "local[4]"))
             .appName(app_name)
             .config("spark.driver.extraClassPath", classes)
             .config("spark.executor.extraClassPath", classes)
             .config("spark.sql.extensions", "graft.plans.GraftExtensions")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    return Connection(spark, root)
