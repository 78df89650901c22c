"""Python-surface tests mirroring the reference's fast/dataframe suite
(/root/reference/integration/python/tests/fast/dataframe/
test_dataframe_filter.py, test_dataframe_join.py,
test_dataframe_aggregate.py), plus one Scala-session SQL round-trip.

Run:  python3 python/test_graft_python.py   (stdlib unittest — pytest also
works if installed). Requires compiled classes; see graft_shim docstring.
"""
import unittest

import pandas as pd

from graft_shim import (ColumnExpression, ConstantExpression,
                        CountExpression, Relation, connect)


class GraftPythonSurface(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.conn = connect()

    # -- test_dataframe_filter.py ------------------------------------
    def _states(self):
        return self.conn.from_df(pd.DataFrame({
            "state": ["OH", "CA", "OH", "NY", "NY", "OH"],
            "gender": ["M", "F", "F", "M", "M", "M"],
        }))

    def test_filter_equality(self):
        state = ColumnExpression("state", self.conn)
        rows = self._states().filter(
            state == ConstantExpression("OH", self.conn)).fetchall()
        self.assertEqual(len(rows), 3)
        self.assertTrue(all(r[0] == "OH" for r in rows))

    def test_filter_negation(self):
        state = ColumnExpression("state", self.conn)
        rows = self._states().filter(
            ~(state == ConstantExpression("OH", self.conn))).fetchall()
        self.assertEqual({r[0] for r in rows}, {"CA", "NY"})

    def test_filter_conjunction(self):
        state = ColumnExpression("state", self.conn)
        gender = ColumnExpression("gender", self.conn)
        cond = ((state == ConstantExpression("OH", self.conn))
                & (gender == ConstantExpression("M", self.conn)))
        rows = self._states().filter(cond).fetchall()
        self.assertEqual(len(rows), 2)
        self.assertTrue(all(r[0] == "OH" and r[1] == "M" for r in rows))

    # -- test_dataframe_join.py --------------------------------------
    def test_inner_join_on_key(self):
        left = self.conn.from_df(
            pd.DataFrame({"id": [1, 2, 3], "l": ["a", "b", "c"]}))
        right = self.conn.from_df(
            pd.DataFrame({"id": [2, 3, 4], "r": ["x", "y", "z"]}))
        cond = (ColumnExpression("id", self.conn, "left")
                == ColumnExpression("id", self.conn, "right"))
        rows = sorted(left.join(right, cond, "inner").fetchall())
        self.assertEqual(rows, [(2, "b", 2, "x"), (3, "c", 3, "y")])

    # -- test_dataframe_aggregate.py ---------------------------------
    def _salaries(self):
        return self.conn.from_df(
            pd.DataFrame({"dept": ["a", "a", "b"], "salary": [10, 20, 30]}))

    def test_group_avg_is_double_typed(self):
        grouped = self._salaries().group(
            ColumnExpression("dept", self.conn),
            ColumnExpression("salary", self.conn).avg())
        self.assertEqual(grouped.types[-1], "DOUBLE")
        self.assertEqual({r[0]: r[1] for r in grouped.fetchall()},
                         {"a": 15.0, "b": 30.0})

    def test_global_avg_is_double(self):
        grouped = self._salaries().group(
            ColumnExpression("salary", self.conn).avg())
        self.assertEqual(grouped.types[-1], "DOUBLE")
        self.assertEqual(grouped.fetchall(), [(20.0,)])

    def test_count_all_rows(self):
        grouped = self._salaries().group(CountExpression(self.conn))
        self.assertEqual(grouped.fetchall(), [(3,)])

    def test_count_per_group(self):
        grouped = self._salaries().group(
            ColumnExpression("dept", self.conn), CountExpression(self.conn))
        self.assertEqual({r[0]: r[1] for r in grouped.fetchall()},
                         {"a": 2, "b": 1})

    # -- test_dataframe_limit.py -------------------------------------
    def _rows(self):
        return self.conn.from_df(pd.DataFrame({
            "id": list(range(1, 13)),
            "grp": ["A" if i % 2 else "B" for i in range(1, 13)],
            "val": [float(i) for i in range(1, 13)],
        }))

    def test_limit_truncates(self):
        self.assertEqual(len(self._rows().limit(3).fetchall()), 3)

    def test_limit_larger_than_rows(self):
        self.assertEqual(len(self._rows().limit(100).fetchall()), 12)

    def test_limit_after_sort_is_deterministic(self):
        rows = self._rows().sort(
            ColumnExpression("val", self.conn)).limit(3).fetchall()
        self.assertEqual([r[-1] for r in rows], [1.0, 2.0, 3.0])

    def test_limit_after_filter(self):
        val = ColumnExpression("val", self.conn)
        rows = self._rows().filter(
            val > ConstantExpression(5, self.conn)).limit(2).fetchall()
        self.assertEqual(len(rows), 2)

    # -- test_dataframe_sort_projection.py ---------------------------
    def test_sort_ascending(self):
        rel = self.conn.from_df(pd.DataFrame({"v": [3.0, 1.0, 2.0]}))
        rows = rel.sort(ColumnExpression("v", self.conn)).fetchall()
        self.assertEqual([r[0] for r in rows], [1.0, 2.0, 3.0])

    def test_projection_selects_subset(self):
        rel = self.conn.from_df(
            pd.DataFrame({"a": [1, 2], "b": [3, 4], "c": [5, 6]}))
        projected = rel.select(ColumnExpression("a", self.conn),
                               ColumnExpression("c", self.conn))
        self.assertEqual(projected.columns, ["a", "c"])
        self.assertEqual(projected.fetchall(), [(1, 5), (2, 6)])

    # -- multimodal decode plumbing: mapInPandas over binary payloads --
    def test_map_in_pandas_binary_decode(self):
        # opaque binary payloads + typed metadata in; per-batch pandas
        # "decode" (deterministic stand-in for an image/audio codec,
        # which this container lacks) extracts typed features out
        rel = self.conn.from_df(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "payload": [b"\x00\x01\x02", b"\xff" * 5, b""],
        }))

        def decode(batches):
            for pdf in batches:
                out = pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len),
                    "checksum": pdf["payload"].map(lambda b: sum(b) % 251),
                })
                yield out

        decoded = rel.map_in_pandas(
            decode, "doc_id bigint, n_bytes bigint, checksum bigint")
        rows = sorted(decoded.fetchall())
        self.assertEqual(rows, [(1, 3, 3), (2, 5, (255 * 5) % 251), (3, 0, 0)])

    # -- self-describing Arrow IPC stream export ---------------------
    def test_arrow_stream_opens_in_stock_pyarrow(self):
        import pyarrow as pa
        rel = self.conn.from_df(pd.DataFrame({
            "id": [1, 2, 3, 4],
            "name": ["a", "b", "c", "d"],
            "score": [1.5, 2.5, 3.5, 4.5],
        }))
        buf = self.conn.to_arrow_stream(rel)
        # the ONLY input is the byte stream — schema must travel in-band
        table = pa.ipc.open_stream(buf).read_all()
        self.assertEqual(table.schema.names, ["id", "name", "score"])
        self.assertEqual(table.num_rows, 4)
        self.assertEqual(table.column("name").to_pylist(), ["a", "b", "c", "d"])
        self.assertEqual(table.column("score").to_pylist(),
                         [1.5, 2.5, 3.5, 4.5])

    def test_arrow_stream_multi_batch(self):
        import pyarrow as pa
        self.conn.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "50")
        try:
            rel = Relation(self.conn.spark.range(300).toDF("id"))
            reader = pa.ipc.open_stream(self.conn.to_arrow_stream(rel))
            batches = list(reader)
            self.assertGreater(len(batches), 1)  # really multiple batches
            ids = sorted(x for b in batches for x in b.column("id").to_pylist())
            self.assertEqual(ids, list(range(300)))
        finally:
            self.conn.spark.conf.unset(
                "spark.sql.execution.arrow.maxRecordsPerBatch")

    # -- DB-API (PEP 249) cursor surface -----------------------------
    def _cursor_table(self):
        cur = self.conn.cursor()
        cur.execute("CREATE TABLE dbapi_t (id BIGINT, name STRING, "
                    "qty BIGINT)")
        cur.execute("INSERT INTO dbapi_t VALUES (1, 'ann', 10), "
                    "(2, 'bob', 20), (3, 'cho', 30), (4, 'dee', 40)")
        return cur

    def test_cursor_fetchone_exhausts(self):
        cur = self._cursor_table()
        try:
            cur.execute("SELECT id, name FROM dbapi_t ORDER BY id")
            self.assertEqual(cur.rowcount, 4)
            self.assertEqual(cur.fetchone(), (1, "ann"))
            self.assertEqual(cur.fetchone(), (2, "bob"))
            cur.fetchone(), cur.fetchone()
            self.assertIsNone(cur.fetchone())  # past the end -> None
        finally:
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_fetchmany_and_fetchall(self):
        cur = self._cursor_table()
        try:
            cur.execute("SELECT id FROM dbapi_t ORDER BY id")
            self.assertEqual(cur.fetchmany(3), [(1,), (2,), (3,)])
            self.assertEqual(cur.fetchall(), [(4,)])  # remainder only
            self.assertEqual(cur.fetchall(), [])
        finally:
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_description(self):
        cur = self._cursor_table()
        try:
            cur.execute("SELECT id, name, qty FROM dbapi_t")
            names = [d[0] for d in cur.description]
            types = [d[1] for d in cur.description]
            self.assertEqual(names, ["id", "name", "qty"])
            self.assertEqual(types, ["BIGINT", "STRING", "BIGINT"])
        finally:
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_numbered_parameters(self):
        cur = self._cursor_table()
        try:
            cur.execute("SELECT name FROM dbapi_t WHERE qty > $1 "
                        "AND name <> $2 ORDER BY name", [15, "cho"])
            self.assertEqual(cur.fetchall(), [("bob",), ("dee",)])
        finally:
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_dml_rowcount_mirrors_reference(self):
        # the reference's cursor is len()-able over affected rows
        # (test_collection_sql.py delete/update assertions)
        cur = self._cursor_table()
        try:
            cur.execute("UPDATE dbapi_t SET qty = qty + 1 WHERE id >= 3")
            self.assertEqual(cur.rowcount, 2)
            self.assertEqual(len(cur), 2)
            cur.execute("DELETE FROM dbapi_t WHERE qty > 35")
            self.assertEqual(cur.rowcount, 1)  # only (4, dee, 41)
            cur.execute("SELECT COUNT(*) AS n FROM dbapi_t")
            self.assertEqual(cur.fetchone(), (3,))
        finally:
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_iteration_protocol(self):
        cur = self._cursor_table()
        try:
            cur.execute("SELECT id FROM dbapi_t ORDER BY id")
            self.assertEqual([r[0] for r in cur], [1, 2, 3, 4])
        finally:
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_merge_into(self):
        cur = self._cursor_table()
        try:
            cur.execute("CREATE TABLE dbapi_src (sid BIGINT, delta BIGINT)")
            cur.execute("INSERT INTO dbapi_src VALUES (2, 5), (9, 90)")
            cur.execute(
                "MERGE INTO dbapi_t USING dbapi_src ON dbapi_t.id = sid "
                "WHEN MATCHED THEN UPDATE SET qty = qty + delta "
                "WHEN NOT MATCHED THEN INSERT (id, name, qty) "
                "VALUES (sid, 'merged', delta)")
            self.assertEqual(cur.rowcount, 2)  # one UPDATE + one INSERT
            actions = {r[-1] for r in cur.fetchall()}
            self.assertEqual(actions, {"UPDATE", "INSERT"})
            cur.execute("SELECT id, qty FROM dbapi_t ORDER BY id")
            self.assertEqual(cur.fetchall(),
                             [(1, 10), (2, 25), (3, 30), (4, 40), (9, 90)])
        finally:
            cur.execute("DROP TABLE dbapi_src")
            cur.execute("DROP TABLE dbapi_t")

    def test_cursor_executemany_and_close(self):
        cur = self.conn.cursor()
        cur.execute("CREATE TABLE dbapi_m (id BIGINT, v STRING)")
        try:
            cur.executemany("INSERT INTO dbapi_m VALUES ($1, $2)",
                            [[1, "x"], [2, "y"], [3, "z"]])
            cur.execute("SELECT COUNT(*) AS n FROM dbapi_m")
            self.assertEqual(cur.fetchone(), (3,))
            cur.close()
            self.assertIsNone(cur.description)
            self.assertIsNone(cur.fetchone())
        finally:
            self.conn.execute("DROP TABLE dbapi_m")

    # -- Scala session layer through py4j ----------------------------
    def test_sql_router_round_trip(self):
        self.conn.execute(
            "CREATE TABLE pyt (id BIGINT, name STRING, qty BIGINT)")
        self.conn.execute(
            "INSERT INTO pyt VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
        updated = self.conn.execute(
            "UPDATE pyt SET qty = qty + 5 WHERE id >= 2")
        self.assertEqual(len(updated.fetchall()), 2)  # RETURNING
        rows = self.conn.sql(
            "SELECT id, qty FROM pyt ORDER BY id").fetchall()
        self.assertEqual(rows, [(1, 10), (2, 25), (3, 35)])
        self.conn.execute("DROP TABLE pyt")

    def test_connect_installs_native_functions(self):
        # graft's operators call the native graft_* expressions only, so
        # connect() must install GraftExtensions on the session
        rows = self.conn.sql(
            "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d"
        ).fetchall()
        self.assertEqual(rows, [(11.0,)])

    def test_connect_sorts_small_result_in_place(self):
        # connect() installs GraftExtensions through spark.sql.extensions,
        # so its SortInPlace rule sorts a small aggregate in one partition
        # instead of range-partitioning it
        from pyspark.sql import functions as F
        df = (self.conn.spark.range(0, 400, 1, 4)
              .groupBy((F.col("id") % 37).alias("k"))
              .agg(F.sum("id").alias("s"))
              .orderBy("s"))
        rows = df.collect()
        self.assertEqual(len(rows), 37)
        self.assertEqual([r.s for r in rows], sorted(r.s for r in rows))
        plan = df._jdf.queryExecution().executedPlan().executedPlan()
        self.assertNotIn("rangepartitioning", plan.toString())

    def test_incremental_matview_through_cursor(self):
        cur = self.conn.cursor()
        cur.execute("CREATE TABLE imv_base (lang STRING, n BIGINT)")
        try:
            cur.execute("INSERT INTO imv_base VALUES ('en', 1), ('de', 2)")
            cur.execute(
                "CREATE INCREMENTAL MATERIALIZED VIEW imv AS "
                "SELECT lang, count(*) AS c, sum(n) AS s "
                "FROM imv_base GROUP BY lang")
            cur.execute("INSERT INTO imv_base VALUES ('en', 10)")
            cur.execute("REFRESH MATERIALIZED VIEW imv")
            cur.execute("SELECT lang, c, s FROM imv ORDER BY lang")
            self.assertEqual(cur.fetchall(), [("de", 1, 2), ("en", 2, 11)])
        finally:
            self.conn.execute("DROP TABLE imv_base")

    def test_cursor_fetch_arrow_and_pandas(self):
        cur = self.conn.cursor()
        cur.execute("CREATE TABLE arrt (id BIGINT, v DOUBLE)")
        try:
            cur.execute("INSERT INTO arrt VALUES (1, 1.5), (2, 2.5), (3, 4.0)")
            cur.execute("SELECT id, v FROM arrt ORDER BY id")
            table = cur.fetch_arrow_table()
            self.assertEqual(table.num_rows, 3)
            self.assertEqual(table.column_names, ["id", "v"])
            self.assertEqual(table.column("id").to_pylist(), [1, 2, 3])
            pdf = cur.fetch_df()
            self.assertEqual(list(pdf["v"]), [1.5, 2.5, 4.0])
        finally:
            self.conn.execute("DROP TABLE arrt")

    def test_cursor_copy_to_from(self):
        import shutil
        import tempfile
        out = tempfile.mkdtemp(prefix="graft_copy_py")
        self.addCleanup(shutil.rmtree, out, ignore_errors=True)
        cur = self.conn.cursor()
        cur.execute("CREATE TABLE cpy (id BIGINT, name STRING)")
        try:
            cur.execute("INSERT INTO cpy VALUES (1, 'a'), (2, 'b')")
            cur.execute(f"COPY cpy TO '{out}/t' (FORMAT parquet)")
            self.assertEqual(cur.fetchone()[1], "2")  # (path, rows)
            cur.execute("CREATE TABLE cpy2 (id BIGINT, name STRING)")
            cur.execute(f"COPY cpy2 FROM '{out}/t'")
            cur.execute("SELECT id FROM cpy2 ORDER BY id")
            self.assertEqual([r[0] for r in cur.fetchall()], [1, 2])
        finally:
            self.conn.execute("DROP TABLE cpy")
            self.conn.execute("DROP TABLE cpy2")

    # --- polars-style Arrow-native ingest (reference
    # integration/python/tests/test_polars_ingest.py). polars itself is
    # not in this container, so the tests drive the exact code path a
    # polars frame takes — its `to_arrow()` zero-copy export — with a
    # pyarrow-backed stand-in; a pyarrow.Table and a PyCapsule-only
    # object cover the other two Arrow-native entrances. Pandas is never
    # in the path (the stand-ins would raise on any pandas call).

    class _ArrowFrame:
        """Stand-in with polars' ingest-relevant surface: to_arrow()."""

        def __init__(self, table):
            self._table = table

        def to_arrow(self):
            return self._table

        def __getattr__(self, name):  # any pandas-path call explodes
            raise AssertionError(f"pandas-path call leaked: {name}")

    class _CapsuleFrame:
        """Stand-in speaking only the Arrow PyCapsule protocol."""

        def __init__(self, table):
            self._table = table

        def __arrow_c_stream__(self, requested_schema=None):
            return self._table.__arrow_c_stream__(requested_schema)

    def test_reference_connection_flow(self):
        # end-to-end mirror of the reference's connection lifecycle
        # (integration/python/tests/test_collection_connections.py):
        # db-qualified DYNAMIC table, 100-row VALUES insert, len(cursor)
        # after SELECT/DELETE/UPDATE = row / affected counts
        def gen_id(num):
            return str(num).rjust(24, "0")
        cur = self.conn.cursor()
        cur.execute("CREATE DATABASE schemax")
        cur.execute("CREATE TABLE schemax.conns()")  # dynamic
        try:
            values = ", ".join(
                f"('{gen_id(n + 1)}', 'Name {n}', {n})" for n in range(100))
            cur.execute("INSERT INTO schemax.conns (_id, name, count) "
                        f"VALUES {values}")
            cur.execute("SELECT * FROM schemax.conns")
            self.assertEqual(len(cur), 100)
            cur.execute("SELECT * FROM schemax.conns WHERE count > 90")
            self.assertEqual(len(cur), 9)
            cur.execute("DELETE FROM schemax.conns WHERE count > 90")
            self.assertEqual(len(cur), 9)
            cur.execute("SELECT * FROM schemax.conns")
            self.assertEqual(len(cur), 91)
            cur.execute("UPDATE schemax.conns SET count = 1000 "
                        "WHERE count < 20")
            self.assertEqual(len(cur), 20)
            cur.execute("SELECT * FROM schemax.conns WHERE count < 20")
            self.assertEqual(len(cur), 0)
            cur.execute("SELECT * FROM schemax.conns WHERE count = 1000")
            self.assertEqual(len(cur), 20)
        finally:
            self.conn.execute("DROP TABLE schemax.conns")

    # --- Mongo-style aggregation pipeline (reference `to_aggregate`,
    # integration/python/tests/test_convert.py): same dict DSL, but
    # lowered onto the DataFrame plan and EXECUTED instead of
    # string-compared.

    def _pipe_rel(self):
        import pandas as pd
        return self.conn.from_df(pd.DataFrame({
            "name": ["ant", "bee", "cat", "dog", "eel"],
            "size": ["medium", "small", "medium", "large", "small"],
            "count": [4, 12, 7, 2, 9],
        }))

    def test_pipeline_match(self):
        from graft_shim import apply_pipeline
        rel = self._pipe_rel()
        # implicit AND of eq + $lt + $regex — the reference's composite
        # $match example
        out = apply_pipeline(rel, [
            {"$match": {"size": "medium", "count": {"$lt": 10},
                        "name": {"$regex": "^c"}}}])
        self.assertEqual(out.fetchall(), [("cat", "medium", 7)])

    def test_pipeline_group_by_field(self):
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._pipe_rel(), [
            {"$group": {"_id": "$size", "total": {"$sum": "$count"},
                        "n": {"$sum": 1}}},
            {"$sort": {"_id": 1}}])
        self.assertEqual(out.fetchall(),
                         [("large", 2, 1), ("medium", 11, 2),
                          ("small", 21, 2)])

    def test_pipeline_group_constant_id(self):
        from graft_shim import apply_pipeline
        # bare "_id" value = constant key: one global group
        out = apply_pipeline(self._pipe_rel(), [
            {"$group": {"_id": "all", "mx": {"$max": "$count"},
                        "mn": {"$min": "$count"}}}])
        self.assertEqual(out.fetchall(), [("all", 12, 2)])

    def _priced_rel(self):
        import pandas as pd
        return self.conn.from_df(pd.DataFrame({
            "name": ["ant", "bee", "ant", "dog", "bee"],
            "price": [2.0, 3.0, 5.0, 1.0, 4.0],
            "count": [4, 12, 7, 2, 9],
        }))

    def test_pipeline_group_agg_over_computed_expression(self):
        # reference test_convert.py:103-118: {"_id": "$name",
        # "type": "type", "total": {"$sum": {"$multiply": [...]}}} —
        # the aggregate's arg is an expression document, and a bare
        # string value is a CONSTANT output column (the reference turns
        # it into parameter #0, not a field ref)
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._priced_rel(), [
            {"$group": {"_id": "$name", "type": "type",
                        "total": {"$sum": {"$multiply":
                                           ["$price", "$count"]}}}},
            {"$sort": {"_id": 1}}])
        self.assertEqual(out.fetchall(),
                         [("ant", "type", 43.0), ("bee", "type", 72.0),
                          ("dog", "type", 2.0)])

    def test_pipeline_group_computed_key(self):
        # reference test_convert.py:62-88: a bare arithmetic value in
        # $group referencing INPUT columns is a pre-group computed
        # column that becomes a group key (create_plan_group.cpp:180-183)
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._priced_rel(), [
            {"$group": {"total": {"$multiply": ["$price", 10]}}},
            {"$sort": {"total": 1}}])
        self.assertEqual(out.fetchall(),
                         [(10.0,), (20.0,), (30.0,), (40.0,), (50.0,)])

    def test_pipeline_group_post_aggregate(self):
        # arithmetic whose refs name sibling $group outputs is a
        # POST-aggregate evaluated per group over the aggregated row
        # (operator_group.cpp:799-911)
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._priced_rel(), [
            {"$group": {"_id": "$name",
                        "s": {"$sum": "$count"},
                        "n": {"$count": 1},
                        "per": {"$divide": ["$s", "$n"]}}},
            {"$sort": {"_id": 1}}])
        self.assertEqual(out.fetchall(),
                         [("ant", 11, 2, 5.5), ("bee", 21, 2, 10.5),
                          ("dog", 2, 1, 2.0)])

    def test_pipeline_project_computed_expression(self):
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._priced_rel(), [
            {"$match": {"name": "dog"}},
            {"$project": {"name": 1,
                          "gross": {"$multiply": ["$price", "$count"]},
                          "rounded": {"$round":
                                      [{"$sqrt": "$count"}, 2]}}}])
        self.assertEqual(out.fetchall(), [("dog", 2.0, 1.41)])

    def test_pipeline_nested_arithmetic_ops(self):
        # nested docs + the rest of the reference scalar op set
        # (scalar_expression.cpp:125-157)
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._priced_rel(), [
            {"$match": {"name": "bee", "count": {"$gt": 10}}},
            {"$project": {
                "a": {"$add": ["$count", {"$unary_minus": "$price"}, 1]},
                "m": {"$mod": ["$count", 5]},
                "p": {"$pow": [2, {"$subtract": ["$price", 1.0]}]},
                "f": {"$floor": {"$divide": ["$count", "$price"]}},
                "c": {"$coalesce": [None, "$count"]}}}])
        self.assertEqual(out.fetchall(), [(10.0, 2, 4.0, 4.0, 12)])

    def test_pipeline_sort_skip_limit_project(self):
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._pipe_rel(), [
            {"$sort": {"count": -1}},
            {"$skip": 1},
            {"$limit": 2},
            {"$project": {"name": 1, "c": "$count"}}])
        self.assertEqual(out.fetchall(), [("eel", 9), ("cat", 7)])

    # --- the rest of the reference's stage enum
    # (logical_plan/forward.hpp:107-122): count/unset/unwind/out/merge ---

    def test_pipeline_count_stage(self):
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._pipe_rel(), [
            {"$match": {"size": "medium"}},
            {"$count": "n_medium"}])
        self.assertEqual(out.columns, ["n_medium"])
        self.assertEqual(out.fetchall(), [(2,)])

    def test_pipeline_unset_drops_columns(self):
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._pipe_rel(), [
            {"$unset": ["size", "count"]},
            {"$sort": {"name": 1}},
            {"$limit": 1}])
        self.assertEqual(out.columns, ["name"])
        self.assertEqual(out.fetchall(), [("ant",)])

    def test_pipeline_unwind_explodes(self):
        import pandas as pd
        from graft_shim import apply_pipeline
        rel = self.conn.from_df(pd.DataFrame({
            "doc": ["a", "b", "c"],
            "tags": [["x", "y"], ["z"], []]}))  # empty drops the doc
        out = apply_pipeline(rel, [
            {"$unwind": "$tags"},
            {"$sort": {"doc": 1, "tags": 1}}])
        self.assertEqual(out.fetchall(),
                         [("a", "x"), ("a", "y"), ("b", "z")])

    def test_pipeline_out_writes_table(self):
        import pandas as pd
        from graft_shim import apply_pipeline
        out = apply_pipeline(self._pipe_rel(), [
            {"$group": {"_id": "$size", "total": {"$sum": "$count"}}},
            {"$out": "pipe_out_t"}], conn=self.conn)
        self.assertEqual(sorted(out.fetchall()),
                         [("large", 2), ("medium", 11), ("small", 21)])
        # terminal write is queryable through the session SQL surface
        back = self.conn.execute(
            "SELECT total FROM pipe_out_t WHERE _id = 'small'")
        self.assertEqual(back.fetchall(), [(21,)])
        self.conn.execute("DROP TABLE pipe_out_t")

    def test_pipeline_merge_upserts(self):
        import pandas as pd
        from graft_shim import apply_pipeline
        self.conn.execute("CREATE TABLE pipe_m (k STRING, v BIGINT)")
        self.conn.execute(
            "INSERT INTO pipe_m VALUES ('small', 0), ('stale', 1)")
        src = self.conn.from_df(pd.DataFrame(
            {"k": ["small", "large"], "v": [100, 200]}))
        out = apply_pipeline(src, [{"$merge": {"into": "pipe_m",
                                               "on": "k"}}],
                             conn=self.conn)
        self.assertEqual(sorted(out.fetchall()),
                         [("large", 200), ("small", 100), ("stale", 1)])
        self.conn.execute("DROP TABLE pipe_m")

    # --- dtype-edge ingest matrix (reference fast/dataframe/
    # test_dtype_ingest.py:13-97): the Arrow prepare-shim contract,
    # pinned through from_df for pandas, numpy and Arrow frames.

    def test_ingest_float_nan_becomes_null(self):
        import numpy as np
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame({"x": [1.0, np.nan, 3.0]}))
        self.assertEqual(rel.columns, ["x"])
        self.assertEqual(rel.fetchall(), [(1.0,), (None,), (3.0,)])

    def test_ingest_nullable_int_na_becomes_null(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            {"x": pd.array([1, None, 3], dtype="Int64")}))
        self.assertEqual(rel.columns, ["x"])
        self.assertEqual(rel.fetchall(), [(1,), (None,), (3,)])

    def test_ingest_datetime_nat_becomes_null(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            {"t": pd.to_datetime(["2021-01-01", None, "2021-01-03"])}))
        self.assertEqual(rel.columns, ["t"])
        rows = rel.fetchall()
        self.assertEqual(len(rows), 3)
        self.assertIsNone(rows[1][0])

    def test_ingest_mixed_object_falls_back_to_string(self):
        # heterogeneous object column: lenient STRING fallback instead
        # of ArrowInvalid (the reference's old pandas_analyzer behavior)
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame({"x": [1, "two", 3.0]}))
        self.assertEqual(rel.columns, ["x"])
        self.assertEqual(rel.types, ["STRING"])
        self.assertEqual(rel.fetchall(), [("1",), ("two",), ("3.0",)])

    def test_ingest_categorical(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            {"c": pd.Categorical(["a", "b", "a"])}))
        self.assertEqual(rel.columns, ["c"])
        self.assertEqual(rel.fetchall(), [("a",), ("b",), ("a",)])

    def test_ingest_map_format_dict_column(self):
        # {"key": [...], "value": [...]} object columns -> MAP
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            {"m": [{"key": ["a", "b"], "value": [1, 2]},
                   {"key": ["c"], "value": [3]}]}))
        self.assertEqual(rel.columns, ["m"])
        self.assertEqual(rel.types, ["MAP<STRING,BIGINT>"])
        self.assertEqual(rel.fetchall(),
                         [({"a": 1, "b": 2},), ({"c": 3},)])

    def test_ingest_generic_dict_column_as_struct(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            {"s": [{"a": 1, "b": 2}, {"a": 3, "b": 4}]}))
        self.assertEqual(rel.columns, ["s"])
        self.assertTrue(rel.types[0].startswith("STRUCT<"))
        self.assertEqual(len(rel.fetchall()), 2)

    def test_ingest_list_column(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame({"l": [[1, 2], [3, 4]]}))
        self.assertEqual(rel.columns, ["l"])
        self.assertEqual(rel.fetchall(), [([1, 2],), ([3, 4],)])

    def test_ingest_duplicate_column_names_deduplicated(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            [[1, 2], [3, 4]], columns=["x", "x"]))
        self.assertEqual(len(rel.columns), 2)
        self.assertEqual(len(set(rel.columns)), 2)
        self.assertEqual(rel.fetchall(), [(1, 2), (3, 4)])

    def test_ingest_numpy_2d_rows_become_columns(self):
        # reference NDARRAY2D quirk kept verbatim: each input ROW is a
        # column0..N column
        import numpy as np
        rel = self.conn.from_df(np.array([[1, 2, 3], [4, 5, 6]]))
        self.assertEqual(rel.columns, ["column0", "column1"])
        self.assertEqual(rel.fetchall(), [(1, 4), (2, 5), (3, 6)])

    def test_ingest_pandas_index_is_ignored(self):
        import pandas as pd
        rel = self.conn.from_df(pd.DataFrame(
            {"x": [10, 20, 30]}, index=["alice", "bob", "carol"]))
        self.assertEqual(rel.columns, ["x"])
        self.assertEqual(rel.fetchall(), [(10,), (20,), (30,)])

    def test_polars_style_ingest_round_trip(self):
        import pyarrow as pa
        table = pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]})
        for frame in (self._ArrowFrame(table), table,
                      self._CapsuleFrame(table)):
            rel = self.conn.from_df(frame)
            self.assertEqual(rel.columns, ["id", "name"])
            self.assertEqual(sorted(rel.fetchall()),
                             [(1, "a"), (2, "b"), (3, "c")])

    def test_polars_style_ingest_dtype_mapping(self):
        import datetime
        import pyarrow as pa
        table = pa.table({
            "i64": pa.array([1, None], type=pa.int64()),
            "i32": pa.array([7, 8], type=pa.int32()),
            "f64": pa.array([1.5, 2.5], type=pa.float64()),
            "s": pa.array(["x", None], type=pa.string()),
            "b": pa.array([True, False], type=pa.bool_()),
            "ts": pa.array([datetime.datetime(2024, 1, 1, 12), None],
                           type=pa.timestamp("us")),
        })
        rel = self.conn.from_df(self._ArrowFrame(table))
        self.assertEqual(
            rel.types,
            ["BIGINT", "INT", "DOUBLE", "STRING", "BOOLEAN", "TIMESTAMP"])
        rows = rel.fetchall()
        self.assertEqual(rows[0][:5], (1, 7, 1.5, "x", True))
        self.assertEqual(rows[1][0], None)  # nulls survive the ingest


if __name__ == "__main__":
    unittest.main(verbosity=2)
