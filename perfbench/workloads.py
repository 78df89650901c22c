"""The two workloads: what each runs, and the seeded inputs it gets.

Every workload is a closed loop with one client: each operation starts
when the previous one has finished. The amount of work in a run is fixed
by `--seconds` (so the same seed and seconds give the same operations);
`--seed` chooses the order of the queries and the statement stream.
"""
import json
import random

# llm_pipeline: registry names (`graft.SparkEntry.queries`) of the
# LLM-data operators on documents/embeddings: exact dedup, vector search
# (LSH kNN, hard negatives), phrase retrieval and text quality. Few enough
# shapes to fit the codegen cache with room to spare (sets with d14, e5 or
# e12 overflow it in some or all runs); IndexCache is warm after the warm
# passes.
LLM_PIPELINE = [
    "d1_exact_dedup", "e4_knn_lsh", "e13_hard_negatives", "ir3_phrase_query",
    "g1_gopher_quality",
]

# Timed passes per minute of --seconds. One pass runs every query of the
# set once, in its own seeded order; a run always runs whole passes, so
# every run's latencies are a sample of the same query multiset. The
# untimed warm passes before them run the set in the order listed.
PASSES_PER_MINUTE = 24
WARM_PASSES = 2


def query_passes(seed, seconds, trace):
    """The seeded order of each pass. A traced run gets half as many: it
    runs each twice, untraced and traced."""
    n = max(1, round(seconds * PASSES_PER_MINUTE / 60))
    if trace:
        n = max(1, n // 2)
    rng = random.Random(f"llm_pipeline:{seed}")
    passes = []
    for _ in range(n):
        order = list(LLM_PIPELINE)
        rng.shuffle(order)
        passes.append(order)
    return passes


# ------------------------------------------------------------ session_oltp

STATUSES = ["new", "paid", "shipped"]
TIERS = ["bronze", "gold", "silver"]
REGIONS = ["east", "north", "south", "west"]

# One round of the statement stream, in order: writes interleaved with
# reads, the heavy statements spread out. The schedule is fixed so that
# every run has the same mix in the same places (cold first statements,
# compactions); the seed picks the rows, keys and values. delete_using
# also stages its keys in `kill`, and refresh also reads the view.
ROUND = [
    "point", "insert_orders", "range", "insert_docs", "point", "update_range",
    "point", "jsonb", "insert_orders", "point", "update_from", "point",
    "docs", "insert_orders", "range", "point", "delete_using", "point",
    "insert_docs", "jsonb", "merge", "point", "recursive", "insert_orders",
    "point", "cascade_delete", "range", "point", "insert_docs", "docs",
    "insert_orders", "point", "refresh",
]
SECONDS_PER_ROUND = 20
# The session keeps the program's auto-compaction policy (fold the small
# batches once a table has more than 32). A round adds six batches to
# `orders` and three to `docs`, so reads plan more union arms as the round
# goes on, and a run does not reach the threshold.


def _q(s):
    return "'" + s.replace("'", "''") + "'"


class Model:
    """The generator's own model of the session's rows. Each statement it
    emits is applied here too, and reads are answered from it."""

    def __init__(self, rng):
        self.rng = rng
        self.customers = {}   # id -> (name, region, balance, referrer)
        self.orders = {}      # id -> [cust_id, amount, status, doc]
        self.adjust = {}      # a_id -> delta
        self.kill = []        # (k_id, reason)
        self.docs = {}        # _id -> {key: value}
        self.doc_keys = ["a", "b"]  # keys in order of creation
        self.used_keys = set(self.doc_keys)
        self.next_order = 0
        self.next_doc = 0
        self.generation = 0
        self.changed_bytes = {}  # (phase, index) -> logical bytes changed

    # -- helpers
    def doc_json(self, tier, k):
        return json.dumps({"tier": tier, "meta": {"k": k}})

    def new_order(self):
        oid = self.next_order
        self.next_order += 1
        cust = self.rng.choice(sorted(self.customers))
        row = [cust, self.rng.randint(1, 1000), self.rng.choice(STATUSES),
               self.doc_json(self.rng.choice(TIERS), self.rng.randint(0, 99))]
        return oid, row

    def totals(self):
        out = {}
        for cust, amount, status, _ in self.orders.values():
            n, s = out.get(status, (0, 0))
            out[status] = (n + 1, s + amount)
        return out

    def live_orders(self):
        return sorted(self.orders)

    def pick_range(self, width):
        hi = max(1, self.next_order)
        a = self.rng.randrange(hi)
        return a, a + width

    @staticmethod
    def row_bytes(*rows):
        """Logical size of rows: 8 bytes per number, the UTF-8 length of
        each string, nothing for NULL."""
        return sum(0 if v is None else len(v.encode()) if isinstance(v, str)
                   else 8 for r in rows for v in r)

    @staticmethod
    def order_values(oid, row):
        return f"({oid}, {row[0]}, {row[1]}, {_q(row[2])}, {_q(row[3])})"

    # -- setup
    def setup(self, n_customers=400, n_orders=2000):
        out = [
            ("ddl", "CREATE TABLE customers (id BIGINT, name STRING, "
                    "region STRING, balance BIGINT, referrer BIGINT)"),
            ("ddl", "CREATE TABLE orders (id BIGINT, cust_id BIGINT, "
                    "amount BIGINT, status STRING, doc STRING)"),
            ("ddl", "CREATE TABLE adjust (a_id BIGINT, delta BIGINT)"),
            ("ddl", "CREATE TABLE kill (k_id BIGINT, reason STRING)"),
            ("ddl", "CREATE DYNAMIC TABLE docs"),
            ("api", "fk orders cust_id customers id"),
        ]
        cust = []
        for i in range(n_customers):
            c = (f"cust{i:05d}", self.rng.choice(REGIONS),
                 self.rng.randint(0, 10000), None if i == 0 else i // 3)
            self.customers[i] = c
            cust.append((i, *c))
        orders = []
        for _ in range(n_orders):
            oid, row = self.new_order()
            self.orders[oid] = row
            orders.append((oid, *row))
        for oid in range(0, n_orders, 5):
            self.adjust[oid] = self.rng.randint(1, 50)
        self.init = {
            "customers": (["id", "name", "region", "balance", "referrer"], cust),
            "orders": (["id", "cust_id", "amount", "status", "doc"], orders),
            "adjust": (["a_id", "delta"], sorted(self.adjust.items())),
        }
        # the generated rows arrive as parquet files (written by run.py)
        for t in self.init:
            out.append(("write", f"INSERT INTO {t} SELECT * FROM "
                                 f"parquet.`{{init}}/{t}.parquet`"))
        out.append(self.insert_docs()[:2])
        out.append(("ddl", "CREATE INCREMENTAL MATERIALIZED VIEW order_totals "
                           "AS SELECT status, count(*) AS n, sum(amount) AS "
                           "total FROM orders GROUP BY status"))
        return [(k, False, s) for k, s in out]

    # -- writes: each returns (kind, sql, expected output or None,
    # logical bytes of the rows it inserts, updates or deletes)
    def insert_orders(self):
        vals, new = [], []
        for _ in range(5):
            oid, row = self.new_order()
            self.orders[oid] = row
            vals.append(self.order_values(oid, row))
            new.append((oid, *row))
        return ("write", "INSERT INTO orders (id, cust_id, amount, status, doc) "
                         "VALUES " + ", ".join(vals), None, self.row_bytes(*new))

    def insert_docs(self):
        # keys evolve: every fourth insert adds a new integer key
        self.generation += 1
        if self.generation % 4 == 0:
            self.doc_keys.append(f"x{len(self.doc_keys) - 2}")
        keys = ["a", "b"] + self.rng.sample(self.doc_keys[2:],
                                            min(2, len(self.doc_keys) - 2))
        self.used_keys.update(keys)
        rows = []
        for _ in range(3):
            did = f"d{self.next_doc:06d}"
            self.next_doc += 1
            doc = {"a": self.rng.randint(0, 999),
                   "b": self.rng.choice(TIERS)}
            for k in keys[2:]:
                doc[k] = self.rng.randint(0, 9)
            self.docs[did] = doc
            rows.append("(" + ", ".join(
                [_q(did)] + [_q(v) if isinstance(v, str) else str(v)
                             for v in (doc[k] for k in keys)]) + ")")
        cols = ", ".join(["_id"] + keys)
        new = [(d, *self.docs[d].values()) for d in sorted(self.docs)[-3:]]
        return ("write", f"INSERT INTO docs ({cols}) VALUES " + ", ".join(rows),
                None, self.row_bytes(*new))

    def update_range(self):
        a, b = self.pick_range(40)
        d = self.rng.randint(1, 9)
        hit = [i for i in self.live_orders() if a <= i <= b]
        for i in hit:
            self.orders[i][1] += d
        exp = [(i, *self.orders[i]) for i in hit]
        return ("write", f"UPDATE orders SET amount = amount + {d} "
                         f"WHERE id BETWEEN {a} AND {b}", exp, self.row_bytes(*exp))

    def update_from(self):
        a, b = self.pick_range(200)
        hit = [i for i in self.live_orders() if a <= i <= b and i in self.adjust]
        for i in hit:
            self.orders[i][1] += self.adjust[i]
        exp = [(i, self.orders[i][1], self.adjust[i]) for i in hit]
        return ("write", "UPDATE orders SET amount = amount + delta FROM adjust "
                         "WHERE orders.id = adjust.a_id AND orders.id BETWEEN "
                         f"{a} AND {b} RETURNING orders.id, amount, delta", exp,
                self.row_bytes(*[(i, *self.orders[i]) for i in hit]))

    def delete_using(self):
        live = self.live_orders()
        picks = sorted(self.rng.sample(live, min(4, len(live))))
        reason = self.rng.choice(["dup", "fraud", "spam"])
        staged = [(i, reason) for i in picks]
        self.kill += staged
        stage = ("write", "INSERT INTO kill (k_id, reason) VALUES " +
                 ", ".join(f"({i}, {_q(reason)})" for i in picks), None,
                 self.row_bytes(*staged))
        exp = [(i, self.orders[i][1], reason) for i in picks]
        gone = self.row_bytes(*[(i, *self.orders.pop(i)) for i in picks])
        return [stage, ("write", "DELETE FROM orders USING kill WHERE "
                                 "orders.id = kill.k_id RETURNING id, amount, "
                                 "reason", exp, gone)]

    def merge(self):
        live = self.live_orders()
        upd = self.rng.sample(live, min(2, len(live)))
        new_id = self.next_order
        self.next_order += 1
        cust = self.rng.choice(sorted(self.customers))
        src = [(i, self.rng.randint(1, 1000)) for i in upd] + \
              [(new_id, self.rng.randint(1, 1000))]
        for i, amt in src:
            if i in self.orders:
                self.orders[i][1] = amt
            else:
                self.orders[i] = [cust, amt, "new", "{}"]
        touched = self.row_bytes(*[(i, *self.orders[i]) for i, _ in src])
        vals = ", ".join(f"(CAST({i} AS BIGINT), CAST({a} AS BIGINT))"
                         for i, a in src)
        return ("write", "MERGE INTO orders USING (SELECT * FROM VALUES "
                         f"{vals} AS v(u_id, u_amount)) AS src ON orders.id = "
                         "src.u_id WHEN MATCHED THEN UPDATE SET amount = "
                         "u_amount WHEN NOT MATCHED THEN INSERT (id, cust_id, "
                         f"amount, status, doc) VALUES (u_id, {cust}, u_amount, "
                         "'new', '{}')", None, touched)

    def cascade_delete(self):
        # a leaf customer (no referral children) that has orders
        cands = sorted({c for c, *_ in self.orders.values()} - {0})
        cid = self.rng.choice(cands)
        c = self.customers.pop(cid)
        gone = [(i, *self.orders.pop(i)) for i in
                [i for i, r in self.orders.items() if r[0] == cid]]
        return ("write", f"DELETE FROM customers WHERE id = {cid}",
                [(cid, *c)], self.row_bytes((cid, *c), *gone))

    def refresh(self):
        # The view is read right after its refresh: auto-compaction of
        # `orders` also folds pending deltas into it, so between explicit
        # refreshes its contents depend on the compaction policy.
        rows = [(s, n, t) for s, (n, t) in sorted(self.totals().items())]
        return [("write", "REFRESH MATERIALIZED VIEW order_totals", None,
                 self.row_bytes(*rows)),
                ("read", "SELECT status, n, total FROM order_totals "
                         "ORDER BY status", rows)]

    # -- reads
    def point(self):
        i = self.rng.randrange(max(1, self.next_order))
        exp = [(i, *self.orders[i][:3])] if i in self.orders else []
        return ("read", "SELECT id, cust_id, amount, status FROM orders "
                        f"WHERE id = {i}", exp)

    def range(self):
        a, b = self.pick_range(300)
        hit = [self.orders[i][1] for i in self.orders if a <= i <= b]
        return ("read", "SELECT count(*) AS n, sum(amount) AS s FROM orders "
                        f"WHERE id BETWEEN {a} AND {b}",
                [(len(hit), sum(hit) if hit else None)])

    def jsonb(self):
        cid = self.rng.choice(sorted(self.customers))
        exp = []
        for i in sorted(self.orders):
            cust, _, _, doc = self.orders[i]
            if cust == cid:
                d = json.loads(doc)
                k = d.get("meta", {}).get("k")
                exp.append((i, d.get("tier"), k, k))
        return ("read", "SELECT id, doc->>'tier' AS tier, CAST(doc->'meta'->>'k' "
                        "AS BIGINT) AS k, CAST(doc #> '{meta,k}' AS BIGINT) AS k2 "
                        f"FROM orders WHERE cust_id = {cid} ORDER BY id", exp)

    def docs_read(self):
        lo = self.rng.randint(0, 900)
        exp = sorted((d, v["a"], v["b"]) for d, v in self.docs.items()
                     if lo <= v["a"] <= lo + 60)
        return ("read", f"SELECT _id, a, b FROM docs WHERE a BETWEEN {lo} AND "
                        f"{lo + 60} ORDER BY _id", exp)

    def recursive(self):
        root = self.rng.choice(sorted(c for c in self.customers if c < 40))
        exp, frontier = [(root, 0)], [root]
        for depth in range(1, 4):
            frontier = [c for c in sorted(self.customers)
                        if self.customers[c][3] in frontier]
            exp += [(c, depth) for c in frontier]
        return ("read", "WITH RECURSIVE tree(id, depth) AS (SELECT id, "
                        "CAST(0 AS BIGINT) AS depth FROM customers WHERE id = "
                        f"{root} UNION ALL SELECT c.id AS id, t.depth + 1 AS depth "
                        "FROM customers c JOIN tree t ON c.referrer = t.id "
                        "WHERE t.depth < 3) SELECT id, depth FROM tree "
                        "ORDER BY id", sorted(exp))

    KINDS = {"insert_orders": insert_orders, "insert_docs": insert_docs,
             "update_range": update_range, "update_from": update_from,
             "delete_using": delete_using, "merge": merge,
             "cascade_delete": cascade_delete, "refresh": refresh,
             "point": point, "range": range, "jsonb": jsonb,
             "docs": docs_read,
             "recursive": recursive}

    def emit(self, kind):
        """The statements for one `kind`, as (kind, sql, expected, bytes)."""
        out = self.KINDS[kind](self)
        out = out if isinstance(out, list) else [out]
        return [s if len(s) == 4 else (*s, 0) for s in out]

    def final_tables(self):
        """Expected final (column names, rows) per table. Names are given
        for the dynamic table only, whose column order follows its inserts;
        the others compare positionally. The view is checked where it is
        read, right after each refresh."""
        keys = [k for k in self.doc_keys if k in self.used_keys]
        return {
            "customers": (None, [(i, *c) for i, c in self.customers.items()]),
            "orders": (None, [(i, *r) for i, r in self.orders.items()]),
            "kill": (None, list(self.kill)),
            "docs": (["_id"] + keys, [(d, *[v.get(k) for k in keys])
                                      for d, v in self.docs.items()]),
        }

    def logical_bytes(self):
        """Logical size of the live rows of every table and the view."""
        rows = [r for _, rs in self.final_tables().values() for r in rs]
        view = [(s, n, t) for s, (n, t) in self.totals().items()]
        return self.row_bytes(*rows, *view, *self.adjust.items())


def session_inputs(seed, seconds, trace):
    """(setup, stream, expected, model). Statements are (kind, check,
    sql); `expected` maps each checked statement, keyed (phase, index) as
    the harness names it, to (ordered, rows)."""
    rng = random.Random(f"session_oltp:{seed}")
    model = Model(rng)
    setup = model.setup()
    expected = {}

    def add(phase, out, stmts):
        for kind, sql, exp, changed in out:
            model.changed_bytes[(phase, len(stmts))] = changed
            if exp is not None:
                expected[(phase, len(stmts))] = (" ORDER BY " in sql, exp)
            stmts.append((kind, exp is not None, sql))

    stream = []
    for _ in range(max(1, round(seconds / SECONDS_PER_ROUND))):
        for kind in ROUND:
            add("timed", model.emit(kind), stream)
    if trace:
        # the harness runs the second half with the tracer on
        half = len(stream) // 2
        def relabel(d):
            return {(("traced" if p == "timed" and i >= half else p), i): v
                    for (p, i), v in d.items()}
        expected = relabel(expected)
        model.changed_bytes = relabel(model.changed_bytes)
    return setup, stream, expected, model
