#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs graft.Verify on a scale-factor dir, then replays every oracle SQL in
DuckDB over the same parquet tables and compares: column names (sorted),
column TYPES (via DESCRIBE on both sides — the driver hashes typed values,
so an uncast SUM() returning HUGEINT vs Spark's BIGINT must fail here too),
row counts, and values (exact for ints/strings; exact-or-report for
doubles). Strictly stricter than the driver's hash compare — if this
passes, the driver's gate passes.

Usage: python3 tools/check.py [--render-first] [--asym] \
           [sf_dir] [out_dir] [filter]

--asym additionally replays the ASYMMETRIC read-path compare that burned
r15–r17 on ds38 (PLANS.md §ds38): the same-connection typed compare
below structurally cancels engine-specific value conversions, but a
driver that reads the Spark parquet via one path (fetchall/pyarrow:
DECIMAL(38,0) stays Decimal -> "...900") and the oracle via another
(fetchdf(): float64 -> "...900.0") sees different STRINGS for equal
values. --asym renders the Spark side via fetchall and the oracle via
fetchdf and compares the renderings, so that failure class is locally
reproducible forever. It self-tests first: a seeded DECIMAL(38,0) probe
must go red and its BIGINT twin green, or the run aborts (the local
duckdb no longer reproduces the mechanism).

--render-first pins render-order independence (the CORRECTNESS_r09
failure mode): it renders ALL oracle SQL in a FRESH JVM — no query has
run, the literal stash is cold, so literals must come from the committed
snapshot, the compiled-in graft.OracleLiteralsSnapshot (the only literal
channel; graft.SnapshotGen regenerates it) — and then compares every
query against THAT cold-rendered SQL. Green here means a driver harness
may render SparkEntry.oracleSql in any process, in any order, and still
get the exact literals the Spark plans use.

graft.Verify writes only under out_dir, so a run leaves the checkout
untouched.
"""
import json, math, subprocess, sys, glob, os

USAGE = ("usage: python3 tools/check.py [--render-first] [--asym] "
         "[sf_dir] [out_dir] [filter]")

# Reject unknown flags instead of binding them to positionals: `check.py
# --help` used to launch a full Spark Verify against a dir literally named
# `--help` (VERDICT r13 What's-wrong #2 — same class RenderOracles fixed
# in r11).
if any(a in ("--help", "-h") for a in sys.argv[1:]):
    print(USAGE)
    print(__doc__)
    sys.exit(0)
FLAGS = ("--render-first", "--asym")
unknown = [a for a in sys.argv[1:]
           if a.startswith("-") and a not in FLAGS]
if unknown:
    print(f"check.py: unknown flag(s): {', '.join(unknown)}")
    print(USAGE)
    sys.exit(2)

args = [a for a in sys.argv[1:] if a not in FLAGS]
RENDER_FIRST = "--render-first" in sys.argv[1:]
ASYM = "--asym" in sys.argv[1:]
SF = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
OUT = args[1] if len(args) > 1 else "/tmp/graft_verify"
FILT = args[2] if len(args) > 2 else ""

# A cold render is only valid at the canonical snapshot scale: the
# compiled-in literal snapshot (graft.OracleLiteralsSnapshot) is pinned to
# sf0.01 (OracleLiterals.CanonicalDir), so a cold render at any other
# scale serves canonical-scale literals that the warm recompute then
# contradicts — the run would die late with a misleading "cold vs warm
# differ" diff (VERDICT r13 What's-wrong #1). Refuse the combination up
# front, before any JVM launches.
CANONICAL_SF = "/root/testdata/sf0.01"
def _same_dir(a, b):
    try:
        return os.path.realpath(a) == os.path.realpath(b)
    except OSError:
        return a == b
if RENDER_FIRST and not _same_dir(SF, CANONICAL_SF):
    print(f"check.py: --render-first is only valid at the canonical "
          f"snapshot scale {CANONICAL_SF} (got {SF}).\n"
          "The compiled-in literal snapshot is sf0.01-pinned "
          "(OracleLiterals.scala: CanonicalDir); a cold render at another "
          "scale would serve canonical-scale literals that the warm "
          "recompute contradicts. Run this scale WITHOUT --render-first "
          "(the warm path recomputes literals for the actual corpus).")
    sys.exit(2)

ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]

CP = "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"

def run_verify():
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    cmd = (["java"] + ADD_OPENS +
           ["-cp", CP, "-Xmx8g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "graft.Verify", SF, OUT] +
           ([FILT] if FILT else []))  # subset iteration: dump only matches
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("VERIFY-ERR:", line[:300])
    if r.returncode != 0:
        print("verify exited", r.returncode)
        print(r.stderr[-3000:])
        sys.exit(1)

def render_cold():
    """Fresh-JVM oracle render BEFORE any query runs — stash cold by
    construction. A WARNING line from OracleLiterals means a fallback was
    emitted: that is exactly the render-order bug, so fail loudly."""
    cold = f"{OUT}/oracle_sql_cold.json"
    # pass the intended verify scale: a persisted serve at a different
    # snapshot scale then WARNs (caught just below) instead of slipping
    # through to a misleading cold-vs-warm diff
    cmd = (["java"] + ADD_OPENS +
           ["-cp", CP, "graft.RenderOracles", cold, SF])
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        print("render-first: RenderOracles failed rc", r.returncode)
        print(r.stderr[-3000:])
        sys.exit(1)
    # OracleLiterals also prints per-key INFO notes when serving from the
    # committed snapshot (the designed cold path) — only WARNINGs mean a
    # fallback was emitted.
    warn = [l for l in r.stderr.splitlines()
            if "[OracleLiterals]" in l and "WARNING" in l]
    if warn:
        print(f"render-first: {len(warn)} cold-stash fallback(s) emitted "
              "— the committed literal snapshot is missing entries:")
        for l in warn[:10]:
            print("  ", l[:220])
        sys.exit(1)
    # structural: grep the rendered SQL itself for the loud-fail marker —
    # independent of stderr wording, this is the exact text the loud-fail
    # CTE of OracleLiterals.get embeds (graft.OracleLiterals.MissingMarker)
    rendered = json.load(open(cold))
    bad = sorted(k for k, v in rendered.items()
                 if "graft literal snapshot missing" in v)
    if bad:
        print("render-first: cold-rendered oracles carry the "
              f"missing-literal marker: {', '.join(bad)}")
        sys.exit(1)
    print("render-first: cold render OK, no fallback warnings, no "
          "missing-literal markers")
    return cold

def _render_asym(v):
    """One value, rendered the way a stringify-then-hash harness would.
    No numeric normalization — preserving the decimal-vs-float64
    asymmetry is the point. Temporal values ARE normalized (DATE arrives
    as datetime.date via fetchall but datetime64-midnight via fetchdf —
    a dtype-container difference, not a value-rendering one)."""
    import datetime as _dt
    if v is None:
        return "NULL"
    try:
        import pandas as pd
        if not isinstance(v, (list, tuple, dict, bytes, bytearray)) \
                and pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, _dt.datetime):      # incl. pd.Timestamp
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat() + " 00:00:00"
    if hasattr(v, "tolist"):             # numpy array/scalar containers
        v = v.tolist()
    return str(v)

def _asym_diff(srows, sn, con, sql):
    """Asymmetric compare: `srows` came from fetchall() (the Spark
    parquet side); the oracle is re-read through fetchdf() so its
    values take the pandas read path (DECIMAL(38,0) -> float64). One
    deliberate normalization: a NULL-bearing BIGINT oracle column
    float64-promotes under fetchdf ("42" vs "42.0" for plain integers)
    — 18 rounds of driver green on nullable-BIGINT outputs prove the
    driver's compare does NOT diverge there, so int-vs-integral-float
    pairs render as the int. Decimal-vs-float pairs do NOT normalize:
    that is the ds38 mechanism under test.
    Returns None or (row, col, spark_str, oracle_str)."""
    df = con.execute(sql).fetchdf()
    df = df[list(sn)]
    orows = list(df.itertuples(index=False, name=None))
    if len(orows) != len(srows):
        return (-1, "(rowcount)", str(len(srows)), str(len(orows)))
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        for j, (a, b) in enumerate(zip(sr, orr)):
            sa, sb = _render_asym(a), _render_asym(b)
            if sa == sb:
                continue
            if isinstance(a, int) and not isinstance(a, bool) \
                    and isinstance(b, float) and not math.isnan(b) \
                    and b.is_integer() and str(a) == str(int(b)):
                continue  # nullable-BIGINT float64 promotion (see above)
            return (i, sn[j], sa, sb)
    return None

def asym_selftest(con):
    """--asym is only trustworthy if the local duckdb reproduces the
    mechanism: a seeded DECIMAL(38,0) output must go red under the
    asymmetric compare and its BIGINT twin must stay green."""
    import tempfile
    d = tempfile.mkdtemp(prefix="graft_asym_probe_")
    probes = [
        ("decimal", "SELECT CAST(3916693500500 AS DECIMAL(38,0)) AS v",
         True),
        ("bigint", "SELECT CAST(3916693500500 AS BIGINT) AS v", False),
    ]
    for tag, q, expect_red in probes:
        p = f"{d}/{tag}.parquet"
        con.execute(f"COPY ({q}) TO '{p}' (FORMAT PARQUET)")
        srows = con.execute(
            f"SELECT * FROM read_parquet('{p}')").fetchall()
        bad = _asym_diff(srows, ["v"], con, q)
        if expect_red and bad is None:
            print("asym: SELFTEST FAILED — the seeded DECIMAL(38,0) "
                  "probe did not go red: this duckdb no longer renders "
                  "fetchdf decimals as float64, so --asym cannot "
                  "reproduce the read-path failure class here")
            sys.exit(1)
        if not expect_red and bad is not None:
            print(f"asym: SELFTEST FAILED — the BIGINT twin went red "
                  f"({bad!r}): the renderer itself is broken")
            sys.exit(1)
    print("asym: selftest OK — seeded decimal probe red, bigint twin green")

def compare(oracle_path):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.load(open(oracle_path))
    if ASYM:
        asym_selftest(con)
    results = sorted(d for d in glob.glob(f"{OUT}/*") if os.path.isdir(d))
    npass = nfail = nrows_only = 0
    for rdir in results:
        name = os.path.basename(rdir)
        if FILT and FILT not in name:
            continue
        try:
            spark_rel = con.execute(
                f"SELECT * FROM read_parquet('{rdir}/*.parquet')")
            scols = spark_rel.description
            srows = spark_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark result: {e}")
            nfail += 1
            continue
        if name not in oracle:
            status = "ROWS-ONLY" if len(srows) > 0 else "ROWS-ONLY-EMPTY!"
            if len(srows) == 0:
                nfail += 1
            else:
                nrows_only += 1
            print(f"{status:5} {name}: {len(srows)} rows")
            continue
        try:
            ora_rel = con.execute(oracle[name])
            ocols = ora_rel.description
            orows = ora_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            nfail += 1
            continue
        sn = [c[0] for c in scols]
        on = [c[0] for c in ocols]
        if sorted(sn) != sorted(on):
            print(f"FAIL {name}: columns differ spark={sorted(sn)} oracle={sorted(on)}")
            nfail += 1
            continue
        # Typed compare: the driver hashes typed values, so HUGEINT vs BIGINT
        # is a driver failure even when every value matches. DESCRIBE both
        # relations and require per-column type equality.
        try:
            stypes = dict(con.execute(
                f"SELECT column_name, column_type FROM "
                f"(DESCRIBE SELECT * FROM read_parquet('{rdir}/*.parquet'))").fetchall())
            otypes = dict(con.execute(
                f"SELECT column_name, column_type FROM (DESCRIBE {oracle[name]})").fetchall())
        except Exception as e:
            print(f"FAIL {name}: DESCRIBE error: {str(e)[:200]}")
            nfail += 1
            continue
        tbad = [(c, stypes.get(c), otypes.get(c)) for c in sn
                if stypes.get(c) != otypes.get(c)]
        if tbad:
            c, st, ot = tbad[0]
            print(f"FAIL {name}: type mismatch col {c}: spark={st} oracle={ot}")
            nfail += 1
            continue
        # reorder oracle rows' values into spark column order
        operm = [on.index(c) for c in sn]
        orows = [tuple(r[i] for i in operm) for r in orows]
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            nfail += 1
            continue
        bad = None
        for i, (sr, orr) in enumerate(zip(srows, orows)):
            for j, (a, b) in enumerate(zip(sr, orr)):
                if a == b:
                    continue
                if isinstance(a, float) and isinstance(b, float):
                    if (math.isnan(a) and math.isnan(b)):
                        continue
                    bad = (i, sn[j], a, b,
                           abs(a - b) / max(1e-300, abs(b)))
                    break
                bad = (i, sn[j], a, b, None)
                break
            if bad:
                break
        if bad:
            i, cname, a, b, rel = bad
            extra = f" relerr={rel:.2e}" if rel is not None else ""
            print(f"FAIL {name}: row {i} col {cname}: spark={a!r} oracle={b!r}{extra}")
            nfail += 1
            continue
        if ASYM:
            try:
                abad = _asym_diff(srows, sn, con, oracle[name])
            except Exception as e:
                abad = (-1, "(asym error)", "", str(e)[:200])
            if abad:
                i, cname, sa, sb = abad
                print(f"ASYM-FAIL {name}: row {i} col {cname}: "
                      f"spark-render={sa!r} oracle-render={sb!r} "
                      "(typed compare passed — read-path-fragile output)")
                nfail += 1
                continue
        npass += 1
        print(f"PASS  {name}: {len(srows)} rows")
    print(f"\n== {npass} pass, {nrows_only} rows-only, {nfail} fail ==")
    sys.exit(1 if nfail else 0)

if __name__ == "__main__":
    oracle_path = render_cold() if RENDER_FIRST else None
    run_verify()
    if RENDER_FIRST:
        # the cold (pre-run) render must equal the warm (post-run) one
        cold = json.load(open(oracle_path))
        warm = json.load(open(f"{OUT}/oracle_sql.json"))
        diff = sorted(k for k in set(cold) | set(warm)
                      if cold.get(k) != warm.get(k))
        if diff:
            print(f"render-first: {len(diff)} oracle(s) differ between "
                  f"cold and warm render: {', '.join(diff[:10])}")
            sys.exit(1)
        print(f"render-first: cold == warm for all {len(warm)} oracles")
    compare(oracle_path or f"{OUT}/oracle_sql.json")
