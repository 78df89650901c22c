"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The first run builds
the program and the harness (`perfbench/build.py`) and writes the corpus
(`perfbench/datagen.py`) under `.perfbench/`; both are reused while their
inputs are unchanged. A run then starts one Spark JVM (`local[k]`,
k = min(4, nproc)), which sets up, runs the untimed warm pass, runs the
timed closed loop and writes raw records; this script checks correctness
and prints the metrics. Its last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1`, the per-layer split of
a traced segment (see `layers.py`). The line before it is a detail record
with every metric the run computed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ["llm_pipeline", "session_oltp"]
JVM_TIMEOUT_S = 165
# Phases of the operations that count as attempted: the timed and traced
# ones, and on session_oltp the warm repeats of traced reads.
MEASURED = ("timed", "traced", "repeat", "retraced")
STATE = os.path.join(os.getcwd(), ".perfbench")


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def ensure_data():
    """The corpus, written once per checkout (fixed seed, sf0.1 counts)."""
    out = os.path.join(STATE, "data", "sf0.1")
    done = os.path.join(out, "_done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        log("writing the sf0.1 corpus")
        datagen.write(out, seed=42)
        open(done, "w").close()
    return out


def write_lines(path, lines):
    with open(path, "w") as fh:
        fh.write("".join(line + "\n" for line in lines))


def write_stmts(path, stmts):
    write_lines(path, [f"{k}\t{int(c)}\t{s}" for k, c, s in stmts])


def write_init(out_dir, tables):
    """The session's initial rows, one parquet file per table (numbers as
    BIGINT, text as STRING)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir)
    for name, (columns, rows) in tables.items():
        cols = list(zip(*rows))
        arrays = [pa.array(c, pa.string() if any(isinstance(v, str) for v in c)
                           else pa.int64()) for c in cols]
        pq.write_table(pa.table(dict(zip(columns, arrays))),
                       os.path.join(out_dir, f"{name}.parquet"))


def read_tsv(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [line.rstrip("\n").split("\t") for line in fh if line.strip()]


def run_jvm(cp, args, log_path):
    """Runs the harness; its scratch (Spark local dirs, temp files) stays
    in the run directory."""
    cmd = (["java", "-Xms1g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.dirname(log_path)}"]
           + build.ADD_OPENS + ["-cp", cp, "perfbench.Harness"] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop():
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        def on_term(*_):
            stop()
            sys.exit(3)
        # the JVM runs in its own process group: it stops with this script
        signal.signal(signal.SIGTERM, on_term)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            return None
        except BaseException:
            stop()
            raise


def percentile_stats(lat):
    """(median, tail, tail percentile): the tail is the latency with
    exactly 10 samples beyond it, the highest percentile a run of this
    size measures. A group too small for that tail to lie above the median
    (fewer than 22 samples) has no tail: None."""
    lat = sorted(lat)
    n = len(lat)
    if n == 0:
        return None, None, None
    mid = lat[(n - 1) // 2] if n % 2 else (lat[n // 2 - 1] + lat[n // 2]) / 2
    k = n - 11
    if k <= (n - 1) // 2:
        return mid, None, None
    return mid, lat[k], (k + 1) / n


def key(o):
    return (o.phase, o.passno, o.idx)


def summarize(ops, wrong, extra_failed, split):
    """Counts and end-to-end statistics of the measured operations.

    `wrong` holds the keys of operations whose output was wrong;
    `extra_failed` counts failures tied to no single operation. A failed
    operation counts as missing every latency metric. Latency and
    throughput come from the untraced (`timed`) operations only; `split`
    adds the same statistics over reads and writes separately.
    """
    measured = [o for o in ops if o.phase in MEASURED]
    failed_keys = {key(o) for o in measured if not o.ok or key(o) in wrong}
    attempted = len(measured) + extra_failed
    failed = len(failed_keys) + extra_failed
    timed = [o for o in ops if o.phase == "timed"]
    good = [o for o in timed if key(o) not in failed_keys]
    wall = sum(o.seconds for o in timed)
    metrics = {"throughput_ops_s": (len(good) / wall if wall > 0 else 0.0, "ops/s")}
    samples = {}
    groups = [("", good)]
    if split:
        groups += [("read_", [o for o in good if o.kind == "read"]),
                   ("write_", [o for o in good if o.kind == "write"])]
    for prefix, group in groups:
        p50, tail, q = percentile_stats([o.seconds for o in group])
        metrics[f"{prefix}latency_p50_s"] = (p50, "s")
        metrics[f"{prefix}latency_tail_s"] = (tail, "s")
        samples[f"{prefix}latency_tail_percentile"] = q
        samples[f"{prefix}latency_samples"] = len(group)
    metrics["failed_ratio"] = (failed / attempted if attempted else 0.0, "ratio")
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "samples": samples}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    trace = a.trace == 1

    cp = build.build()
    data = ensure_data()
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    session = a.workload == "session_oltp"
    if not session:
        queries = workloads.LLM_PIPELINE
        write_lines(os.path.join(run_dir, "warm.txt"),
                    [" ".join(queries)] * workloads.WARM_PASSES)
        passes = workloads.query_passes(a.seed, a.seconds, trace)
        write_lines(os.path.join(run_dir, "passes.txt"),
                    [" ".join(p) for p in passes])
    else:
        setup, stream, expected, model = workloads.session_inputs(
            a.seed, a.seconds, trace)
        init = os.path.join(run_dir, "init")
        write_init(init, model.init)
        write_stmts(os.path.join(run_dir, "setup.tsv"),
                    [(k, c, sql.replace("{init}", init)) for k, c, sql in setup])
        write_stmts(os.path.join(run_dir, "stream.tsv"), stream)
        write_lines(os.path.join(run_dir, "tables.txt"), list(model.final_tables()))

    t0 = time.time()
    code = run_jvm(cp, [a.workload, run_dir, data, str(a.trace), str(cpus()),
                        str(4 * a.seconds)], os.path.join(run_dir, "jvm.log"))
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"harness JVM failed (exit {code})")
        return 2

    meta = dict(read_tsv(os.path.join(run_dir, "meta.tsv")))
    ops = [layers.Op(r) for r in read_tsv(os.path.join(run_dir, "ops.tsv"))]
    detail = {"workload": a.workload, "seed": a.seed, "local_k": cpus()}
    measured = [o for o in ops if o.phase in MEASURED]
    if not session:
        bad = {q: r for q, r in oracle.check_queries(run_dir, data, queries).items() if r}
        for o in ops:
            if o.phase in ("warm", "dump") and not o.ok:
                bad.setdefault(o.name, f"threw in the {o.phase} pass: {o.err}")
        wrong = {key(o) for o in measured if o.name in bad}
        detail["wrong_queries"] = bad
        extra = 0
    else:
        bad_stmts, bad_tables = oracle.check_session(
            run_dir, expected, model.final_tables())
        wrong = {key(o) for o in measured if (o.phase, o.idx) in bad_stmts}
        detail["wrong_statements"] = {f"{p}-{i}": r for (p, i), r in bad_stmts.items()}
        detail["wrong_tables"] = bad_tables
        # a final table that differs from the model is one more failure
        extra = len(bad_tables)
    s = summarize(ops, wrong, extra, split=session)
    detail["errors"] = [f"{o.name}: {o.err}" for o in measured if not o.ok]
    detail.update(s["samples"])
    e2e = s["metrics"]
    e2e["setup_s"] = (int(meta["timed_start_ms"]) / 1000 - t0, "s")
    if session:
        e2e["storage_amp"] = (int(meta["disk_bytes"]) / model.logical_bytes(), "ratio")
        detail["write_share"] = sum(k == "write" for k, _, _ in stream) / len(stream)
        detail["batch_dirs"] = layers.batch_sawtooth(run_dir)
    else:
        detail["distinct_queries"] = len(queries)
        detail["codegen_cache_entries"] = int(meta["codegen_cache_max_entries"])
        detail["timed_passes"] = int(meta.get("timed_passes", 0))
        detail["compiles_per_pass"] = layers.compiles_per_pass(
            [o for o in ops if o.phase == "timed"])
    detail["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = s["failed"] == 0

    if trace:
        metrics = layers.per_layer(run_dir, ops, meta, model if session else None)
        detail["per_layer"] = metrics
    else:
        gated = ["setup_s", "latency_p50_s", "latency_tail_s", "throughput_ops_s"]
        metrics = {k: detail["metrics"][k] for k in gated}
    print(json.dumps(detail, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    if any(m["value"] is None for m in metrics.values()):
        log("a metric has no samples")
        correct = False
        metrics = {k: {"value": (m["value"] if m["value"] is not None else -1.0),
                       "unit": m["unit"]} for k, m in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
