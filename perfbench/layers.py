"""Per-layer split of a traced segment, from the harness's raw records.

Every traced operation's wall time is split into self times on the driver
timeline, in this order of precedence:

1. Catalyst: the union of `QueryPlanningTracker` phase intervals
   (analysis, then optimization, then planning);
2. jobs: the union of Spark job intervals, less Catalyst
   (`scheduler.job_wall_s`);
3. codegen: `CodeGenerator.compileTime` delta, taken from the time left
   over (`codegen.self_s`, at most the compile time);
4. the harness's spans around calls into the program, for what is left of
   each: `queries.construct_self_s` (a registry query function),
   `api.route_s` (`GraftSession.execute`) and `sink.self_s` (the noop
   write).

`unattributed_s` is the traced wall time none of these cover, and
`tracing_overhead_s` traced minus untraced wall time of the same work:
on llm_pipeline every traced pass also runs untraced; on session_oltp,
whose writes cannot be repeated, every traced read runs again warm,
untraced and traced. Counters (jobs, tasks, bytes, rows) are summed
over the traced operations.
"""
import glob
import os
import statistics

import pyarrow.parquet as pq


class Op:
    """One line of the harness's `ops.tsv`."""

    def __init__(self, r):
        (self.phase, passno, idx, self.name, self.kind, start, end, ok,
         self.err, compile_ns, compiles) = r
        self.passno, self.idx = int(passno), int(idx)
        self.start, self.end = int(start), int(end)
        self.ok = ok == "1"
        self.compile_ns, self.compiles = int(compile_ns), int(compiles)

    @property
    def seconds(self):
        return (self.end - self.start) / 1e9

    @property
    def op_id(self):
        return f"{self.phase}:{self.passno}:{self.idx}"


def union(intervals):
    """Sorted disjoint union of (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def measure(intervals):
    return sum(e - s for s, e in intervals)


def clip(intervals, lo, hi):
    return union([(max(s, lo), min(e, hi)) for s, e in intervals])


def minus(a, b):
    """a \\ b for two disjoint sorted interval lists."""
    out = []
    for s, e in a:
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
        if cur < e:
            out.append((cur, e))
    return out


def compiles_per_pass(timed_ops):
    """Codegen compiles in each timed pass: a set whose shapes fit the
    codegen cache compiles ~0 after the warm pass."""
    per = {}
    for o in timed_ops:
        per[o.passno] = per.get(o.passno, 0) + o.compiles
    return [per[p] for p in sorted(per)]


def _batch_rows(run_dir):
    rows = []
    path = os.path.join(run_dir, "batches.tsv")
    if os.path.exists(path):
        for line in open(path):
            phase, idx, table, n = line.rstrip("\n").split("\t")
            rows.append((phase, int(idx), table, int(n)))
    return rows


def batch_sawtooth(run_dir):
    """Live batch dirs per table after each measured statement."""
    out = {}
    for phase, _, table, n in _batch_rows(run_dir):
        if phase in ("timed", "traced"):
            out.setdefault(table, []).append(n)
    return out


def _rows_in(path):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def per_layer(run_dir, ops, meta, model):
    clock, spans, jobs, job_end, phases, tasks = None, [], {}, {}, [], []
    for line in open(os.path.join(run_dir, "trace.tsv")):
        r = line.rstrip("\n").split("\t")
        if r[0] == "clock":
            clock = (int(r[1]), int(r[2]))
        elif r[0] == "span":
            spans.append((r[1], r[2], int(r[4]), int(r[5])))
        elif r[0] == "job":
            jobs[int(r[1])] = (r[2], int(r[3]), int(r[4]))
        elif r[0] == "jobend":
            job_end[int(r[1])] = int(r[2])
        elif r[0] == "phase":
            phases.append((r[1], r[2], int(r[3]), int(r[4])))
        elif r[0] == "task":
            tasks.append((int(r[1]), r[2], [int(x) for x in r[3:]]))

    def ms(ns):  # harness nanoTime -> epoch ms
        return clock[1] + (ns - clock[0]) / 1e6

    traced = [o for o in ops if o.phase == "traced"]
    untraced = [o for o in ops if o.phase == "timed"]
    ids = {o.op_id for o in traced}
    by_op = {}
    for name, op, t0, t1 in spans:
        if name != "op":
            by_op.setdefault(op, []).append((name, ms(t0), ms(t1)))
    op_jobs = {}
    for jid, (op, start, nstages) in jobs.items():
        if op in ids:
            op_jobs.setdefault(op, []).append((start, job_end.get(jid, start)))

    m = {k: 0.0 for k in (
        "queries.construct_s", "queries.construct_self_s", "queries.construct_jobs",
        "api.route_s", "sink.self_s", "catalyst.analysis_s",
        "catalyst.optimization_s", "catalyst.planning_s", "codegen.compile_s",
        "codegen.self_s", "codegen.compiles", "scheduler.job_wall_s",
        "scheduler.driver_gap_s")}
    wall = 0.0
    for o in traced:
        lo, hi = ms(o.start), ms(o.end)
        wall += hi - lo
        cat = []
        for phase in ("analysis", "optimization", "planning"):
            iv = clip([(s, e) for op, name, s, e in phases if name == phase
                       and (op == o.op_id or (op == "" and s >= lo - 1 and e <= hi + 1))],
                      lo, hi)
            iv = minus(iv, union(cat))
            m[f"catalyst.{phase}_s"] += measure(iv) / 1e3
            cat = union(cat + iv)
        jw = minus(clip(op_jobs.get(o.op_id, []), lo, hi), cat)
        m["scheduler.job_wall_s"] += measure(jw) / 1e3
        m["scheduler.driver_gap_s"] += ((hi - lo) - measure(clip(
            op_jobs.get(o.op_id, []), lo, hi))) / 1e3
        busy = union(cat + jw)
        compile_left = o.compile_ns / 1e6
        m["codegen.compile_s"] += o.compile_ns / 1e9
        m["codegen.compiles"] += o.compiles
        # codegen is charged to the sink first (compiles happen when a
        # plan executes), then to the construct/execute span
        for name, s, e in sorted(by_op.get(o.op_id, []), key=lambda x: x[0] != "sink"):
            free = measure(minus([(s, e)], busy))
            code = min(compile_left, free)
            compile_left -= code
            m["codegen.self_s"] += code / 1e3
            own = (free - code) / 1e3
            if name == "sink":
                m["sink.self_s"] += own
            else:
                m["queries.construct_s"] += (e - s) / 1e3
                m["queries.construct_jobs"] += sum(
                    1 for js, _ in op_jobs.get(o.op_id, []) if s <= js <= e)
                key = "api.route_s" if name == "api.execute" else "queries.construct_self_s"
                m[key] += own

    stage_tasks = {}
    for stage, op, row in tasks:
        if op in ids:
            stage_tasks.setdefault(stage, []).append(row)
    rows = [r for rs in stage_tasks.values() for r in rs]
    col = lambda i: sum(r[i] for r in rows)  # noqa: E731
    skews = []
    for rs in stage_tasks.values():
        run = [r[0] for r in rs]
        if len(run) >= 2 and statistics.median(run) > 0:
            skews.append(max(run) / statistics.median(run))
    m["scheduler.jobs"] = sum(len(v) for v in op_jobs.values())
    m["scheduler.stages"] = sum(n for op, _, n in jobs.values() if op in ids)
    m["scheduler.tasks"] = len(rows)
    m["executor.run_s"] = col(0) / 1e3
    m["executor.cpu_s"] = col(1) / 1e9
    m["executor.gc_s"] = col(2) / 1e3
    m["executor.task_skew"] = statistics.mean(skews) if skews else 1.0
    m["scan.input_bytes"] = col(3)
    m["scan.input_rows"] = col(4)
    m["shuffle.write_bytes"] = col(5)
    m["shuffle.read_bytes"] = col(6)
    m["shuffle.spill_bytes"] = col(7)

    if model is None:  # llm_pipeline: rows out of each query's result
        out_rows = {q: _rows_in(os.path.join(run_dir, "results", q))
                    for q in {o.name for o in traced}}
        rows_out = sum(out_rows[o.name] for o in traced)
        m["api.output_bytes"] = m["api.files_written"] = m["api.write_amp"] = 0
        m["api.batch_dirs"] = m["api.compactions"] = 0
    else:
        rows_out = sum(_rows_in(os.path.join(run_dir, "outputs", f"traced-{o.idx}"))
                       for o in traced)
        m["api.output_bytes"] = col(8)
        m["api.files_written"] = sum(1 for r in rows if r[9] > 0)
        changed = sum(model.changed_bytes.get(("traced", o.idx), 0) for o in traced)
        m["api.write_amp"] = col(8) / changed if changed else 0.0
        counts = [(t, n) for p, _, t, n in _batch_rows(run_dir) if p == "traced"]
        m["api.batch_dirs"] = statistics.mean(n for _, n in counts) if counts else 0
        last, folds = {}, 0
        for t, n in counts:
            folds += t in last and n < last[t]
            last[t] = n
        m["api.compactions"] = folds
    m["scan.rows_examined_per_row_out"] = m["scan.input_rows"] / max(1, rows_out)
    m["jvm.peak_rss_mb"] = int(meta.get("peak_rss_kb", -1)) / 1024
    attributed = sum(m[k] for k in (
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "scheduler.job_wall_s", "codegen.self_s", "queries.construct_self_s",
        "api.route_s", "sink.self_s"))
    m["traced_wall_s"] = wall / 1e3
    m["unattributed_s"] = wall / 1e3 - attributed
    if model is None:
        m["tracing_overhead_s"] = wall / 1e3 - sum(o.seconds for o in untraced)
    else:
        m["tracing_overhead_s"] = sum(
            o.seconds if o.phase == "retraced" else -o.seconds
            for o in ops if o.phase in ("retraced", "repeat"))
    return {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(m.items())}


UNITS = {
    "traced_wall_s": "s", "queries.construct_s": "s",
    "queries.construct_self_s": "s", "queries.construct_jobs": "count",
    "api.route_s": "s", "sink.self_s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "codegen.self_s": "s", "codegen.compiles": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_wall_s": "s",
    "scheduler.driver_gap_s": "s", "executor.run_s": "s", "executor.cpu_s": "s",
    "executor.gc_s": "s", "executor.task_skew": "ratio",
    "scan.input_bytes": "bytes", "scan.input_rows": "rows",
    "scan.rows_examined_per_row_out": "ratio", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "api.output_bytes": "bytes", "api.files_written": "count",
    "api.write_amp": "ratio", "api.batch_dirs": "count",
    "api.compactions": "count", "jvm.peak_rss_mb": "MB",
    "unattributed_s": "s", "tracing_overhead_s": "s",
}
