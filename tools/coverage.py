#!/usr/bin/env python3
"""Derive the per-corpus coverage counts from the source tree, so the
SURVEY/README numbers are grep-derived facts rather than hand-maintained
prose (they drifted twice before round 15 — README said 259/206 while
the registry was 366).

Counts reported:
  registry        — query ids registered in SparkEntry (one `"<id>" ->`
                    per entry across the queries maps)
  tpcds_cited     — distinct query<N>.tpl citations pointing into
                    /root/reference/benchmark/tpcds/ (98 of 99 as of
                    r15; q72's inventory triple join has no direct
                    8-table analogue — see ds73's proxy note)
  job_queries     — jobN query ids (family accounting lives in
                    BreadthQueries' scaladoc: 33/33 families)
  per_prefix      — registry ids bucketed by prefix family

Usage: python3 tools/coverage.py [--json] [--expect N] [--ids-file F]

  --expect N    fail (exit 1) unless the static registry count equals N
                — a checked-in cross-check against silent drops if an
                entry is ever bound through a helper val or different
                lambda formatting (ADVICE r15).
  --ids-file F  newline-separated query ids as rendered by the JVM
                (e.g. `ls <verify-outdir>` basenames); prints the
                symmetric diff vs the static set and fails on mismatch.
"""
import json, os, re, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QDIR = os.path.join(REPO, "src/main/scala/graft/queries")


def read_all():
    out = []
    for fn in sorted(os.listdir(QDIR)):
        if fn.endswith(".scala"):
            with open(os.path.join(QDIR, fn)) as f:
                out.append(f.read())
    return "\n".join(out)


def registry_ids():
    """Query ids as the driver sees them: render SparkEntry.queries'
    key set would need a JVM; the static proxy is every `"<id>" ->`
    key that appears in BOTH a queries map and (id-identically) at
    most once — in practice ids are unique strings of [a-z0-9_]+
    starting with a known family prefix and bound with `-> ((s`. """
    src = read_all()
    ids = set(re.findall(r'"([a-z][a-z0-9_]+)"\s*->\s*\(\(s\b', src))
    # block-valued entries ( `-> {` ) — e.g. oracle-side only; queries
    # are always lambdas, so the lambda-bound set IS the registry.
    return sorted(ids)


def main():
    ids = registry_ids()
    src = read_all()
    tpcds = sorted(set(
        int(m) for m in re.findall(r"query(\d+)\.tpl", src)))
    jobq = sorted(set(i for i in ids if re.match(r"job\d+_", i)),
                  key=lambda x: int(re.match(r"job(\d+)_", x).group(1)))
    prefixes = {}
    for i in ids:
        p = re.match(r"([a-z]+)", i).group(1)
        prefixes[p] = prefixes.get(p, 0) + 1
    rep = {
        "registry": len(ids),
        "tpcds_cited": len(tpcds),
        "tpcds_missing": [q for q in range(1, 100) if q not in tpcds],
        "job_queries": len(jobq),
        "per_prefix": dict(sorted(prefixes.items())),
    }
    if "--json" in sys.argv:
        print(json.dumps(rep, indent=2))
    else:
        print(f"registry ids (static): {rep['registry']}")
        print(f"tpcds templates cited: {rep['tpcds_cited']}/99 "
              f"(missing: {rep['tpcds_missing']})")
        print(f"job queries: {rep['job_queries']} "
              "(33/33 families per BreadthQueries scaladoc)")
        print("per prefix:", ", ".join(
            f"{k}:{v}" for k, v in sorted(prefixes.items())))
    # Flag values are read positionally, so a missing or malformed value
    # must die with usage, not an IndexError/ValueError traceback
    # (ADVICE r16).
    def _flag_value(flag):
        idx = sys.argv.index(flag)
        if idx + 1 >= len(sys.argv):
            print(f"usage: {flag} <value> (no value given)",
                  file=sys.stderr)
            sys.exit(2)
        return sys.argv[idx + 1]

    rc = 0
    if "--expect" in sys.argv:
        raw = _flag_value("--expect")
        try:
            want = int(raw)
        except ValueError:
            print(f"usage: --expect takes an integer (got {raw!r})",
                  file=sys.stderr)
            sys.exit(2)
        if len(ids) != want:
            print(f"EXPECT MISMATCH: static registry {len(ids)} != "
                  f"expected {want}", file=sys.stderr)
            rc = 1
    if "--ids-file" in sys.argv:
        path = _flag_value("--ids-file")
        with open(path) as f:
            # a Verify outdir listing carries a non-query sidecar
            # (oracle_sql.json) — keep only query-id-shaped names
            rendered = set(l.strip() for l in f
                           if re.fullmatch(r"[a-z][a-z0-9_]+", l.strip()))
        static = set(ids)
        only_static = sorted(static - rendered)
        only_jvm = sorted(rendered - static)
        if only_static or only_jvm:
            print(f"IDS MISMATCH: static-only={only_static} "
                  f"jvm-only={only_jvm}", file=sys.stderr)
            rc = 1
        else:
            print(f"ids-file cross-check OK ({len(rendered)} ids)")
    return rc


if __name__ == "__main__":
    sys.exit(main())
