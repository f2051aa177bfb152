#!/usr/bin/env python3
"""Per-query job accounting from a perfbench span file.

Usage: python3 tools/span_jobs.py <trace-*.json> [--pass PREFIX]

Reads the span file a traced run writes (perfbench/.work/run/
trace-<workload>-<seed>.json, from `perfbench/run.py --trace 1`) and
prints, for each pass, query and phase (construct or execute):

  jobs     Spark jobs launched while the phase ran
  job_ms   milliseconds during which at least one of those jobs ran
  wall_ms  the phase's wall time

followed by per-pass totals. `--pass warm` keeps only passes whose label
starts with `warm`. The script only reads the span file.

A job span names its phase through a thread-local property, so a job the
same thread launches after the phase ended (the traced run's model-load
probe after each pass) carries that phase as its parent too; jobs that
start more than LATE_MS after the phase's end are left out of the phase
and counted per pass as `after`.
"""
import argparse
import collections
import json
import sys

PHASES = ("construct", "execute")
# job starts are whole epoch ms from the scheduler, phase bounds come from
# the harness clock: allow this much skew before a job counts as late
LATE_MS = 20.0


def covered_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rows(spans, pass_prefix=""):
    """(pass, query, phase, jobs, job_ms, wall_ms, after) per phase span,
    in start order. A phase span's key is `<pass>/<query>#<n>.<phase>`;
    each job span names the phase that launched it as its parent."""
    jobs = collections.defaultdict(list)
    for s in spans:
        if s["name"] == "job":
            jobs[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = []
    for s in sorted(spans, key=lambda s: s["start_ms"]):
        if s["name"] not in PHASES:
            continue
        label, _, query = s["parent"].partition("/")
        if not label.startswith(pass_prefix):
            continue
        js = [j for j in jobs.get(s["key"], []) if j[0] <= s["end_ms"] + LATE_MS]
        after = len(jobs.get(s["key"], [])) - len(js)
        out.append((label, query.split("#")[0], s["name"], len(js),
                    covered_ms(js), s["end_ms"] - s["start_ms"], after))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--pass", dest="pass_prefix", default="",
                    help="keep only passes whose label starts with this")
    args = ap.parse_args(argv)
    with open(args.trace) as f:
        spans = json.load(f)
    rs = rows(spans, args.pass_prefix)
    if not rs:
        print("no construct/execute spans", file=sys.stderr)
        return 1
    print(f"{'pass':8s} {'query':32s} {'phase':9s} {'jobs':>5s} {'job_ms':>9s} {'wall_ms':>9s}")
    for label, query, phase, n, job_ms, wall, _ in rs:
        print(f"{label:8s} {query:32s} {phase:9s} {n:5d} {job_ms:9.1f} {wall:9.1f}")
    totals = collections.OrderedDict()
    for label, _, phase, n, job_ms, wall, after in rs:
        t = totals.setdefault(label, collections.Counter())
        t[phase + "_jobs"] += n
        t[phase + "_wall_ms"] += wall
        t["job_ms"] += job_ms
        t["after"] += after
    print()
    for label, t in totals.items():
        print(f"{label:8s} jobs={t['construct_jobs'] + t['execute_jobs']} "
              f"(construct {t['construct_jobs']}, execute {t['execute_jobs']}) "
              f"job_ms={t['job_ms']:.1f} construct_ms={t['construct_wall_ms']:.1f} "
              f"execute_ms={t['execute_wall_ms']:.1f} after={t['after']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
