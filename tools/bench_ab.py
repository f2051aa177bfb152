#!/usr/bin/env python3
"""A/B of two commits on the repo benchmark, in alternating pairs.

    python3 tools/bench_ab.py --workload ingest-live --seeds 1701-1710 \\
        [--parent HEAD~1] [--change HEAD] [--seconds 7] [--trace 0] \\
        [--work /tmp/bench_ab] [--out results.json]

Builds one `git archive` copy of each commit under --work and runs
`perfbench/run.py` from each copy, one pair per seed, alternating which
side runs first. Neither the repository's perfbench/ nor its
BENCHMARK.json is touched: each side runs the benchmark files of its
own copy.

For every metric it prints each side's median and quartiles, the change's
wins over the parent pair by pair (ties count for neither side), and the
verdict of the rule for claiming a gain: the change wins at least 9 in 10
pairs, and the medians differ by more than the parent's interquartile
range. For a serve workload it also prints each seed's query panel and
each query's median warm wall per side, read from the run's
`[perfbench] panel (...)` and `query <name> median X s` lines: the
panel's latency p50 is whichever of its queries sits in the middle, so
a per-query table shows when that median moves from one query to
another.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def archive(rev, dest):
    """A fresh copy of `rev` at `dest`; an existing copy of the same
    commit is reused, so its benchmark build is too."""
    sha = subprocess.check_output(["git", "-C", ROOT, "rev-parse", rev], text=True).strip()
    stamp = os.path.join(dest, ".ab_commit")
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return sha
    subprocess.check_call(["rm", "-rf", dest])
    os.makedirs(dest)
    git = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", dest], stdin=git.stdout)
    if git.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    with open(stamp, "w") as f:
        f.write(sha)
    return sha


PANEL = re.compile(r"^\[perfbench\] panel \(\d+\): (.*)$")
QUERY = re.compile(r"^\[perfbench\] query (\S+)\s+median ([0-9.]+) s")


def serve_notes(stdout):
    """(panel query names, {query: median warm wall in s}) from a serve
    run's notes; both empty for the other workloads."""
    panel, medians = [], {}
    for line in stdout.splitlines():
        m = PANEL.match(line)
        if m:
            panel = [q.split("[")[0] for q in m.group(1).split()]
        m = QUERY.match(line)
        if m:
            medians[m.group(1)] = float(m.group(2))
    return panel, medians


def run_once(copy, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=copy, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"ok": False, "error": (p.stderr or p.stdout).strip()[-400:]}
    res = json.loads(lines[-1])
    panel, medians = serve_notes(p.stdout)
    return {"ok": True, "correct": res["correct"], "failed": res["failed"],
            "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "panel": panel, "query_median_s": medians}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(pairs, better):
    """Rows of (metric, parent median/q1/q3, change median/q1/q3, wins,
    pairs, verdict); figures over the pairs where both sides ran."""
    done = [(a, b) for a, b in pairs if a["ok"] and b["ok"]]
    rows = []
    for m in sorted({k for a, _ in done for k in a["metrics"]}):
        pa = [a["metrics"][m] for a, _ in done]
        ch = [b["metrics"][m] for _, b in done]
        sign = 1 if better.get(m, "lower") == "lower" else -1
        wins = sum(1 for x, y in zip(pa, ch) if sign * (x - y) > 0)
        pm, cm = statistics.median(pa), statistics.median(ch)
        pq1, pq3 = quartiles(pa)
        cq1, cq3 = quartiles(ch)
        gain = sign * (pm - cm)
        # failed pairs count against the claim: the rule is over all pairs run
        claim = wins * 10 >= 9 * len(pairs) and gain > pq3 - pq1
        rows.append((m, pm, pq1, pq3, cm, cq1, cq3, wins, len(pairs),
                     "gain" if claim else "-"))
    return rows


def print_panels(pairs):
    """Per seed: the panel, then each query's median warm wall per side."""
    if not any(p[s].get("panel") for p in pairs for s in ("parent", "change")):
        return
    print("\nper-query median warm wall (s) per seed; panel order as run")
    print(f"{'seed':>6s} {'query':34s} {'parent':>8s} {'change':>8s}")
    for p in pairs:
        names = p["parent"].get("panel") or p["change"].get("panel") or []
        print(f"{p['seed']:>6d} panel: {' '.join(names)}")
        for q in names:
            cells = [p[s].get("query_median_s", {}).get(q) for s in ("parent", "change")]
            print(f"{'':>6s} {q:34s} " +
                  " ".join(f"{x:8.3f}" if x is not None else f"{'-':>8s}" for x in cells))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1701-1710 or 5,7,9")
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--seconds", type=int, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default="/tmp/bench_ab")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    sides = {}
    for side, rev in (("parent", args.parent), ("change", args.change)):
        copy = os.path.join(args.work, side)
        sides[side] = (copy, archive(rev, copy))
        print(f"[ab] {side} = {rev} ({sides[side][1][:10]}) at {copy}", flush=True)
    with open(os.path.join(sides["change"][0], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(sides[side][0], args.workload, seed, args.seconds, args.trace)
            r = got[side]
            state = ("correct" if r.get("correct") else f"WRONG ({r.get('failed')} failed)") \
                if r["ok"] else f"FAILED: {r['error']}"
            print(f"[ab] seed {seed} {side:6s} {state}", flush=True)
        got["seed"] = seed
        pairs.append(got)

    rows = summarize([(p["parent"], p["change"]) for p in pairs], better)
    print(f"\n{args.workload}, --seconds {args.seconds} --trace {args.trace}, "
          f"seeds {args.seeds}; quartiles q1-q3; wins = change better in the pair")
    print(f"{'metric':44s} {'parent median (q1-q3)':>30s} {'change median (q1-q3)':>30s} "
          f"{'wins':>6s} verdict")
    for m, pm, pq1, pq3, cm, cq1, cq3, wins, n, verdict in rows:
        print(f"{m:44s} {pm:>12.6g} ({pq1:.6g}-{pq3:.6g}) {cm:>12.6g} ({cq1:.6g}-{cq3:.6g}) "
              f"{wins:>3d}/{n:<2d} {verdict}")
    print_panels(pairs)
    bad = [(p["seed"], s) for p in pairs for s in ("parent", "change")
           if not (p[s]["ok"] and p[s]["correct"])]
    print(f"[ab] runs failed or wrong: {bad if bad else 'none'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "parent": sides["parent"][1],
                       "change": sides["change"][1], "pairs": pairs}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
