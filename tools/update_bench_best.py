#!/usr/bin/env python3
"""Fold one or more bench JSON files into tools/bench_best.json — the
best-known (minimum) per-query serve time across all rounds at sf0.1.

graft.Bench reads this file at the end of a run and emits a
`regressions` section: queries whose current min exceeds 1.5x their
best-known min (floored at 0.3 s — below that the delta is plan/JVM
overhead, not data work). Each flagged entry must be explained in the
round's SCALE.md notes: honest re-measurement, fixture regeneration,
or a plan change (the last one is the bug).

Usage:
  python3 tools/update_bench_best.py BENCH_r10.json [BENCH_r11.json ...]

Seeding note: the file was seeded from round 10 onward ONLY. Rounds
1-9 ran under different bench accounting (no warmup-rebuild guard, no
adaptive re-reps — r9 had 20 noisy queries) and earlier fixture
generations, so their mins are not comparable baselines: an
all-history min flagged 60 phantom "regressions" at ratios up to 37x.
Round 10 is the first round whose mins the noise discipline certifies.
"""
import json
import re
import sys
import os

BEST = os.path.join(os.path.dirname(__file__), "bench_best.json")

# Only these maps on the bench line hold SECONDS keyed by query name.
# Other q-keyed maps hold different units — `extra_reps` (integer rep
# counts) and `regressions` (now/best RATIOS) — and must never be
# folded: a ratio like 1.850 min-folded as seconds silently corrupts
# the baseline of any query slower than its own ratio.
SECONDS_MAPS = ("queries", "slowest")

# Regex fallback for driver wrapper files whose `tail` truncated the
# head of the JSON line. Decimal-pointed values only (excludes the
# integer-valued extra_reps); the regressions map is stripped from the
# text BEFORE this runs.
QVAL = re.compile(r'\\?"(q\d+_[a-z0-9_]+)\\?":\s*(\d+\.\d+)')
REGBLOCK = re.compile(r'\\?"regressions\\?":\s*\{[^{}]*\}')


def load_bench(path):
    """Harvest (query, seconds) pairs from a bench stdout line or a
    driver wrapper file. Strict JSON first — read ONLY the seconds
    maps (queries/slowest; min-per-query dedupes their overlap). A
    file with no parseable JSON line (tail-truncated wrapper) falls
    back to regex harvesting with the ratio-valued regressions map
    stripped first."""
    with open(path) as f:
        txt = f.read()
    out = {}

    def fold(q, v):
        v = float(v)
        if q not in out or v < out[q]:
            out[q] = v

    for line in txt.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        for m in SECONDS_MAPS:
            for q, v in (doc.get(m) or {}).items():
                fold(q, v)
    if not out:
        for q, v in QVAL.findall(REGBLOCK.sub("", txt)):
            fold(q, v)
    if not out:
        raise SystemExit(f"no bench queries found in {path}")
    return out


def is_query_min(key, value):
    """A per-query seconds entry; anything else (e.g. the `_host_factors`
    object) is metadata that the min-fold must not compare against."""
    return key.startswith("q") and isinstance(value, (int, float))


def main(paths):
    best = {}
    if os.path.exists(BEST):
        best = json.load(open(BEST))
    meta = {k: v for k, v in best.items() if not is_query_min(k, v)}
    best = {k: v for k, v in best.items() if is_query_min(k, v)}
    for p in paths:
        for q, v in load_bench(p).items():
            if not is_query_min(q, v):
                continue
            if q not in best or v < best[q]:
                best[q] = v
    with open(BEST, "w") as f:
        json.dump({**meta, **best}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"{BEST}: {len(best)} queries")


if __name__ == "__main__":
    main(sys.argv[1:])
