#!/usr/bin/env python3
"""Benchmark of the ingest loop and the batch query surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

The first run builds the harness (perfbench/build.sbt, over the program's
sources in src/main/scala) and generates the query fixtures; later runs
reuse both. Each run launches one JVM (perfbench.Main), then checks the
outputs: the streaming workloads check delivery inside the JVM; for the
serve workload tools/check_parity.py compares every panel query with DuckDB
on its oracle SQL.
The last stdout line is one JSON object: correct, attempted, failed,
metrics (end-to-end with --trace 0, per-layer with --trace 1).

Workload settings, the layer map and the recorded baseline are in
perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sources_stamp():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the program; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build compiles against its jars")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "logs", "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             timeout=600)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if os.path.join("perfbench", "target") in l and ":" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def fixture_dir(sf):
    sys.path.insert(0, HERE)
    import fixture
    return fixture.ensure(os.path.join(WORK, "fixtures", f"sf{sf}"), sf)


def parity(fx, checks):
    """Compares each landed query result with DuckDB on its oracle SQL, with
    the program's own parity checker (tools/check_parity.py), which reads
    each result from <check dir>/<query>/; returns its FAIL lines."""
    check_dir = os.path.dirname(checks[0]["dir"])
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({c["query"]: c["sql"] for c in checks}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_parity.py"), fx,
                        check_dir, ",".join(c["query"] for c in checks)],
                       capture_output=True, text=True, timeout=120)
    fails = [l[5:] for l in p.stdout.splitlines() if l.startswith("FAIL ")]
    if p.returncode != 0 and not fails:
        fail(f"tools/check_parity.py exited {p.returncode}: {p.stderr.strip()[-300:]}", 3)
    return fails


def run(args, bench, cfg):
    wl = cfg["workloads"][args.workload]
    cp = build()
    sf = wl.get("smoke_sf" if args.smoke else "sf")
    fx = fixture_dir(sf) if sf is not None else ""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(WORK, "logs", f"{args.workload}.log")
    # a fixed, pre-touched heap keeps page faults of heap growth out of the
    # timings; peak_mem_mb subtracts it again (see workloads.json)
    cmd = (["java"] + OPENS + [f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}",
                               "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
                               f"-Djava.io.tmpdir={run_dir}/tmp",
                               "-Dspark.ui.enabled=false",
                               "-Dspark.sql.session.timeZone=UTC",
                               "-cp", cp, "perfbench.Main",
                               "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--work", run_dir, "--fixture", fx,
                               "--smoke", "1" if args.smoke else "0",
                               "--fault", args.fault, "--rate", str(wl.get("rate", 0))])
    t0 = time.time()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s; see {log}", 3)
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        fail(f"{args.workload} exited {rc}; see {log}", 3)
    res = load_json(res_file)
    res["notes"].append(f"jvm wall {time.time() - t0:.1f} s")
    failed = res["failed"]
    for line in parity(fx, res["checks"]) if res["checks"] else []:
        failed += 1
        res["notes"].append(f"oracle mismatch {line}")
    for n in res["notes"]:
        print(f"[perfbench] {n}")

    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    source = res["layers"] if args.trace else res["metrics"]
    out, missing = {}, []
    for n in names:
        if n in source:
            # null: no sample (every operation of the kind failed)
            v = source[n]["value"]
            out[n] = {"value": 0.0 if v is None else v, "unit": units[n]}
        else:
            # a layer this workload does not exercise
            out[n] = {"value": 0.0, "unit": units[n]}
            missing.append(n)
    attempted = max(int(res["attempted"]), 1)
    print(f"[perfbench] workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    for n in names:
        samples = source.get(n, {}).get("samples", 1 if n in source else 0)
        print(f"  {n:48s} {out[n]['value']:>16.6g} {out[n]['unit']:8s} n={samples}")
    print(f"  {'error_rate':48s} {failed / attempted:>16.6g} {'ratio':8s} "
          f"n={attempted} ({failed} failed)")
    if args.trace:
        # end-to-end figures of the traced run, for the tracing overhead
        for k, m in res["metrics"].items():
            print(f"  {'traced ' + k:48s} {m['value']:>16.6g} {m['unit']:8s} n={m['samples']}")
    for alias, metric in wl.get("aliases", {}).items():
        m = res["metrics"].get(metric) or res["layers"].get(metric)
        if m:
            print(f"  {alias:48s} = {metric} ({m['value']:.6g} {m['unit']}, "
                  f"n={m.get('samples', 1)})")
    if missing:
        print(f"[perfbench] not exercised by {args.workload} (reported as 0): "
              f"{', '.join(missing)}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": int(failed),
                      "metrics": out}))


def smoke(bench, cfg):
    """Runs every workload small, traced and not, and plants two faults.
    Asserts every named metric is printed with its unit and both faults
    are caught."""
    problems = []

    def once(wl, trace, fault="none"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", "7",
               "--seconds", "3", "--trace", str(trace), "--smoke-scale", "--fault", fault]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        print(p.stdout, end="")
        if p.returncode != 0:
            problems.append(f"{wl} trace={trace} fault={fault}: exit {p.returncode}: "
                            f"{p.stderr.strip()[-300:]}")
            return None
        return json.loads(p.stdout.strip().splitlines()[-1])

    for wl in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            r = once(wl, trace)
            if r is None:
                continue
            section = bench["per_layer" if trace else "end_to_end"]
            for m in section:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{wl} trace={trace}: metric {m['name']} missing or unitless")
            if not r["correct"]:
                problems.append(f"{wl} trace={trace}: outputs wrong on unmodified code")
    for wl, fault in (("ingest-live", "drop"), ("serve-small", "alter")):
        r = once(wl, 0, fault)
        if r is not None and (r["correct"] or r["failed"] < 1):
            problems.append(f"planted fault {fault} in {wl} was not caught")
    for p in problems:
        print(f"[smoke] FAIL {p}")
    print(f"[smoke] {'PASS' if not problems else 'FAIL'}")
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run the self-check")
    ap.add_argument("--smoke-scale", dest="smoke_scale", action="store_true",
                    help="one run at smoke scale (sf0.001, short streams)")
    ap.add_argument("--fault", default="none", choices=("none", "drop", "alter"),
                    help="plant a fault: drop one sink record / alter one query result")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    cfg = load_json(os.path.join(HERE, "workloads.json"))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    if args.smoke:
        sys.exit(smoke(bench, cfg))
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(cfg['workloads'])}")
    args.smoke = args.smoke_scale
    run(args, bench, cfg)


if __name__ == "__main__":
    main()
